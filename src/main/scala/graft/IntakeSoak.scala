package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.CorpusStream

/** Kill-heal soak for the streaming corpus intake: prove the
  * exactly-once story against a REAL process death, not a synthetic
  * partial-publish. CorpusStreamSpec already pins the replay laws by
  * deleting stores by hand; this main SIGKILLs a worker JVM somewhere
  * inside `applyBatch` — whatever subset of the batch's stores made it
  * to disk is whatever the filesystem happened to flush — then replays
  * the killed batch onward in a fresh JVM and requires the healed state
  * (corpus + hashes + BM25 postings/doclens) to be BYTE-IDENTICAL to a
  * clean uninterrupted run's.
  *
  * Orchestrator mode (default):
  *   sbt "runMain graft.IntakeSoak"            # 6 batches, kill in batch 3
  *   sbt "runMain graft.IntakeSoak 8 5"        # 8 batches, kill in batch 5
  * spawns worker JVMs directly (java -cp classes:spark-jars — two sbt
  * invocations cannot share the project lock) with the same
  * JavaModuleOptions build.sbt uses. The kill lands at a small random
  * delay after the worker prints `BATCH <k> START`; the orchestrator
  * then replays from the first batch that printed START without DONE.
  *
  * Worker mode: `graft.IntakeSoak worker <stateDir> <from> <to>` — runs
  * the deterministic arrival stream through applyBatch with flushed
  * progress lines.
  *
  * Output: one line `INTAKE_SOAK {"killed_batch":k,"digest_clean":…,
  * "digest_healed":…,"match":true}`. Recorded in COVERAGE.md.
  */
object IntakeSoak {

  /** Deterministic arrival stream — a pure function of the batch id, so
    * orchestrator, worker, and replay all see identical rows. Each batch
    * carries fresh docs, exact re-sends of PRIOR ids (standing-wins
    * lane), cross-batch content duplicates (exact hash lane), and token
    * mutations of prior docs (verified near-dup lane). */
  def arrivals(spark: SparkSession, b: Long): DataFrame = {
    import spark.implicits._
    val fresh = (0 until 80).map { i =>
      val id = b * 1000 + i
      (id, (0 until 30).map(j => s"tok_${(id * 31 + j * 7) % 211}_${j}").mkString(" "))
    }
    val resends = if (b == 0) Nil else (0 until 10).map { i =>
      val id = (b - 1) * 1000 + i
      (id, s"mutated in transit $id") // immutable-records contract: id wins
    }
    val contentDups = if (b == 0) Nil else (10 until 20).map { i =>
      val prior = (b - 1) * 1000 + i
      (b * 1000 + 900 + i,
        (0 until 30).map(j => s"tok_${(prior * 31 + j * 7) % 211}_${j}").mkString(" "))
    }
    val nearDups = if (b == 0) Nil else (20 until 26).map { i =>
      val prior = (b - 1) * 1000 + i
      // one token changed out of 30: verifies >= minAgree of 8 perms
      (b * 1000 + 950 + i, ((0 until 29).map(j =>
        s"tok_${(prior * 31 + j * 7) % 211}_${j}") :+ "tok_changed").mkString(" "))
    }
    (fresh ++ resends ++ contentDups ++ nearDups).toDF("doc_id", "text")
  }

  private def newSession(): SparkSession = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SHA-256 over the standing state: corpus rows, hash store, postings,
    * doclens — sorted row strings, store-layout independent. */
  private def digest(spark: SparkSession, stateDir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def fold(tag: String, df: Option[DataFrame]): Unit = {
      val rows = df.map(_.collect().map(r => s"$tag|${r.toSeq.mkString("|")}").sorted)
        .getOrElse(Array.empty[String])
      rows.foreach(s => md.update(s.getBytes("UTF-8")))
    }
    fold("corpus", CorpusStream.corpus(spark, stateDir))
    val idx = CorpusStream.index(spark, stateDir)
    fold("postings", idx.map(_.postings))
    fold("doclens", idx.map(_.docLens))
    md.digest().map(x => f"$x%02x").mkString.take(32)
  }

  private def runWorker(stateDir: String, from: Long, to: Long): Unit = {
    val spark = newSession()
    try (from until to).foreach { b =>
      println(s"BATCH $b START"); Console.flush()
      CorpusStream.applyBatch(spark, arrivals(spark, b), b, stateDir)
      println(s"BATCH $b DONE"); Console.flush()
    } finally spark.stop()
  }

  /** Launch a worker JVM with the classes dir + spark jars classpath and
    * the JDK-17 module opens build.sbt uses. */
  private def spawnWorker(stateDir: String, from: Long, to: Long): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jars = Option(new java.io.File("/opt/spark/jars").listFiles())
      .getOrElse(Array.empty).map(_.getPath)
    val cp = (new java.io.File("target/scala-2.13/classes").getAbsolutePath +: jars)
      .mkString(java.io.File.pathSeparator)
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx4g", "-cp", cp,
      "graft.IntakeSoak", "worker", stateDir, from.toString, to.toString)
    new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("worker", stateDir, from, to) =>
      runWorker(stateDir, from.toLong, to.toLong)

    case _ =>
      val n = args.lift(0).map(_.toLong).getOrElse(6L)
      val killBatch = args.lift(1).map(_.toLong).getOrElse(n / 2)
      val base = java.nio.file.Files.createTempDirectory("graft_intake_soak")
      val dirClean = s"$base/clean"
      val dirKill = s"$base/kill"

      // 1. KILL RUN first (worker JVMs; the orchestrator's own session
      // comes later so the digests are computed by one JVM)
      val w1 = spawnWorker(dirKill, 0L, n)
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(w1.getInputStream))
      var line: String = null
      var started = -1L
      val done = scala.collection.mutable.Set.empty[Long]
      val delayMs = 200 + scala.util.Random.nextInt(1500)
      var killed = false
      while (!killed && { line = rd.readLine(); line != null }) {
        line match {
          case s if s.startsWith("BATCH ") && s.endsWith(" START") =>
            started = s.split(" ")(1).toLong
            if (started == killBatch) {
              Thread.sleep(delayMs) // land the kill mid-applyBatch
              w1.destroyForcibly()  // SIGKILL — no shutdown hooks run
              killed = true
            }
          case s if s.startsWith("BATCH ") && s.endsWith(" DONE") =>
            done += s.split(" ")(1).toLong
          case _ => ()
        }
      }
      w1.waitFor()
      require(killed, s"worker finished before batch $killBatch started")
      require(!done.contains(killBatch),
        s"kill landed after batch $killBatch completed (delay $delayMs ms) — rerun")
      println(s"KILLED worker in batch $killBatch after ${delayMs} ms (pid dead: ${!w1.isAlive})")

      // 2. HEAL: fresh JVM replays from the killed batch onward
      val w2 = spawnWorker(dirKill, killBatch, n)
      val out2 = new String(w2.getInputStream.readAllBytes, "UTF-8")
      require(w2.waitFor() == 0, s"heal worker failed:\n${out2.takeRight(2000)}")

      // 3. CLEAN run + digests in the orchestrator's own session
      val spark = newSession()
      try {
        (0L until n).foreach(b =>
          CorpusStream.applyBatch(spark, arrivals(spark, b), b, dirClean))
        val dClean = digest(spark, dirClean)
        val dHealed = digest(spark, dirKill)
        val ok = dClean == dHealed
        println(s"""INTAKE_SOAK {"killed_batch":$killBatch,"kill_delay_ms":$delayMs,""" +
          s""""digest_clean":"$dClean","digest_healed":"$dHealed","match":$ok}""")
        if (!ok) sys.exit(1)
      } finally spark.stop()
  }
}
