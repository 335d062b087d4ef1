package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The job profiler: one listener, one query runner and the plan dumper.
  *
  * `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Profile q58"` runs the
  * query once through the `noop` sink to warm up, then once more, and
  * prints the wall time, each job's time and description, the union of
  * the job intervals against the driver gaps between them, and the stages
  * by RDD scope with their task counts. Tokens resolve like `q58` →
  * `q58_bm25_composed_batch`.
  *
  * `sbt "runMain graft.Profile --plan <dir> <suffix> <q>..."` writes each
  * query's `explain("formatted")` to `<dir>/<query>_<suffix>.txt` (the plan
  * evidence under `plans/`). The session is PlanDump's (`local[8]`, AQE
  * off) so the static plan reads whole; a suffix containing `aqe` instead
  * uses the default session, executes the query's own `QueryExecution`
  * first and dumps the final adaptive plan with its coalesced shuffle
  * reads.
  *
  * Session settings come from [[Sessions]]: `SPARK_GRAFT_CPUS` and
  * `-Dspark.*` JVM properties.
  */
object Profile {

  /** The local property that carries a job's description. */
  private val JobDescription = "spark.job.description"

  final case class Job(id: Int, startMs: Long, endMs: Long, description: String)
  final case class Stage(scope: String, ms: Long, tasks: Int)
  final case class Run[T](result: T, jobs: Seq[Job], stages: Seq[Stage])

  /** Runs `body` under job group `group` and returns what it returned with
    * the jobs it started (from this thread or threads it spawned) and
    * their completed stages. Listener delivery is asynchronous, so a
    * sentinel job queued after `body` marks the end of its events. */
  def jobsIn[T](sc: SparkContext, group: String)(body: => T): Run[T] = {
    val sentinelGroup = s"$group.sentinel"
    val starts = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val stages = new ConcurrentLinkedQueue[(Int, Stage)]()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        prop("spark.jobGroup.id") match {
          case Some(`group`) =>
            // the result stage (highest id) is named after the job's call site
            val site = j.stageInfos.maxByOption(_.stageId).map(_.name)
            // a phase's description (see `phase`) names the job ahead of
            // its call site; the group's own description is no name
            val phase = prop(JobDescription).filter(_ != group)
            starts.put(j.jobId, (j.time,
              (phase.toSeq :+ prop("callSite.short").orElse(site).getOrElse("?")).mkString(": "),
              j.stageIds))
          case Some(`sentinelGroup`) => sentinel.countDown()
          case _ => ()
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (starts.containsKey(j.jobId)) ends.put(j.jobId, j.time)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
        // the RDD scope chain names the operators the stage computes
        // (Exchange, WholeStageCodegen, checkpoint, ...), far more telling
        // than the uniform AQE call site
        val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct.take(6).mkString("|")
        stages.add(si.stageId -> Stage(s"${si.name.take(40)} [$scopes]", ms, si.numTasks))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinelGroup, "listener sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(sentinel.await(30, TimeUnit.SECONDS), s"listener events for $group never arrived")
      val jobs = starts.asScala.toSeq.map { case (id, (t0, d, _)) =>
        Job(id, t0, ends.asScala.getOrElse(id, t0), d)
      }.sortBy(_.id)
      val ours = starts.values.asScala.flatMap(_._3).toSet
      Run(result, jobs, stages.asScala.toSeq.collect { case (id, st) if ours(id) => st })
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with `name` as the job description of every job it
    * starts on this thread — how a composed phase's jobs are attributed
    * (`jobsIn` and `graft.Profile <q>` print it ahead of the call site) —
    * and restores the caller's description afterwards. The job group is
    * untouched, so group-keyed listeners attribute as before; no job is
    * added and no result changes. */
  def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(name)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }

  /** Length of the union of `[start, end)` spans, and the holes between
    * consecutive union intervals as (hole start, hole length), in time
    * order. Inside one query run the holes are the driver's time between
    * jobs: planning, optimizing and collecting. */
  def busyAndGaps(spans: Seq[(Long, Long)]): (Long, Seq[(Long, Long)]) = {
    val sorted = spans.sortBy(_._1)
    var busy = 0L
    val gaps = Seq.newBuilder[(Long, Long)]
    sorted.headOption.foreach { case (s0, _) =>
      var cursor = s0
      sorted.foreach { case (s, t) =>
        if (s > cursor) gaps += ((cursor, s - cursor))
        if (t > cursor) { busy += t - math.max(s, cursor); cursor = t }
      }
    }
    (busy, gaps.result())
  }

  /** The registered query `tok` names: itself, or `tok_...`. */
  private def resolve(tok: String): String = SparkEntry.queries.keys.toSeq.sorted
    .find(n => n == tok || n.startsWith(tok + "_"))
    .getOrElse(sys.error(s"no query matches $tok"))

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    sys.error("set SPARK_GRAFT_SF_DIR to a generated data directory"))

  def main(args: Array[String]): Unit = args.toList match {
    case "--plan" :: dir :: suffix :: toks if toks.nonEmpty => dumpPlans(dir, suffix, toks)
    case tok :: Nil => profile(resolve(tok))
    case _ => sys.error("usage: Profile <query> | Profile --plan <dir> <suffix> <query>...")
  }

  private def profile(name: String): Unit = {
    val sf = sfDir
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    def run(): Unit = SparkEntry.queries(name)(spark, sf).write.mode("overwrite")
      .format("noop").save()
    try {
      run() // warm-up: codegen, parquet footers, JIT
      val r = jobsIn(spark.sparkContext, "graft.profile") {
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }
      def s(ms: Long) = ms / 1000.0
      val conf = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      println(conf.map(k => s"$k=${spark.conf.get(k)}").mkString(s"$name (", ", ", ")"))
      println(f"  wall ${r.result}%.2f s, jobs=${r.jobs.size}")
      r.jobs.sortBy(j => j.startMs - j.endMs).foreach { j =>
        println(f"  job ${j.id}%4d ${s(j.endMs - j.startMs)}%6.2f s  ${j.description.take(90)}")
      }
      val (busy, gaps) = busyAndGaps(r.jobs.map(j => (j.startMs, j.endMs)))
      println(f"  job-interval union ${s(busy)}%.2f s; inter-job gaps ${s(gaps.map(_._2).sum)}%.2f s")
      val first = r.jobs.map(_.startMs).minOption.getOrElse(0L)
      gaps.sortBy(-_._2).take(8).foreach { case (at, g) =>
        println(f"    gap ${s(g)}%5.2f s after +${s(at - first)}%.2f s")
      }
      println("stages by RDD scope (time, count, tasks):")
      r.stages.groupBy(_.scope).toSeq
        .map { case (scope, ss) => (scope, ss.map(_.ms).sum, ss.size, ss.map(_.tasks).sum) }
        .sortBy(-_._2).take(20).foreach { case (scope, ms, n, tasks) =>
          println(f"  ${s(ms)}%6.2f s  x$n%-3d tasks=$tasks%-5d $scope")
        }
    } finally spark.stop()
  }

  private def dumpPlans(dir: String, suffix: String, toks: Seq[String]): Unit = {
    val sf = sfDir
    val out = Paths.get(dir)
    Files.createDirectories(out)
    val aqe = suffix.contains("aqe")
    val spark = if (aqe) Sessions.local()
      else Sessions.local(8, Map("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    try toks.map(resolve).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      // execute THIS QueryExecution's own RDD (a .write would plan a fresh
      // one and leave this plan isFinalPlan=false)
      if (aqe) df.queryExecution.toRdd.foreachPartition(_ => ())
      val plan = df.queryExecution.explainString(FormattedMode)
      Files.writeString(out.resolve(s"${name}_$suffix.txt"), plan)
      println(s"wrote ${name}_$suffix.txt (${plan.linesIterator.size} lines)")
    } finally spark.stop()
  }
}
