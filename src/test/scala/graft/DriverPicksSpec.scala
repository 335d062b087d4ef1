package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed batch's driver-side picks: each driver twin equals the
  * Spark form it replaced, and a staged batch runs a bounded number of
  * jobs with no thread of its own. */
class DriverPicksSpec extends AnyFunSuite with GoldenHarness {

  protected lazy val spark = TestSpark.spark

  private val chunkCols = Seq("record_id", "section_idx", "role", "view_kind", "window_index",
    "overlap", "wtext")

  /** Every chunk row, through the sampler's own keyed read. */
  private def rowsOf(chunks: DataFrame): Seq[Recipes.ChunkRow] =
    Sampler.chunkRows(chunks, chunks.select(col("record_id")).distinct().collect()
      .map(_.getLong(0)).toSeq)

  test("selectChunksLocal == selectChunksBatch per slot (every mode; 0, 1 and many chunks; null text)") {
    val s = spark
    import s.implicits._
    val golden = goldenCorpus()._1.select(chunkCols.map(col): _*)
    // documents of 3 to 250 tokens: too short to chunk, one context
    // window, and many
    val varied = graft.queries.RecipeQueries.chunkTable((1 to 40).map(i =>
        (100L + i, (1 to (3 + (i * 37) % 248)).map(j => s"t${(i * j) % 17}").mkString(" ")))
      .toDF("doc_id", "text")).select(chunkCols.map(col): _*)
    // record 900: a null-text anchor and two context windows, one of them
    // null-text too; record 999 has no chunks at all
    val extra = Seq((900L, 0, "anchor", "window", 0, 4, null: String),
        (900L, 1, "context", "window", 0, 4, null: String),
        (900L, 1, "context", "window", 1, 4, "tail text"))
      .toDF(chunkCols: _*)
    val modes = Seq(("role", "anchor"), ("role", "context"), ("para", "0"), ("para", "1"),
      ("para", "7"), ("random", ""), ("role", "nope"))
    for ((fixture, table) <- Seq("golden" -> golden, "varied" -> varied)) {
      val chunks = table.unionByName(extra).cache()
      val ids = chunks.select(col("record_id")).distinct().collect().map(_.getLong(0)).sorted
      val recIds = ids.toSeq :+ 999L
      val draws = for (slot <- Seq("a", "p", "n", "t"); d <- 0 until 70) yield {
        val (m, a) = modes((d + slot.head) % modes.size)
        Recipes.ChunkDraw(slot, 1000L + d, recIds((d * 7 + slot.head) % recIds.size), m, a)
      }
      def key(slot: String, draw: Long, rid: Long, sidx: Any, widx: Any, text: String) =
        s"$slot|$draw|$rid|$sidx|$widx|$text"
      val local = Recipes.selectChunksLocal(rowsOf(chunks), draws).map { case (d, c) =>
        key(d.slot, d.draw, c.recordId, c.sectionIdx.get, c.windowIndex.get, c.wtext)
      }
      val viaSpark = draws.groupBy(_.slot).toSeq.flatMap { case (slot, ds) =>
        val modeDf = ds.map(d => (d.draw, d.mode, d.arg)).toDF("draw", "mode", "arg")
        val recDf = ds.map(d => (d.draw, d.recordId)).toDF("draw", "record_id")
        Recipes.selectChunksBatch(chunks, modeDf, slot).join(recDf, Seq("draw", "record_id"))
          .collect().map(r => key(slot, r.getAs[Long]("draw"), r.getAs[Long]("record_id"),
            r.getAs[Int]("section_idx"), r.getAs[Int]("window_index"), r.getAs[String]("wtext")))
      }
      val (onlyLocal, onlySpark) = (local.diff(viaSpark), viaSpark.diff(local))
      assert(onlyLocal.isEmpty && onlySpark.isEmpty, s"$fixture: driver picks diverge in " +
        s"${onlyLocal.size} draws, e.g. ${onlyLocal.take(2)} vs ${onlySpark.take(2)}")
      // the fixture exercises what the law is about: draws with no, one
      // and several eligible chunks, and a null text picked
      val byRec = rowsOf(chunks).groupBy(_.recordId)
      val eligible = draws.map { d =>
        byRec.getOrElse(d.recordId, Nil).count(c => d.mode match {
          case "role" => c.role == d.arg
          case "para" => c.sectionIdx.contains(d.arg.toLong)
          case _ => true
        })
      }
      assert(eligible.contains(0) && eligible.contains(1) && eligible.exists(_ > 1), fixture)
      assert(local.exists(_.endsWith("|null")), s"$fixture: no null-text pick")
      chunks.unpersist()
    }
  }

  test("a staged mixed_strategy batch runs <= 8 jobs, each under a named phase") {
    val (_, recipes, dated, _) = goldenMatrix.find(_._1 == "mixed_strategy").get
    val (chunks, pool) = goldenCorpus(dated = dated)
    val (ranks, stats) = PoolRankIndex.stage(pool)
    def draw(st: SamplerState) = Sampler.nextBatch(spark, chunks, pool, recipes, st, 8,
      rankIndex = Some(ranks), srcStats = Some(stats)).core.collect()
    val st0 = SamplerState("gm:mixed_strategy", 0L, Map.empty)
    draw(st0) // warm-up: codegen and the cached chunk derivation
    // an epoch-0 batch (4 jobs: slot records, a/p chunk rows, negative
    // targets, n chunk rows), then one that straddles the epoch-1 wrap
    // (its epoch-1 slots add the per-source rank window and the anchors'
    // sidecar read: 8). The composed sampler ran 20 jobs per epoch-0
    // batch before its picks moved to the driver.
    val st3 = Sampler.advanceState(st0, 24, stats.map(_._2).sum)
    for (st <- Seq(st0, st3)) {
      val run = Profile.jobsIn(spark.sparkContext, "driver-picks") { draw(st) }
      assert(run.result.nonEmpty)
      assert(run.jobs.size <= 8,
        s"${run.jobs.size} jobs at $st:\n${run.jobs.map(_.description).mkString("\n")}")
      assert(run.jobs.forall(_.description.startsWith("sampler.")),
        run.jobs.map(_.description).mkString("\n"))
    }
    // decorating the picked texts is a projection over driver rows: the
    // decorated config runs exactly the jobs of the same batch undecorated
    val (dchunks, dpool) = goldenCorpus()
    val (dranks, dstats) = PoolRankIndex.stage(dpool)
    def jobs(dec: Option[(graft.functions.KvpPrefixSampler, Int)]) = {
      def b() = Sampler.nextBatch(spark, dchunks, dpool, goldenRecipes, st0, 8, dec,
        rankIndex = Some(dranks), srcStats = Some(dstats)).core.collect()
      b()
      Profile.jobsIn(spark.sparkContext, "driver-picks-dec")(b()).jobs.size
    }
    assert(jobs(goldenDecoration) == jobs(None))
  }

  test("Profile.phase names its jobs and restores the caller's description") {
    val sc = spark.sparkContext
    val run = Profile.jobsIn(sc, "phase-spec") {
      Profile.phase(spark, "outer") {
        sc.parallelize(1 to 4, 1).count()
        Profile.phase(spark, "inner")(sc.parallelize(1 to 4, 1).count())
        sc.parallelize(1 to 4, 1).count()
      }
      sc.parallelize(1 to 4, 1).count()
    }
    // "<phase>: <call site>", or the bare call site outside any phase
    assert(run.jobs.map(_.description.split(": ", 2)).map(p => if (p.size == 2) p(0) else "")
      == Seq("outer", "inner", "outer", ""), run.jobs.map(_.description))
    sc.setJobDescription("caller")
    try {
      Profile.phase(spark, "x")(())
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("Sampler.scala starts no thread and cuts no lineage") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/operators/Sampler.scala")), "UTF-8")
    for (banned <- Seq("new Thread", "FutureTask", "localCheckpoint"))
      assert(!src.contains(banned), s"Sampler.scala contains `$banned`")
  }
}
