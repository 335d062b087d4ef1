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

  /** The golden `mixed_strategy` fixture, its staged rank index, and a
    * batch draw over them. */
  private def mixedStrategy() = {
    val (_, recipes, dated, _) = goldenMatrix.find(_._1 == "mixed_strategy").get
    val (chunks, pool) = goldenCorpus(dated = dated)
    val (ranks, stats) = PoolRankIndex.stage(pool)
    def draw(st: SamplerState, batch: Int = 8) = Sampler.nextBatch(spark, chunks, pool,
      recipes, st, batch, rankIndex = Some(ranks), srcStats = Some(stats))
    (draw _, stats.map(_._2).sum)
  }

  private val mixedSeed = SamplerState("gm:mixed_strategy", 0L, Map.empty)

  test("a staged mixed_strategy batch runs <= 8 jobs, each under a named phase") {
    val (drawBatch, poolSize) = mixedStrategy()
    def draw(st: SamplerState) = drawBatch(st, 8).core.collect()
    val st0 = mixedSeed
    draw(st0) // warm-up: codegen and the cached chunk derivation
    // an epoch-0 batch (4 jobs: slot records, a/p chunk rows, negative
    // targets, n chunk rows), one that straddles the epoch-1 wrap (its
    // epoch-1 slots add a second slot-record read, and the first batch of
    // an epoch stages its ranks: 7), then one wholly inside epoch 1, after
    // its ranks are staged (the epoch-0 shape: 4). The composed sampler
    // ran 20 jobs per epoch-0 batch before its picks moved to the driver.
    val st3 = Sampler.advanceState(st0, 24, poolSize)
    val st4 = Sampler.advanceState(st3, 8, poolSize)
    assert(st4.epoch == 1L && st4.counter("cursor") + 8 <= poolSize)
    for ((st, bound) <- Seq(st0 -> 4, st3 -> 8, st4 -> 4)) {
      val run = Profile.jobsIn(spark.sparkContext, "driver-picks") { draw(st) }
      assert(run.result.nonEmpty)
      assert(run.jobs.size <= bound,
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

  test("each epoch is staged once, also by two producers; two are kept") {
    val sc = spark.sparkContext
    def staged() = sc.getPersistentRDDs.values
      .filter(r => Option(r.name).exists(_.startsWith("epoch "))).map(_.id).toSet
    def stageJobs(run: Profile.Run[_]) =
      run.jobs.count(_.description.startsWith("sampler.epoch_stage"))
    // one producer: the first batch of epoch 1 stages its ranks, the next
    // reuses them
    val (drawOne, poolSize) = mixedStrategy()
    val e1 = Sampler.advanceState(mixedSeed, poolSize.toInt, poolSize)
    val before = staged()
    val one = Profile.jobsIn(sc, "stage-one")(drawOne(e1, 4).core.collect())
    val again = Profile.jobsIn(sc, "stage-again")(
      drawOne(Sampler.advanceState(e1, 4, poolSize), 4).core.collect())
    assert(stageJobs(one) > 0 && stageJobs(again) == 0)
    assert((staged() -- before).size == 1)
    // two concurrent producers entering epoch 1 of a fresh rank index:
    // the same staging jobs as one producer, and one staged frame
    val (drawTwo, _) = mixedStrategy()
    val before2 = staged()
    val go = new java.util.concurrent.CountDownLatch(1)
    val two = Profile.jobsIn(sc, "stage-two") {
      val producers = Seq(e1, Sampler.advanceState(e1, 4, poolSize)).map { st =>
        val t = new Thread(() => { go.await(); drawTwo(st, 4).core.collect(); () })
        t.start(); t
      }
      go.countDown()
      producers.foreach(_.join())
    }
    assert(stageJobs(two) == stageJobs(one), two.jobs.map(_.description).mkString("\n"))
    assert((staged() -- before2).size == 1)
    // epochs 2 and 3 stage theirs and drop the oldest: two stay
    for (e <- 2 to 3) drawTwo(Sampler.advanceState(mixedSeed, e * poolSize.toInt, poolSize), 4)
      .core.collect()
    val kept = staged() -- before2
    assert(kept.size == 2, kept)
  }

  test("steady batches compile no generated code (epoch 0, epoch 1, bm25)") {
    // every per-batch read's generated code is independent of its keys,
    // so after warm-up a serving loop compiles nothing: 8 steady batches
    // of 2 at epoch 0 and at epoch 1 (inside one 25-record epoch each)
    val (draw, poolSize) = mixedStrategy()
    def compiles(sts: Seq[SamplerState])(batch: SamplerState => SamplerBatch): Long = {
      val c0 = Profile.compiledClasses
      sts.foreach { st => val b = batch(st); b.core.collect(); b.rows.collect() }
      Profile.compiledClasses - c0
    }
    def steady(from: SamplerState, n: Int) =
      Iterator.iterate(from)(Sampler.advanceState(_, 2, poolSize)).take(n).toSeq
    for (epoch <- Seq(0L, 1L)) {
      val sts = steady(Sampler.advanceState(mixedSeed, (epoch * poolSize).toInt, poolSize), 10)
      assert(sts.last.epoch == epoch && sts.last.counter("cursor") + 2 <= poolSize)
      compiles(sts.take(2))(draw(_, 2)) // warm-up (epoch 1: stages its ranks)
      val n = compiles(sts.drop(2))(draw(_, 2))
      assert(n == 0, s"$n classes compiled over 8 steady epoch-$epoch batches")
    }
    // a BM25-backend batch adds the scoring join over keyed term reads
    val (_, bmRecipes, _, _) = goldenMatrix.find(_._1 == "bm25").get
    val (chunks, pool) = goldenCorpus(lexical = true)
    val (ranks, stats) = PoolRankIndex.stage(pool)
    val ix = Bm25PoolIndex.fromPool(pool)
    val bm25 = Bm25PoolIndex(ix.postings, ix.srcStats, ix.wterm.localCheckpoint())
    def bmDraw(st: SamplerState) = Sampler.nextBatch(spark, chunks, pool, bmRecipes, st, 4,
      bm25Index = Some(bm25), rankIndex = Some(ranks), srcStats = Some(stats))
    val bmSts = Iterator.iterate(SamplerState("gm:bm25", 0L, Map.empty))(
      Sampler.advanceState(_, 4, stats.map(_._2).sum)).take(3).toSeq
    compiles(bmSts.take(2))(bmDraw)
    val bmN = compiles(bmSts.drop(2))(bmDraw)
    assert(bmN == 0, s"$bmN classes compiled over a steady bm25 batch")
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
