package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{BatchPrefetcher, Sampler, SamplerState}
import graft.queries.{PerfbenchAccess, RecipeQueries}
import graft.streaming.CorpusStream

/** One op of a run: its index in the op sequence, whether it fell in the
  * timed window, its wall time and clock bounds, and its output
  * fingerprint (None when it failed). */
final case class OpRec(index: Int, timed: Boolean, wallS: Double, startMs: Long, endMs: Long,
    error: Option[String], fp: Option[Fingerprint])

trait Workload {
  /** Generate inputs, set up, warm up, run the timed window; returns every
    * op, warm-up included. Input generation is never inside a timing. */
  def run(): Seq[OpRec]
  /** Ops every run completes (warm-up + the window's minimum): the printed
    * fingerprint covers exactly these, so any two runs can compare it. */
  def guaranteedOps: Int
}

object Workload {
  /** Warm-up has levelled off when its last op took at most 20% longer
    * than the timed window's median. Each workload runs a fixed number of
    * warm-up ops, read off its latency curve, so every run times the same
    * stretch of it; the check is reported with the result, not used to
    * stop. */
  def levelled(warm: Seq[Double], p50: Double): Boolean =
    warm.nonEmpty && p50 > 0 && warm.last <= 1.2 * p50

  /** Indexes of ops whose fingerprint differs from its pin. */
  def checkFingerprints(ops: Seq[OpRec], pins: Option[Seq[String]], ctx: Ctx): Set[Int] =
    pins match {
      case None => Set.empty
      case Some(p) =>
        ops.filter(o => o.fp.nonEmpty).flatMap { o =>
          if (o.index >= p.size) { ctx.problem(s"op ${o.index} has no pinned fingerprint"); Some(o.index) }
          else if (o.fp.get.hex != p(o.index)) {
            ctx.problem(s"op ${o.index} fingerprint ${o.fp.get.hex} != pinned ${p(o.index)}")
            Some(o.index)
          } else None
        }.toSet
    }

  /** The warm-up evidence and window numbers every workload reports. */
  def summarize(ctx: Ctx, ops: Seq[OpRec], windowS: Double, gcMs: Long, cpuNs: Long): Unit = {
    ops.foreach(o => o.error.foreach(e => ctx.problem(s"op ${o.index} failed: $e")))
    val warm = ops.filterNot(_.timed).map(_.wallS)
    val timed = ops.filter(_.timed)
    val ok = timed.filter(_.error.isEmpty).map(_.wallS)
    val (p50, n) = if (ok.nonEmpty) Stats.median(ok) else (0.0, 0)
    ctx.e2e("op_p50_s") = p50
    ctx.e2e("ops_per_s") = if (windowS > 0) timed.size / windowS else 0.0
    ctx.info("op_p50_n") = n
    ctx.info("window_s") = windowS
    ctx.info("warmup_s") = warm
    ctx.info("warmup_levelled") = levelled(warm, p50)
    ctx.info("timed_s") = timed.map(_.wallS)
    if (warm.nonEmpty && p50 > 0) ctx.info("warmup_tail_over_p50") = warm.last / p50
    val nOps = math.max(1, timed.size)
    ctx.layers("jvm.gc_s") = gcMs / 1e3 / nOps
    ctx.layers("jvm.cpu_s") = cpuNs / 1e9 / nOps
  }

  /** Sequential warm-up + timed window for workloads whose ops run one at
    * a time on the driver thread. `op(i, timed)` runs op i. */
  def sequential(ctx: Ctx, maxOps: Int, minOps: Int, warmOps: Int)(op: (Int, Boolean) => OpRec)
      : Seq[OpRec] = {
    val recs = mutable.ArrayBuffer[OpRec]()
    while (recs.size < warmOps) recs += op(recs.size, false)
    ctx.mark("warm")
    val gc0 = ctx.gcMillis; val cpu0 = ctx.cpuNanos
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var timed = 0
    while ((elapsed < ctx.args.seconds || timed < minOps) && recs.size < maxOps) {
      recs += op(recs.size, true); timed += 1
    }
    summarize(ctx, recs.toSeq, elapsed, ctx.gcMillis - gc0, ctx.cpuNanos - cpu0)
    ctx.mark("window")
    sparkLayers(ctx, recs.toSeq)
    recs.toSeq
  }

  def sparkLayers(ctx: Ctx, ops: Seq[OpRec]): Unit = ctx.listener.foreach { l =>
    l.quiesce()
    val timed = ops.filter(_.timed)
    val w = timed.map(o => Layers.OpWindow(opId(ctx, o.index), o.startMs, o.endMs))
    val (lo, hi) = if (timed.isEmpty) (0L, 0L) else (timed.map(_.startMs).min, timed.map(_.endMs).max)
    Layers.spark(l, w, lo, hi).foreach { case (k, v) => ctx.layers(k) = v }
  }

  def opId(ctx: Ctx, i: Int): String = s"${ctx.args.workload}-$i"

  /** Time `body` as op `i`, catching its failure into the record. */
  def timeOp[T](ctx: Ctx, i: Int, timed: Boolean, name: String)(body: => T)(fp: T => Fingerprint)
      : OpRec = {
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = try Right(ctx.tracer.op(opId(ctx, i), name)(body)) catch { case e: Exception => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    OpRec(i, timed, wall, ms0, System.currentTimeMillis(),
      r.left.toOption.map(_.toString.take(300)), r.toOption.map(fp))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The index dirs a staged bundle reads from (parents of its files). */
  def indexDirs(frames: DataFrame*): Seq[String] =
    frames.flatMap(_.inputFiles).map(f => new java.io.File(new java.net.URI(f).getPath).getParent)
      .distinct

  /** Bytes of the regular files under `paths` (files or directories). */
  def bytesUnder(paths: Seq[String]): Long = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    paths.map(Paths.get(_)).filter(Files.exists(_)).map { p =>
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }.sum
  }
}

/** `serve`: the trainer's path. Set-up stages the mix serving bundle into
  * an empty index dir; then `Sampler.nextBatch` (batch 48, seed `mix`)
  * runs through a `BatchPrefetcher` with nproc/2 producers while one
  * consumer drains each batch as it arrives (closed loop). One op is one
  * batch, `rows.collect()` included, timed on its producer thread. */
final class Serve(ctx: Ctx) extends Workload {
  private val Docs = 5000L // the sf0.1 documents table's size
  private val MaxOps = 64
  private val MinOps = 6
  // Serving latency keeps falling slowly (JIT) for about 40 batches, more
  // than a run can afford to wait; by batch 8 it is within about 20% of
  // the window's latency, and every run times the same stretch after it.
  private val WarmOps = 8
  private def base = ctx.dir("data/serve")
  def guaranteedOps: Int = WarmOps + MinOps

  def run(): Seq[OpRec] = {
    // staging needs the corpus, so it is written before set-up
    DataGen.documents(ctx.args.seed, Docs, base)
    ctx.mark("generated")
    val tr = ctx.tracer
    var bundle: (DataFrame, DataFrame, Seq[graft.operators.TripletRecipe], DataFrame,
      Option[Seq[(String, Long)]]) = null
    ctx.setup {
      val t0 = System.nanoTime()
      val chunks = tr.phase("staging.chunk_index")(PerfbenchAccess.stageChunks(ctx.spark, base))
      val t1 = System.nanoTime()
      val ranks = tr.phase("staging.rank_index")(PerfbenchAccess.stageRanks(ctx.spark, base))
      val t2 = System.nanoTime()
      bundle = tr.phase("staging.load")(RecipeQueries.mixServing(ctx.spark, base))
      val bytes = Workload.bytesUnder(Workload.indexDirs(chunks, ranks._1)).toDouble
      ctx.layers("staging.chunk_index_s") = (t1 - t0) / 1e9
      ctx.layers("staging.rank_index_s") = (t2 - t1) / 1e9
      ctx.layers("staging.bytes") = bytes
      ctx.e2e("stored_bytes_per_doc") = bytes / Docs
    }

    val (chunks, pool, recipes, ridx, stats) = bundle
    val spark = ctx.spark
    val batch = PerfbenchAccess.MixBatch
    val poolSize = stats.getOrElse(sys.error("staged mix index lacks per-source stats")).map(_._2).sum
    val states = mutable.ArrayBuffer(SamplerState(PerfbenchAccess.MixSeed, 0L, Map.empty))
    def stateFor(i: Long): SamplerState = states.synchronized {
      while (states.size <= i) states += Sampler.advanceState(states.last, batch, poolSize)
      states(i.toInt)
    }
    final case class Parts(nextBatchS: Double, rowsS: Double, rows: Int)
    val recs = new java.util.concurrent.ConcurrentHashMap[Long, (OpRec, Parts)]()
    def produce(i: Long): Unit = {
      var nb = 0.0; var rs = 0.0; var n = 0
      val rec = Workload.timeOp(ctx, i.toInt, timed = false, "serve.batch") {
        val t0 = System.nanoTime()
        val b = tr.phase("sampler.next_batch")(
          Sampler.nextBatch(spark, chunks, pool, recipes, stateFor(i), batch,
            rankIndex = Some(ridx), srcStats = stats))
        val t1 = System.nanoTime()
        val rows = tr.phase("sampler.rows")(b.rows.collect())
        nb = (t1 - t0) / 1e9; rs = Workload.seconds(t1); n = rows.length
        if (n != batch) sys.error(s"batch $i delivered $n rows, expected $batch")
        rows
      }(rows => Fingerprint.ofRows(rows))
      recs.put(i, (rec, Parts(nb, rs, n)))
      rec.error.foreach(e => throw new RuntimeException(e)) // counted by the prefetcher
    }

    val par = math.max(1, ctx.cpus / 2)
    final case class Take(i: Long, waitS: Double, queueLen: Int)
    val takes = mutable.ArrayBuffer[Take]()
    // batch 0 runs alone as a latency probe; producer k then starts k/par
    // of that latency late, so the producers do not run in lock-step and
    // deliveries arrive spread out rather than in bursts of `par`
    val tProbe = System.nanoTime()
    try produce(0L) catch { case _: Exception => () }
    takes += Take(0L, Workload.seconds(tProbe), 0)
    val staggerMs = (recs.get(0L)._1.wallS * 1000 / par).toLong
    ctx.info("producers") = par
    ctx.info("producer_stagger_ms") = staggerMs
    val pf = new BatchPrefetcher[Unit](capacity = 2, i => produce(i + 1), parallelism = par,
      startStaggerMs = staggerMs)
    var from = 0L // first timed take
    var windowS = 0.0; var gcMs = 0L; var cpuNs = 0L
    try {
      def take(): Unit = {
        val q = pf.queueLen
        val t0 = System.nanoTime()
        try pf.next() catch { case _: Exception => () } // recorded by produce
        takes += Take(takes.size.toLong, Workload.seconds(t0), q)
      }
      // warm-up drains the prefetcher's head start: every batch in flight
      // when the window opens was claimed during warm-up
      while (takes.size < math.max(WarmOps, pf.productionWindow + 1)) take()
      from = takes.size.toLong
      ctx.mark("warm")
      val gc0 = ctx.gcMillis; val cpu0 = ctx.cpuNanos
      val t0 = System.nanoTime()
      var timed = 0
      // the window closes on a whole round of the producers: deliveries
      // can come in bunches of `par`, and a window cut inside one would
      // count part of it
      while ((Workload.seconds(t0) < ctx.args.seconds || timed < MinOps || timed % par != 0)
          && takes.size < MaxOps) {
        take(); timed += 1
      }
      windowS = Workload.seconds(t0); gcMs = ctx.gcMillis - gc0; cpuNs = ctx.cpuNanos - cpu0
      ctx.mark("window")
      ctx.layers("prefetch.errors") = pf.errorCount.toDouble
    } finally {
      pf.close()
      spark.sparkContext.cancelAllJobs()
    }
    val ops = takes.toSeq.map(t => recs.get(t.i)._1.copy(timed = t.i >= from))
    Workload.summarize(ctx, ops, windowS, gcMs, cpuNs)
    val timedTakes = takes.filter(_.i >= from).toSeq
    val parts = timedTakes.map(t => recs.get(t.i)._2)
    ctx.layers("prefetch.take_wait_s") = Stats.mean(timedTakes.map(_.waitS))
    ctx.layers("prefetch.queue_len") = Stats.mean(timedTakes.map(_.queueLen.toDouble))
    val okParts = parts.filter(_.rows > 0)
    if (okParts.nonEmpty) {
      ctx.layers("sampler.next_batch_s") = Stats.median(okParts.map(_.nextBatchS))._1
      ctx.layers("sampler.rows_s") = Stats.median(okParts.map(_.rowsS))._1
      ctx.layers("sampler.rows_per_batch") = Stats.mean(okParts.map(_.rows.toDouble))
    }
    Workload.sparkLayers(ctx, ops)
    ops
  }
}

/** `intake`: the write path. Arrival shards (fresh docs, id re-sends,
  * exact duplicates, one-token near-duplicates) go through
  * `CorpusStream.applyBatch` in order against one state dir that grows
  * over the run. One op is one shard. */
final class Intake(ctx: Ctx) extends Workload {
  private val MaxOps = 24
  // A window holds at least 4 shards, so its median has 4 samples.
  private val MinOps = 4
  // Shard 0 pays the cold start (its plans see an empty state) and shard 1
  // compiles the plans that read a standing state; from shard 3 on the
  // latency sits within about 10% of the window's median.
  private val WarmOps = 3
  def guaranteedOps: Int = WarmOps + MinOps
  private val mix = DataGen.mix(scale = 10)
  private def data = ctx.dir("data/intake")
  private def state = ctx.dir("state/intake")
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  def run(): Seq[OpRec] = {
    DataGen.intakeShards(ctx.args.seed, mix, MaxOps, data)
    ctx.mark("generated")
    ctx.setup(())
    val spark = ctx.spark
    val survivors = mutable.Map[Int, Long]()
    val applyS = mutable.Map[Int, Double]()
    val ops = Workload.sequential(ctx, MaxOps, MinOps, WarmOps) { (k, timed) =>
      Workload.timeOp(ctx, k, timed, "intake.batch") {
        val t0 = System.nanoTime()
        val n = ctx.tracer.phase("intake.apply_batch")(
          CorpusStream.applyBatch(spark, spark.read.schema(schema).parquet(s"$data/shard=$k"),
            k.toLong, state))
        applyS(k) = Workload.seconds(t0)
        survivors(k) = n
        n
      }(_ => Fingerprint.Empty)
    }
    // survivors: every fresh doc, plus at most the near-duplicates whose
    // signatures fall short of the agreement threshold
    ops.filter(_.error.isEmpty).foreach { o =>
      val n = survivors(o.index)
      val hi = if (o.index == 0) mix.fresh else mix.fresh + mix.nearDups
      if (n < mix.fresh || n > hi)
        ctx.problem(s"shard ${o.index}: $n survivors outside [${mix.fresh}, $hi]")
    }
    checkState(spark)
    val fps = perBatchFingerprints(spark)
    val timed = ops.filter(o => o.timed && o.error.isEmpty)
    val outBytes = timed.map(o => Workload.bytesUnder(
      Seq("corpus", "hashes", "sigs", "bm25").map(s => s"$state/$s/b${o.index}")))
    val arrivals = timed.map(o => mix.rows(o.index).toLong)
    if (timed.nonEmpty) {
      ctx.e2e("stored_bytes_per_doc") = outBytes.sum.toDouble / arrivals.sum
      ctx.layers("intake.apply_batch_s") = Stats.median(timed.map(o => applyS(o.index)))._1
      ctx.layers("intake.survivors") = Stats.mean(timed.map(o => survivors(o.index).toDouble))
      ctx.layers("intake.admit_ratio") = timed.map(o => survivors(o.index)).sum.toDouble / arrivals.sum
    }
    ctx.layers("intake.state_bytes") = Workload.bytesUnder(Seq(state)).toDouble
    ops.map(o => if (o.error.nonEmpty) o else o.copy(fp = Some(fps.getOrElse(o.index, Fingerprint.Empty))))
  }

  /** The standing state's exactly-once laws: no doc id and no content
    * hash is stored twice. */
  private def checkState(spark: SparkSession): Unit = {
    val h = spark.read.parquet(s"$state/hashes/b*")
    val r = h.agg(count(lit(1)), countDistinct(col("doc_id")), countDistinct(col("content_hash")))
      .collect()(0)
    if (r.getLong(0) != r.getLong(1) || r.getLong(0) != r.getLong(2))
      ctx.problem(s"state holds ${r.getLong(0)} rows, ${r.getLong(1)} ids, ${r.getLong(2)} hashes")
  }

  /** Per-shard fingerprint of everything the op published: its corpus,
    * hashes, BM25 postings and doclens stores — the state `IntakeSoak`
    * digests, split by the batch that wrote it. One job per store. */
  private def perBatchFingerprints(spark: SparkSession): Map[Int, Fingerprint] = {
    val stores = Seq("corpus/b*" -> "/corpus/b([0-9]+)/", "hashes/b*" -> "/hashes/b([0-9]+)/",
      "bm25/b*/postings" -> "/bm25/b([0-9]+)/postings/", "bm25/b*/doclens" -> "/bm25/b([0-9]+)/doclens/")
    stores.map { case (glob, batchOf) =>
      Fingerprint.byKey(spark.read.parquet(s"$state/$glob"),
        regexp_extract(col("_metadata.file_path"), batchOf, 1))
    }.foldLeft(Map.empty[Int, Fingerprint]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (b, f)) => a.updated(b, a.getOrElse(b, Fingerprint.Empty) + f) }
    }
  }
}
