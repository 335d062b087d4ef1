package graft

import graft.operators.{BatchPrefetcher, TripletConfig, Triplets}
import org.scalatest.funsuite.AnyFunSuite

/** `BatchPrefetcher` — the reference's producer-thread prefetcher
  * (src/sampler/mod.rs:173-199) over stateless draw ranges: prefetched
  * batches are EXACTLY the sequential sequence. */
class PrefetcherSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docsDf = {
    import spark.implicits._
    (0L until 40L)
      .map(i => (i, s"s${i % 3}",
        (0 until 40).map(t => s"w${(i * 7 + t) % 13}t$t").mkString(" ")))
      .toDF("doc_id", "source", "text")
  }

  test("prefetched batch stream equals the sequential stateless-draw stream") {
    val cfg = TripletConfig()
    val docs = docsDf
    val drawsPerBatch = 2L
    def batch(i: Long): Seq[String] =
      Triplets.textRowsRange(docs, cfg, i * drawsPerBatch, (i + 1) * drawsPerBatch)
        .collect().map(_.toString).sorted.toSeq
    val pf = new BatchPrefetcher[Seq[String]](capacity = 2, batch)
    try {
      val prefetched = (0 until 4).map(_ => pf.next())
      val sequential = (0L until 4L).map(batch)
      assert(prefetched == sequential)
      assert(prefetched.head.nonEmpty)
    } finally pf.close()
  }

  test("start stagger changes latency only — staggered delivery == unstaggered") {
    def produce(i: Long): Long = { Thread.sleep(3); i * i }
    val plain = new BatchPrefetcher[Long](capacity = 2, produce, parallelism = 4)
    val staggered = new BatchPrefetcher[Long](capacity = 2, produce,
      parallelism = 4, startStaggerMs = 7)
    try {
      assert(plain.productionWindow == staggered.productionWindow)
      assert(plain.productionWindow == 6) // capacity + parallelism
      val a = (0 until 20).map(_ => plain.next())
      val b = (0 until 20).map(_ => staggered.next())
      assert(a == b)
      assert(a == (0 until 20).map(i => i.toLong * i))
    } finally { plain.close(); staggered.close() }
  }

  test("a producer error arrives in order as that batch, later batches still flow") {
    def produce(i: Long): Long =
      if (i == 1) throw new IllegalStateException(s"batch $i failed") else i * 10
    val pf = new BatchPrefetcher[Long](capacity = 1, produce)
    try {
      assert(pf.next() == 0L)
      val e = intercept[IllegalStateException](pf.next())
      assert(e.getMessage == "batch 1 failed")
      assert(pf.next() == 20L)
      // introspection counters (the reference's produced_count /
      // queue_len / error_count): three delivered — at least those
      // produced, exactly one error, and the buffer is bounded
      assert(pf.producedCount >= 3)
      assert(pf.errorCount == 1)
      assert(pf.queueLen >= 0 && pf.queueLen <= 2) // capacity + in-flight
    } finally pf.close()
  }

  test("close() joins the producer thread") {
    val pf = new BatchPrefetcher[Long](capacity = 1, identity)
    pf.next()
    pf.close()
    val alive = Thread.getAllStackTraces.keySet().stream()
      .anyMatch(t => t.getName == "graft-batch-prefetcher" && t.isAlive)
    assert(!alive)
  }

  test("parallel producers deliver exactly the sequential sequence") {
    val cfg = TripletConfig()
    val docs = docsDf
    val drawsPerBatch = 2L
    def batch(i: Long): Seq[String] =
      Triplets.textRowsRange(docs, cfg, i * drawsPerBatch, (i + 1) * drawsPerBatch)
        .collect().map(_.toString).sorted.toSeq
    val pf = new BatchPrefetcher[Seq[String]](capacity = 2, batch, parallelism = 3)
    try {
      val prefetched = (0 until 6).map(_ => pf.next())
      val sequential = (0L until 6L).map(batch)
      assert(prefetched == sequential)
    } finally pf.close()
  }

  test("parallel composed serving == sequential state-threaded loop (advanceState law)") {
    import graft.operators.{PoolRankIndex, Recipes, Sampler, SamplerState}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the serving-bench shape at spec scale: a staged rank index + stats,
    // states derived arithmetically per batch index, `par` concurrent
    // producers — the delivered stream must equal the sequential
    // state-threaded loop row for row, and advanceState must equal the
    // states nextBatch returns
    val docs = (1 to 25).map(i =>
      (i.toLong, (s"h$i t$i" +: (1 to 40).map(j => s"v${i}_$j")).mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = graft.queries.RecipeQueries.chunkTable(docs).cache()
    val pool = (1 to 25).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "source").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_pfix").toString + "/ix"
    PoolRankIndex.save(PoolRankIndex.build(pool), dir)
    val ridx = PoolRankIndex.load(spark, dir)
    val stats = PoolRankIndex.loadSrcStats(dir)
    val poolSize = stats.map(_._2).sum
    val recipes = Recipes.resolve(Nil, Recipes.csvDefaults(roleMode = true))
    val batchN = 8
    val nBatches = 5 // 40 draws over 25 records: an epoch wrap inside the window
    def rowsOf(b: graft.operators.SamplerBatch): Seq[String] =
      b.rows.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // sequential reference: thread the returned state
    var st = SamplerState("pfx", 0L, Map.empty)
    val seqStates = Seq.newBuilder[SamplerState]
    val sequential = (0 until nBatches).map { _ =>
      val b = Sampler.nextBatch(spark, chunks, pool, recipes, st, batchN,
        rankIndex = Some(ridx), srcStats = Some(stats))
      val out = rowsOf(b)
      seqStates += b.state
      st = b.state
      out
    }
    // advanceState == the chained nextBatch states
    val arith = Iterator.iterate(SamplerState("pfx", 0L, Map.empty))(
      Sampler.advanceState(_, batchN, poolSize)).drop(1).take(nBatches).toSeq
    assert(arith == seqStates.result(), "advanceState drifted from nextBatch states")
    // parallel producers over arithmetic states
    val states = SamplerState("pfx", 0L, Map.empty) +: arith
    val pf = new BatchPrefetcher[Seq[String]](capacity = 2, { i =>
      rowsOf(Sampler.nextBatch(spark, chunks, pool, recipes, states(i.toInt), batchN,
        rankIndex = Some(ridx), srcStats = Some(stats)))
    }, parallelism = 3)
    try {
      val parallel = (0 until nBatches).map(_ => pf.next())
      assert(parallel == sequential,
        "parallel production changed the delivered sequence")
    } finally pf.close()
  }
}
