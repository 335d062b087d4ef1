package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Benchmark main: the query suite under one fixed protocol, plus the
  * serving bench.
  *
  * Every query is timed through [[Profile.sinkRun]]: the `noop` sink,
  * which computes every output column, with the result fingerprint
  * observed by the same job. Per query ([[measure]]): one untimed warm-up
  * run, recorded as `cold`, then [[TimedRuns]] timed runs, each on a
  * freshly built plan (new RDDs, so no shuffle reuse from an earlier
  * run), with the cache cleared and a `System.gc()` between runs. The
  * query reports the median, min and max of its timed runs. A timed run
  * whose fingerprint differs from the warm-up's fails the query as
  * `FingerprintMismatch`; a failed query records no time. The session is
  * rebuilt every [[SessionChunk]] queries, since a long-lived context
  * accumulates broadcast blocks and GC pressure (janino's codegen cache
  * is JVM-static, so a rebuild is cheap).
  *
  * Stdout ends with three JSON lines: the full detail, the `queries` map
  * by short key (`q01`), and the short `total` line, printed last because
  * the harness that collects this output keeps only the last ~2000
  * characters. An unfiltered run also writes the detail to
  * bench_detail.json. `SPARK_GRAFT_ONLY` selects queries as it does for
  * [[Verify]]; its token `serving` selects the serving bench, which runs
  * on every unfiltered run.
  */
object Bench {

  private val SessionChunk = 10
  val TimedRuns = 3

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  private def newSession(): SparkSession = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    // absorb context/executor init outside the timed window
    spark.range(1000).count()
    spark
  }

  /** One query's measurement: the warm-up's seconds and fingerprint, and
    * the timed runs' seconds (empty when the query failed). */
  final case class Timing(cold: Double, runs: Seq[Double],
      fingerprint: Option[Profile.Fingerprint], error: Option[String]) {
    def median: Double = Bench.median(runs)
  }

  /** Times the query `build` makes under the protocol above. */
  def measure(spark: SparkSession, build: () => DataFrame): Timing = {
    def reset(): Unit = { spark.catalog.clearCache(); System.gc() }
    def run(): (Double, Profile.Fingerprint) = {
      val t0 = System.nanoTime()
      val fp = Profile.sinkRun(build())
      ((System.nanoTime() - t0) / 1e9, fp)
    }
    var cold = 0.0
    try {
      val (c, fp) = run()
      cold = c
      reset()
      val timed = Seq.fill(TimedRuns) { val r = run(); reset(); r }
      if (timed.forall(_._2 == fp)) Timing(cold, timed.map(_._1), Some(fp), None)
      else Timing(cold, Nil, Some(fp), Some("FingerprintMismatch"))
    } catch { case t: Throwable =>
      reset()
      Timing(cold, Nil, None, Some(t.getClass.getName))
    }
  }

  /** Every query in `names`, in order, rebuilding the session every
    * [[SessionChunk]] queries. */
  def measureSuite(names: Seq[String], sfDir: String): Seq[(String, Timing)] = {
    var spark = newSession()
    try names.zipWithIndex.map { case (name, i) =>
      if (i > 0 && i % SessionChunk == 0) { spark.stop(); spark = newSession() }
      val s = spark
      name -> measure(s, () => SparkEntry.queries(name)(s, sfDir))
    } finally spark.stop()
  }

  /** Steady-state trainer serving bench — the PRODUCT metric: a deployed
    * training session holds the mix lane's serving bundle
    * ([[graft.queries.RecipeQueries.mixServing]]: chunk table, index-
    * reconstituted pool, recipes, staged [[graft.operators.PoolRankIndex]]
    * + driver-side stats) and loops `Sampler.nextBatch` through a
    * [[graft.operators.BatchPrefetcher]] (the reference's producer-thread
    * prefetch, src/sampler/mod.rs:173-199, 2911-2930) while the trainer
    * drains.
    *
    * Measurement protocol (round 16 — round 15's "verify the calibration
    * pace" protocol never probed where sustainability ENDS, so a
    * calibration absorbed into a degraded moment shipped a 10×-low grade
    * with every voter at blocked_sec≈0):
    *   1. sequential warm batch (staged-index validation + codegen) and a
    *      latency probe that seeds the producer start stagger;
    *   2. CALIBRATE: one open-loop run; its steady-region average spans
    *      many producer cycles and reads aggregate throughput even when
    *      an instant consumer bunches the fleet into delivery convoys —
    *      it seeds the search but never grades;
    *   3. CEILING SEARCH: paced closed-loop runs (the consumer takes one
    *      batch per 1/pace seconds — a training step) that CLIMB while
    *      sustained (×1.3 per rung; ×1.6 while glass-flat with zero
    *      blocked wait) until a loop FAILS its own sustained check, or
    *      DESCEND from an unsustainable start until one sustains — either
    *      way the ceiling ends up bracketed: a sustained rate below, a
    *      failing pace above. Once bracketed, the top rung re-runs until
    *      ≥2 loops there agree. A wall-clock budget
    *      (SPARK_GRAFT_SERVING_BUDGET) bounds the search on a degraded
    *      host — running out before the bracket exists ships
    *      `ceiling_not_found:true`, never an unprobed grade;
    *   4. the artifact's `batches_per_sec` is the MEDIAN of the voters —
    *      sustained loops on the top rung. `ceiling_bps` is the highest
    *      sustained rate, `unsustained_at` the lowest failing pace above
    *      the grade, `cal_bps` the open-loop burst: three numbers that
    *      tell what a burst gives, what is sustainable, where it breaks.
    *      `accepted` requires ≥2 voters within 1.25× AND the bracket —
    *      "sustained the first pace we tried" can no longer ship as an
    *      accepted capacity. Window rates/blocked_sec/max_gap_sec are
    *      per-loop smoothness diagnostics; `gc_secs` attributes a slow
    *      loop to collector state; the consumer paces RELATIVE to its
    *      last take (an absolute schedule banks catch-up debt during the
    *      transient and later drains it as an open-loop burst).
    * The absolute level tracks ambient host contention; the in-artifact
    * bracket and spread are the quantities this protocol pins.
    */
  /** Prefetch queue depth for the serving loop — passed to
    * [[graft.operators.BatchPrefetcher]], whose `productionWindow`
    * (capacity + parallelism) then drives the steady-rate timer split,
    * so the two can never desync. */
  private val ServingCapacity = 2

  // LoopRes (one loop's measurement) and the ceiling-search logic live in
  // [[ServingSearch]] — a pure function over an injected loop runner, so
  // the protocol's laws are unit-spec'd (ServingSearchSpec) on the same
  // code path the shipped grade uses
  private def median(xs: Seq[Double]): Double = ServingSearch.median(xs)

  /** Steady windows per measured loop: the grade is the MEDIAN of this
    * many disjoint window rates, so one GC pause / stage stall taxes one
    * window instead of poisoning the whole-loop average (the round-14
    * artifact's two whole-loop rates disagreed 6×). */
  private val ServingWindows = 5

  private def servingBench(sfDir: String): Option[String] = {
    // steady deliveries per loop (past the fetch-ahead transient); the
    // TOTAL loop length derives from this + the production window, so a
    // high producer count grows the loop instead of tripping a require
    val steadyN = sys.env.get("SPARK_GRAFT_SERVING_N").map(_.toInt)
      .getOrElse(60)
    if (steadyN <= 0) return None
    // producer count: throughput scales with concurrent batch plans
    // until driver planning contends (measured on this box: par=8 →
    // ~1.3 b/s, 16 → ~2.7, 24 → ~2.8 but with worse delivery gaps), so
    // half the cores is the knee; a trainer deployment sizes this to
    // its driver like any fetch-ahead
    val par = sys.env.get("SPARK_GRAFT_SERVING_PAR").map(_.toInt)
      .getOrElse(math.max(4, Sessions.cpus / 2))
    val spark = newSession()
    try {
      val (chunks, pool, recipes, ridx, stats) =
        graft.queries.RecipeQueries.mixServing(spark, sfDir)
      val batchSize = graft.queries.RecipeQueries.MixBatch
      // every batch's starting state is PURE ARITHMETIC over the staged
      // index's persisted per-source stats (Sampler.advanceState), so
      // production parallelizes: `par` producers each run a full
      // nextBatch for their claimed index, the prefetcher delivers in
      // order, and the delivered stream is bit-identical to the
      // sequential loop (the stateless-draw law, PrefetcherSpec).
      val poolSize = stats.getOrElse(sys.error(
        "staged mix index lacks per-source stats")).map(_._2).sum
      val st0 = graft.operators.SamplerState(
        graft.queries.RecipeQueries.MixSeed, 0L, Map.empty)
      /** Batch producer for one batch size — a pure function of the
        * index (stateless-draw law), so loops may share or rebuild it
        * freely. */
      def mkProduce(bs: Int): Long => Int = {
        val states = scala.collection.mutable.ArrayBuffer(st0)
        def stFor(i: Long): graft.operators.SamplerState = states.synchronized {
          while (states.size <= i)
            states += graft.operators.Sampler.advanceState(states.last, bs, poolSize)
          states(i.toInt)
        }
        (i: Long) => {
          val b = graft.operators.Sampler.nextBatch(spark, chunks, pool, recipes,
            stFor(i), bs, rankIndex = Some(ridx), srcStats = stats)
          b.rows.collect().length
        }
      }
      // warmup (staged-index validation stat pass + codegen) and a
      // sequential latency probe: the probe sizes the producer start
      // stagger (latency / par) that keeps the fleet out of convoy
      // phase-lock — see BatchPrefetcher.startStaggerMs
      val produceMix = mkProduce(batchSize)
      produceMix(0L)
      val tProbe = System.nanoTime(); produceMix(1L)
      val latMs = math.max(1L, ((System.nanoTime() - tProbe) / 1e6).toLong)
      /** One measured loop: window+steady deliveries, per-delivery
        * timestamps. Returns per-window steady rates, wall seconds, max
        * inter-delivery gap, batch count, steady-region average rate,
        * consumer blocked-wait past due times, the steady delivery count
        * (single source of truth for the sustained-check threshold —
        * derived HERE from the same productionWindow the rate split
        * uses, never re-derived by callers), and the loop's GC bill.
        *
        * `paceBps = None` is OPEN LOOP — the consumer drains instantly.
        * An instant consumer is the degenerate trainer: producers
        * re-claim the moment they finish, so the fleet drifts into
        * convoy phase-lock (bus-bunching — an early finisher catches the
        * pack and stays there), and the delivery stream turns into
        * multi-second silences followed by sub-ms bursts. The average
        * over many cycles is still the true aggregate throughput, so the
        * open loop CALIBRATES; it cannot grade.
        *
        * `paceBps = Some(r)` is the trainer-shaped CLOSED loop: the
        * consumer takes one batch every 1/r seconds (a training step),
        * which paces the claim grants and keeps producer phases spread —
        * the steady state a real deployment runs in. If the pipeline
        * sustains r, every take is ~instant (waitSec ≈ 0) and the
        * windows read r; if it cannot, the consumer visibly waits and
        * the windows read the realized production rate. Either way the
        * number is a SUSTAINED rate, not a burst artifact. The last
        * element returned is the total seconds the consumer spent
        * blocked in take() PAST each batch's paced due time. */
      def loop(bs: Int, steady: Int, staggerMs: Long,
          paceBps: Option[Double] = None): LoopRes = {
        val produce = if (bs == batchSize) produceMix else mkProduce(bs)
        val gcStart = gcMillis
        val pf = new graft.operators.BatchPrefetcher[Int](capacity = ServingCapacity,
          produce, parallelism = par, startStaggerMs = staggerMs)
        try {
          // STEADY rate: with `productionWindow` batches allowed in
          // flight, up to that many are already produced (or nearly so)
          // when the timer starts — the first `window` deliveries drain
          // the fetch-ahead head start (which inflated a whole-loop rate
          // ~2×). Only deliveries AFTER the window grade: pure production
          // throughput, the rate a trainer sees once the transient is
          // spent. The steady region then splits into ServingWindows
          // disjoint windows; the MEDIAN window rate is the loop's grade
          // and the window spread is the published dispersion.
          val window = pf.productionWindow
          val nb = window + math.max(steady, 2 * ServingWindows)
          val t0 = System.nanoTime()
          var delivered = 0L
          var blockedNs = 0L
          var prevTake = t0
          val t = new Array[Long](nb)
          (0 until nb).foreach { i =>
            paceBps.foreach { r =>
              // trainer step: consume no earlier than 1/r after the
              // PREVIOUS take. Pacing from the last step (not an
              // absolute t0 schedule) is what a training loop does and
              // it accrues no catch-up debt: an absolute schedule let a
              // slow transient bank missed due times and the consumer
              // later drained the backlog in an open-loop burst —
              // realized window rates read ABOVE the pace (observed 7
              // b/s windows under a 2.8 pace; ref128 read 130–890)
              val due = prevTake + (1e9 / r).toLong
              var wait = due - System.nanoTime()
              while (wait > 0) {
                java.util.concurrent.locks.LockSupport.parkNanos(wait)
                wait = due - System.nanoTime()
              }
            }
            val tTake = System.nanoTime()
            delivered += pf.next()
            t(i) = System.nanoTime()
            prevTake = t(i)
            // time the trainer visibly waited past the due point —
            // "queue momentarily empty" during a healthy just-in-time
            // handoff costs ~0; a production shortfall costs real time
            if (i >= window) blockedNs += t(i) - tTake
          }
          val dt = (t(nb - 1) - t0) / 1e9
          require(delivered == nb.toLong * bs,
            s"serving bench under-delivered: $delivered rows for $nb batches of $bs")
          val m = nb - window // steady delivery count
          val rates = (0 until ServingWindows).map { j =>
            val lo = window - 1 + j * m / ServingWindows
            val hi = window - 1 + (j + 1) * m / ServingWindows
            (hi - lo) / ((t(hi) - t(lo)) / 1e9)
          }
          val maxGap = (1 until nb).map(i => t(i) - t(i - 1)).max / 1e9
          val avg = m / ((t(nb - 1) - t(window - 1)) / 1e9)
          LoopRes(rates, dt, maxGap, nb, avg, blockedNs / 1e9, m,
            (gcMillis - gcStart) / 1e3, paceBps)
        } finally pf.close()
      }
      import ServingSearch.{disp, sustained}
      def fmt(xs: Seq[Double]): String =
        xs.map(r => f"$r%.3f").mkString("[", ",", "]")
      // CALIBRATE open-loop: the steady-region average spans many convoy
      // cycles, so it reads the true aggregate throughput even though
      // the delivery stream is bursty; its reciprocal seeds the paced
      // search — it never grades. Probe length (round 17): the seed only
      // has to land within the climb's reach (the search corrects from
      // either side), and the full-length cal was the single most
      // expensive loop of the round-16 driver bench (78 batches at a
      // convoy-degraded 0.48 b/s ≈ 160 s for a number that never grades).
      val probeN = 2 * ServingWindows
      val cal = loop(batchSize, probeN, math.max(1L, latMs / par))
      val calBps = cal.avg
      val staggerMs = math.max(1L, (1000.0 / math.max(calBps, 0.01)).toLong)
      // CEILING SEARCH — see [[ServingSearch]] (the protocol rationale
      // and the climb/descend/confirm rules live there; its laws are
      // unit-spec'd in ServingSearchSpec on this exact code path).
      // Probe loops (pre-bracket) run a shorter steady region — they
      // only decide direction; confirm loops run the full steadyN. The
      // wall-clock budget bounds the search on a degraded host.
      val budgetSec = sys.env.get("SPARK_GRAFT_SERVING_BUDGET")
        .map(_.toDouble).getOrElse(1500.0)
      val maxLoops = sys.env.get("SPARK_GRAFT_SERVING_MAXLOOPS")
        .map(_.toInt).getOrElse(10)
      val tSearch0 = System.nanoTime()
      // Seed the climb at 1.3× the calibration: the open loop already
      // DEMONSTRATED calBps as an aggregate rate, so the first paced
      // rung at exactly calBps nearly always sustains and is a wasted
      // (and, at a convoy-degraded cal, very slow) loop. If 1.3× is
      // above the true ceiling the first loop fails and the search
      // descends off the realized rate — the protocol's existing
      // descend path — so the bracket semantics are unchanged.
      val res = ServingSearch.search(calBps * 1.3,
        ServingSearch.Cfg(budgetSec, maxLoops, steadyN, probeN,
          ServingCapacity + par, 2 * ServingWindows),
        () => (System.nanoTime() - tSearch0) / 1e9,
        (p, n) => {
          System.gc(); Thread.sleep(500)
          loop(batchSize, n, math.max(1L, (1000.0 / p).toLong), Some(p))
        })
      val searchSec = (System.nanoTime() - tSearch0) / 1e9
      val ordered = res.attempts
      val runs = ordered.map(_.avg)
      val bps = res.grade
      val tps = bps * batchSize
      val chosen = res.chosen
      val loops = 1 + ordered.size
      def optF(v: Option[Double]): String =
        v.map(x => f"$x%.3f").getOrElse("null")
      val rejField =
        s""","runs":${fmt(runs)},"paces":${fmt(ordered.flatMap(_.pace))}""" +
        s""","gc_secs":${fmt(ordered.map(_.gcSec))}""" +
        s""","steady_ns":${ordered.map(_.steadyM).mkString("[", ",", "]")}""" +
        s""","sustained":${ordered.count(sustained)},"voters":${res.voters.size}""" +
        // voter_spread is the grade's OWN reproducibility (max/min over
        // the voters); run_spread spans the whole climb and is expected
        // to be wide — read voter_spread for agreement. null when nothing
        // ever sustained (accepted is false there anyway)
        s""","voter_spread":${
          if (res.voters.isEmpty) "null"
          else f"${disp(res.voters.map(_.avg))}%.2f"}""" +
        s""","ceiling_bps":${optF(res.ceilingBps)}""" +
        s""","unsustained_at":${optF(res.unsustainedAt)}""" +
        s""","ceiling_not_found":${res.ceilingNotFound}""" +
        f""","search_sec":$searchSec%.1f,"probe_latency_sec":${latMs / 1000.0}%.3f"""
      // the reference's own operating point (SamplerConfig::default
      // batch_size = 128, src/config.rs:312) over the SAME staged bundle
      // — pool here is the full corpus-scale mix pool, not the
      // reference's 2048-record candidate cache, so the number is the
      // conservative side of the comparison. Codegen/index warmth carries
      // over from the first loop; the new plan shapes' codegen lands
      // inside the loop's own untimed transient window. Paced at the
      // graded TRIPLET rate (same rows/sec, bigger batches) — sustained
      // verification like the headline loop.
      val rPace = math.max(tps / 128.0, 0.05)
      // comparison exhibit, not the grade: probe-length steady region
      // (the round-16 driver paid 163 s for this one loop at steadyN/2)
      val r = loop(128, math.max(steadyN / 4, 2 * ServingWindows),
        math.max(1L, (1000.0 / rPace).toLong), Some(rPace))
      val rBps = median(r.rates)
      Some(f"""{"batches_per_sec":$bps%.3f,"triplets_per_sec":$tps%.1f,"run_spread":${disp(runs)}%.2f,"accepted":${res.accepted},"n_batches":${chosen.nb},"batch":$batchSize,"parallelism":$par,"loops":$loops,"sec":${chosen.sec}%.3f,"windows":${fmt(chosen.rates)},"window_spread":${disp(chosen.rates)}%.2f,"blocked_sec":${chosen.blockedSec}%.3f,"max_gap_sec":${chosen.maxGap}%.3f,"cal_bps":$calBps%.3f,"stagger_ms":$staggerMs$rejField,"ref128":{"batches_per_sec":$rBps%.3f,"triplets_per_sec":${rBps * 128}%.1f,"avg_bps":${r.avg}%.3f,"batch":128,"n_batches":${r.nb},"sec":${r.sec}%.3f,"windows":${fmt(r.rates)},"window_spread":${disp(r.rates)}%.2f,"blocked_sec":${r.blockedSec}%.3f,"max_gap_sec":${r.maxGap}%.3f}}""")
    } finally spark.stop()
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(Verify.wanted)
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")

    // trainer-facing steady-state serving loop FIRST, in its own fresh
    // session: a 150-query suite leaves the shared JVM with GC/
    // fragmentation state that graded the same serving loop 1.5
    // batches/sec where a clean JVM grades ~5 — the product metric gets
    // the clean measurement, the suite's own per-query warmups and
    // session recycling absorb the (much milder) reverse direction
    // a serving-bench failure must not take the 150-query suite grade
    // down with it: record the exception as the serving value instead
    val serving = if (!Verify.only.forall(_.contains("serving"))) None
      else try servingBench(sfDir)
      catch { case t: Throwable =>
        Some(s"""{"error":"${t.getClass.getName}: ${
          Option(t.getMessage).getOrElse("")
            .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(160)}"}""")
      }

    val results = measureSuite(names, sfDir)
    def r3(v: Double): String = f"$v%.3f"
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def time(t: Timing): String = if (t.error.isEmpty) r3(t.median) else "null"
    val ok = results.map(_._2).filter(_.error.isEmpty)
    val total = ok.map(_.median).sum
    val coldTotal = results.map(_._2.cold).sum
    val failed = results.size - ok.size
    val perQuery = obj(results.map { case (k, t) =>
      k -> (s"""{"median":${time(t)},"min":${t.runs.minOption.map(r3).getOrElse("null")}""" +
        s""","max":${t.runs.maxOption.map(r3).getOrElse("null")},"cold":${r3(t.cold)}""" +
        s""","fingerprint":${t.fingerprint.map("\"" + _.hex + "\"").getOrElse("null")}}""")
    })
    val errs = obj(results.collect { case (k, Timing(_, _, _, Some(e))) => k -> s""""$e"""" })
    val servingField = serving.map(j => s""","serving":$j""").getOrElse("")
    val method = s"noop sink; warm-up, then median of $TimedRuns fresh-plan runs"
    def detail(metric: String) = s"""{"metric":"$metric","value":${r3(total)},"unit":"sec",""" +
      s""""method":"$method","sink":"noop","runs":$TimedRuns,"cold_total_sec":${r3(coldTotal)},""" +
      s""""queries":$perQuery,"errors":$errs,"failed":$failed$servingField,"sf":$sfNum}"""
    println(detail("total_diag"))
    if (Verify.only.isEmpty) try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
        detail("total").getBytes("UTF-8"))
    } catch { case _: java.io.IOException => () }
    println(s"""{"metric":"queries","queries":${
      obj(results.map { case (k, t) => k.takeWhile(_ != '_') -> time(t) })}}""")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","method":"$method; per-query detail in bench_detail.json","cold_total_sec":${r3(coldTotal)},"failed":$failed$servingField,"sf":$sfNum}""")
  }
}
