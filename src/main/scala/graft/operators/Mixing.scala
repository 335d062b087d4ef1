package graft.operators

import graft.core.Determinism
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Multi-source mixing, epoch ordering, and batch exactness — the
  * reference's ingestion/epoch machinery (reference: src/ingestion.rs
  * weighted drain 607-675, src/epoch.rs interleave 34-83,
  * pad_with_reuse src/sampler/mod.rs:3091-3100) as reusable rank
  * arithmetic. Mutable cursors become window ranks; "which record comes
  * next" is answerable on any executor.
  */
object Mixing {

  /** Exact largest-remainder allocation of `batch` slots across groups by
    * integer weight — the deterministic counterpart of smooth weighted
    * round-robin (same long-run shares, no drain state). Input must carry
    * `group` and `w` columns; emits `alloc` per group. */
  def weightedAllocation(groups: DataFrame, batch: Long,
      capToTotalWeight: Boolean = false): DataFrame = {
    val all = Window.partitionBy()
    val byRem = Window.partitionBy().orderBy(col("rem").desc, col("group"))
    groups
      .withColumn("tw", sum(col("w")).over(all))
      // when `w` are POPULATION SIZES (stratified sampling), an effective
      // batch capped at tw keeps every alloc <= its stratum size: with
      // eff <= tw, floor(eff*w/tw) + the remainder unit never exceeds w
      .withColumn("eff", if (capToTotalWeight) least(lit(batch), col("tw")) else lit(batch))
      .withColumn("flo", expr("(eff * w) div tw"))
      .withColumn("rem", pmod(col("eff") * col("w"), col("tw")))
      .withColumn("short", col("eff") - sum(col("flo")).over(all))
      .withColumn("rr", row_number().over(byRem).cast("long"))
      .withColumn("alloc", col("flo") + when(col("rr") <= col("short"), 1L).otherwise(0L))
      .select(col("group"), col("w"), col("alloc"))
  }

  /** Temperature-flattened mixture allocation — the standard LLM
    * data-mixing knob (sample source s ∝ n_s^α; Conneau & Lample 2019
    * §3.1 use α=0.7 for multilingual pretraining): α=1 is proportional,
    * α→0 uniform, in between up-weights small sources without drowning
    * large ones. Weights are e6-floored n^α computed IN-PLAN on the
    * #sources-bounded counts frame, then `batch` slots allocate by exact
    * largest remainder ([[weightedAllocation]]).
    *
    * Determinism: α = 1/2 routes through `sqrt` (IEEE correctly-rounded
    * in every engine — the oracle-pinned case, q53) and α ∈ {0, 1}
    * through exact integer forms; general α uses `pow`, the accepted
    * floor(1e6·transcendental) hazard class (graft.operators.Bm25
    * scaladoc). Input carries `group` and `n` (> 0); emits
    * (group, w, alloc). */
  def temperatureAllocation(srcCounts: DataFrame, alphaE6: Long,
      batch: Long): DataFrame = {
    require(alphaE6 >= 0L && alphaE6 <= 1000000L,
      s"alphaE6 must be in [0, 1000000], got $alphaE6")
    val wcol =
      if (alphaE6 == 0L) lit(1000000L).cast("double")
      else if (alphaE6 == 500000L) sqrt(col("n").cast("double")) * lit(1000000.0)
      else if (alphaE6 == 1000000L) col("n").cast("double") * lit(1000000.0)
      else pow(col("n").cast("double"), lit(alphaE6.toDouble / 1e6)) * lit(1000000.0)
    val ws = srcCounts.select(col("group"), floor(wcol).cast("long").as("w"))
    weightedAllocation(ws, batch)
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining" — the closed-form alternative to temperature
    * sampling): given a token/record budget and a per-group epoch cap,
    * walk groups ASCENDING by size; each gets
    * `min(epochs · n, remaining_budget div remaining_groups)` and the
    * unspent share rolls forward — small groups are capped at `epochs`
    * passes (never oversampled into memorization) and the head
    * languages absorb exactly the budget that remains. This integer
    * form (floor division, (n, group) tie order) is the pinned
    * deterministic variant; allocations never exceed `epochs · n` and
    * never sum past `budget`.
    *
    * Scale: the walk is inherently sequential in #groups, so it runs
    * as a driver fold over the #groups-bounded stats frame and returns
    * a LocalRelation — the [[graft.sources.FileCorpusIndex]]
    * `windowTakes` idiom; group counts are the only thing collected.
    * [[duckUnimaxSql]] replays the walk as a recursive CTE. */
  def unimaxAllocation(groups: DataFrame, budget: Long, epochs: Long): DataFrame = {
    require(budget >= 0 && epochs >= 1, s"bad unimax params $budget/$epochs")
    val spark = groups.sparkSession
    import spark.implicits._
    val rows = groups.select(col("group").cast("string"), col("n").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (g, n) => (n, g) }
    require(rows.forall(_._2 > 0), "unimax groups need n > 0")
    var rem = budget
    val out = rows.zipWithIndex.map { case ((g, n), idx) =>
      val b = rem / (rows.length - idx)
      val u = math.min(epochs * n, b)
      rem -= u
      (g, n, u)
    }
    out.toSeq.toDF("group", "n", "alloc")
  }

  /** DuckDB twin of [[unimaxAllocation]]: full SELECT over `(groupsSrc)`
    * — a relation with (group, n) — with `budget`/`epochs` SQL
    * expressions spliced in; the sequential walk replays as a recursive
    * CTE over the (n, group)-sorted rows. */
  def duckUnimaxSql(groupsSrc: String, budgetSql: String, epochsSql: String): String =
    s"""WITH RECURSIVE ord AS (
        SELECT "group" AS g, n,
          CAST(row_number() OVER (ORDER BY n, "group") AS BIGINT) AS rn,
          CAST(count(*) OVER () AS BIGINT) AS tot
        FROM $groupsSrc
      ), walk AS (
        SELECT CAST(0 AS BIGINT) AS rn, CAST(($budgetSql) AS BIGINT) AS rem,
          CAST(0 AS BIGINT) AS alloc, '' AS g, CAST(0 AS BIGINT) AS n
        UNION ALL
        SELECT o.rn,
          w.rem - least(($epochsSql) * o.n, w.rem // (o.tot - o.rn + 1)),
          least(($epochsSql) * o.n, w.rem // (o.tot - o.rn + 1)),
          o.g, o.n
        FROM walk w JOIN ord o ON o.rn = w.rn + 1
      )
      SELECT g AS "group", n, alloc FROM walk WHERE rn > 0"""

  /** Exact proportional stratified sample: `total` slots are allocated
    * across strata by largest remainder over stratum sizes (so every
    * stratum's count is within 1 of `total * n_g / N`, and they sum to
    * exactly `total`), then each stratum takes its seeded rank-pick.
    * A `total` beyond the corpus size is capped at N (every row sampled):
    * the allocation works off `min(total, N)`, so no stratum is ever
    * asked for more rows than it has and the rank filter never
    * under-delivers. Input needs `group` and `id` columns; emits the
    * sampled rows as `(id, group, r)` with `r` the 1-based within-stratum
    * pick rank.
    *
    * Scale: the allocation runs on a #strata-sized frame; the pick is one
    * keyed window per stratum plus a broadcast join of the allocation —
    * no global ordering, no driver loop. */
  def stratifiedSample(df: DataFrame, total: Long, seed: String): DataFrame = {
    val groups = df.groupBy(col("group")).agg(count(lit(1)).as("w"))
    val alloc = weightedAllocation(groups, total, capToTotalWeight = true)
    val wr = Window.partitionBy(col("group"))
      .orderBy(Determinism.seeded(s"ss:$seed", col("id")), col("id"))
    df.withColumn("r", row_number().over(wr).cast("long"))
      .join(broadcast(alloc.select(col("group"), col("alloc"))), "group")
      .filter(col("r") <= col("alloc"))
      .select(col("id"), col("group"), col("r"))
  }

  /** Epoch-interleaved global position: sources shuffle per epoch, records
    * shuffle per (source, epoch), position = record_rank * n_sources +
    * source_rank. Input needs `id` and `source`; emits `pos`. */
  def epochInterleave(df: DataFrame, epoch: Long): DataFrame = {
    val srcs = df.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("srank", row_number().over(Window.partitionBy()
        .orderBy(Determinism.seeded(s"so:$epoch", col("source")), col("source"))).cast("long") - 1)
      .withColumn("ns", count(lit(1)).over(Window.partitionBy()))
      .select(col("source"), col("srank"), col("ns"))
    df.join(broadcast(srcs), "source")
      .withColumn("r", row_number().over(Window.partitionBy(col("source"))
        .orderBy(Determinism.seeded(s"ro:$epoch", col("id")), col("id"))).cast("long") - 1)
      .withColumn("pos", col("r") * col("ns") + col("srank"))
      .drop("srank", "ns", "r")
  }

  /** DENSE epoch order: same (record_rank, source_rank) lexicographic
    * sequence as [[epochInterleave]] (identical seeds), but positions are
    * the contiguous 0..n-1 serving order — required when a consumer
    * addresses records BY position (the batch sampler's cursor), because
    * `r * ns + srank` leaves holes once sources have unequal sizes (a
    * smaller source simply stops contributing at depth r >= its size).
    *
    * The dense index is computed analytically, not with a global window:
    * pos(r, srank) = Σ_s' min(n_s', r)  (records of every source above
    * this depth) + #{s' : srank' < srank, n_s' > r} (sources still alive
    * at this depth that serve before this one). Both terms come from one
    * broadcast cross join with the #sources-sized stats frame — fully
    * distributed at any pool size. */
  def epochOrder(df: DataFrame, epoch: Long): DataFrame = {
    val srcs = df.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("srank", row_number().over(Window.partitionBy()
        .orderBy(Determinism.seeded(s"so:$epoch", col("source")), col("source"))).cast("long") - 1)
      .select(col("source"), col("srank"), col("n"))
    val other = srcs.select(col("srank").as("osrank"), col("n").as("on"))
    df.join(broadcast(srcs), "source")
      .withColumn("r", row_number().over(Window.partitionBy(col("source"))
        .orderBy(Determinism.seeded(s"ro:$epoch", col("id")), col("id"))).cast("long") - 1)
      .crossJoin(broadcast(other))
      .groupBy(col("id"), col("source"), col("r"), col("srank"))
      .agg((sum(least(col("on"), col("r"))) +
        sum(when(col("osrank") < col("srank") && col("on") > col("r"), 1L)
          .otherwise(0L))).as("pos"))
      .select(col("id"), col("source"), col("pos"))
  }

  /** Each requested dense position of `epoch`'s order ([[epochOrder]])
    * as its (source, r, pos) target — the source and the per-source
    * seeded rank `r` that serve it — from the per-source counts alone
    * (input order irrelevant), without materializing the order. With
    * cum(r) = Σ_s min(n_s, r) (records served above depth r), position p
    * sits at depth r = max{r : cum(r) <= p}, offset p - cum(r) into the
    * sources still alive at that depth (srank order): O(#sources · log)
    * per position. The sampler reads each target's record by key from
    * the epoch's staged ranks ([[PoolRankIndex.epochRanks]]); PropertySpec
    * pins that read to `epochOrder`. Out-of-range positions are DROPPED,
    * not an error — a stale cached pool_size (pool shrank without
    * invalidation) must degrade to a padded batch, not a driver crash. */
  def epochTargets(stats: Seq[(String, Long)], epoch: Long,
      positions: Seq[Long]): Seq[(String, Long, Long)] = {
    val srcs = stats.toArray
      .sortBy { case (s, _) => (Determinism.jvmHash(s"so:$epoch:$s"), s) }
    val ns = srcs.map(_._2)
    val total = ns.sum
    def cum(r: Long): Long = { var i = 0; var c = 0L
      while (i < ns.length) { c += math.min(ns(i), r); i += 1 }; c }
    positions.distinct.filter(p => p >= 0 && p < total).map { p =>
      // largest r with cum(r) <= p (cum is nondecreasing, step <= #sources)
      var lo = 0L; var hi = ns.max
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (cum(mid) <= p) lo = mid else hi = mid - 1
      }
      val r = lo
      var k = p - cum(r)
      var si = -1
      var j = 0
      while (si < 0 && j < srcs.length) {
        if (ns(j) > r) { if (k == 0L) si = j else k -= 1 }
        j += 1
      }
      require(si >= 0, s"epochTargets: no source at depth $r for position $p")
      (srcs(si)._1, r, p)
    }
  }

  /** Unconsumed-first reorder after a population change
    * (reference: src/epoch.rs:187-229): records whose ids were already
    * consumed this epoch sort AFTER every unconsumed one, both sides
    * keeping their interleave order. Input needs `id` and `pos` (from
    * [[epochInterleave]]); emits a `consumed` flag. The CONTRACT is the
    * (consumed, pos) sort order — materializing contiguous positions would
    * be a global row_number (single partition), so it is left to bounded
    * consumers (a batch head) or tests. */
  def reconcile(ordered: DataFrame, consumedIds: DataFrame): DataFrame =
    ordered.join(consumedIds.select(col("id")).distinct()
        .withColumn("_seen", lit(true)), Seq("id"), "left")
      .withColumn("consumed", coalesce(col("_seen"), lit(false)))
      .drop("_seen")

  /** Source-cursor wrap tracking with epoch auto-advance
    * (reference: src/sampler/mod.rs:868-948): `cursor:<source>` counts
    * draws; a completed cycle over the source's pool sets
    * `wrapped:<source>`; when EVERY source has wrapped, the epoch advances
    * and the per-source counters reset (reference advance_source_epoch,
    * src/sampler/mod.rs:941-948). Pure counter arithmetic over
    * [[SamplerState]] — resume-safe by construction. */
  def drawAndTrack(st: SamplerState, source: String, poolSize: Long,
      sources: Seq[String]): SamplerState = {
    require(poolSize > 0, "poolSize must be > 0")
    val advanced = st.advanced(s"cursor:$source")
    val st2 =
      if (advanced.counter(s"cursor:$source") % poolSize == 0)
        advanced.copy(counters = advanced.counters.updated(s"wrapped:$source", 1L))
      else advanced
    if (sources.nonEmpty && sources.forall(s2 => st2.counter(s"wrapped:$s2") == 1L))
      advanceEpoch(st2, sources)
    else st2
  }

  /** Epoch advance: +1 epoch, per-source cursors and wrap flags cleared. */
  def advanceEpoch(st: SamplerState, sources: Seq[String]): SamplerState =
    st.copy(epoch = st.epoch + 1,
      counters = st.counters
        -- sources.map(s2 => s"cursor:$s2")
        -- sources.map(s2 => s"wrapped:$s2"))

  /** The reference's smooth weighted-round-robin drain ORDER
    * (src/ingestion.rs:607-675), exactly: per draw, every ELIGIBLE source
    * (positive weight, non-empty buffer) gains its weight of credit; the
    * first source holding the strict maximum credit is picked (strict `>`
    * during a single in-order pass ⇒ ties go to the lowest index, the
    * reference's registration order) and pays back the eligible-total;
    * buffers deplete, eligibility shrinks, the drain stops early when
    * nothing is eligible (the reference's break) or `limit` is reached.
    * All-nonpositive weights fall back to uniform 1s (the reference's
    * `fill(1.0)`). Integer weights (e.g. e6-scaled floats) make the loop
    * exact and replayable — q129's oracle re-runs it as a DuckDB
    * recursive CTE over list state. Driver-side counter arithmetic over
    * #sources-sized state, like the slot schedule; record resolution
    * stays a keyed-window join in the caller's plan.
    *
    * `sources`: (name, weight, available) in registration order.
    * Returns (slot, sourceName) per drained slot. */
  def smoothWrrDrain(sources: Seq[(String, Long, Long)], limit: Long): Seq[(Long, String)] = {
    val n = sources.size
    val names = sources.map(_._1)
    val w0 = sources.map(_._2)
    val weights = if (w0.exists(_ > 0)) w0 else w0.map(_ => 1L)
    val rem = sources.map(_._3).toArray
    val cur = new Array[Long](n)
    val out = Seq.newBuilder[(Long, String)]
    var slot = 0L
    var halted = n == 0
    while (slot < limit && !halted) {
      var tw = 0L
      var i = 0
      while (i < n) { if (weights(i) > 0 && rem(i) > 0) tw += weights(i); i += 1 }
      if (tw == 0) halted = true
      else {
        var best = -1
        var bestScore = Long.MinValue
        i = 0
        while (i < n) {
          if (weights(i) > 0 && rem(i) > 0) {
            cur(i) += weights(i)
            if (cur(i) > bestScore) { bestScore = cur(i); best = i }
          }
          i += 1
        }
        cur(best) -= tw
        rem(best) -= 1
        out += ((slot, names(best)))
        slot += 1
      }
    }
    out.result()
  }

  /** Pad (or trim) a candidate pool to exactly `batch` rows by cycling the
    * seeded-ordered pool (`pad_with_reuse`). Input needs `id`; emits
    * (`i`, `id`) for i in [0, batch) — no rows for an empty pool.
    *
    * This is the corpus-scale form, used by q45 whose candidates are a
    * filtered documents table. The sampler's batches pad on the driver
    * with [[padSlots]], its scalar twin, because their candidates are
    * already-collected rows.
    *
    * Scale shape: when the pool covers the batch (the normal case) only the
    * first `batch` rows in seeded order matter — `orderBy(..).limit(batch)`
    * is a distributed per-partition top-k (TakeOrderedAndProject), no
    * global window, no pool-sized broadcast. The cycling path only runs
    * when the pool is SMALLER than one batch, i.e. trivially tiny. */
  def padToBatch(spark: SparkSession, cands: DataFrame, batch: Int, seed: String): DataFrame = {
    // both the count and the chosen branch evaluate the pool plan — persist
    // it for the call so a pool derived from heavy upstream work is
    // computed once (pools are candidate ids, not records; callers/Bench
    // clear caches after materializing)
    val pool = cands.cache()
    val nc = pool.count()
    if (nc >= batch) {
      // the unpartitioned window here ranks only the `batch` surviving rows
      // (bounded by a user constant), not the pool
      val top = pool
        .select(col("id"), Determinism.seeded(seed, col("id")).as("sk"))
        .orderBy(col("sk"), col("id")).limit(batch)
      top.withColumn("i", row_number().over(Window.partitionBy()
          .orderBy(col("sk"), col("id"))).cast("long") - 1)
        .select(col("i"), col("id"))
    } else {
      val ranked = pool
        .withColumn("rn", row_number().over(Window.partitionBy()
          .orderBy(Determinism.seeded(seed, col("id")), col("id"))).cast("long") - 1)
      spark.range(batch).select(col("id").as("i"))
        .join(broadcast(ranked), pmod(col("i"), lit(nc)) === col("rn"))
        .select(col("i"), ranked("id"))
    }
  }

  /** [[padToBatch]] over driver-side candidate ids: (`i`, `id`) for i in
    * [0, batch), ids in (`Determinism.jvmHash(s"$seed:$id")`, id) order —
    * the scalar twin of the `seeded` sort key. The first `batch` when
    * there are enough, otherwise slot i reuses `ranked(i % nc)`; no slots
    * when there are no candidates, as the plan's `pmod(i, 0)` is null. */
  def padSlots(ids: Seq[Long], batch: Int, seed: String): Seq[(Long, Long)] = {
    val ranked = ids.map(id => (Determinism.jvmHash(s"$seed:$id"), id)).sorted
      .map(_._2).toIndexedSeq
    val nc = ranked.size
    if (nc == 0) Nil
    else (0 until batch).map(i => (i.toLong, ranked(i % nc)))
  }
}
