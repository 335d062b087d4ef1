package graft.operators

import graft.core.Determinism
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** One composed sampler batch: `core` is the per-draw stream BEFORE the
  * batch-local stages (rejection/dedup/pad) — keyed by the global draw
  * counter, it is invariant to how draws are grouped into batches; `rows`
  * is the delivered batch (exactly `batch` rows, slot column `slot`); `state`
  * resumes the sequence.
  *
  * The sampler's entry points return `core` and `rows` as driver-local
  * relations: the batch tail (rejection, seen-set dedup, pad) runs in
  * Scala over core rows already on the driver, so collecting either runs
  * no Spark job. `rows` is lazy — built on first access, once — so
  * consumers of the core stream alone (every composed oracle query) skip
  * the pad; it is a pure function of the core stream and the counters. */
final class SamplerBatch(val core: DataFrame, mkRows: () => DataFrame,
    val state: SamplerState, statsCore: Option[DataFrame] = None) {
  lazy val rows: DataFrame = mkRows()

  /** The reference's `extended-metrics` per-batch counter report
    * (bm25_backend.rs:156-172: bm25-selected vs rank-fallback draws,
    * cross-split fallback counts) over THIS batch's already-drawn core
    * rows: one (recipe, reason, lane) aggregation — `lane` is the
    * resolved negative tier (src/sd/wd/fb or bm25), cross-split
    * fallbacks carry the `_fallback_same_split` recipe suffix. Lazy and
    * optional, exactly like the reference's feature gate: a trainer that
    * never asks pays nothing. The PAIR lane reports through its triplet
    * core (`statsCore` — each pair draw derives from exactly one triplet
    * draw, so the negative-tier counters are the triplet core's); text
    * cores carry no negative lane. Semantics oracle-pinned by q142. */
  lazy val laneStats: DataFrame =
    laneSource.groupBy(col("recipe"), col("reason"), col("lane"))
      .agg(count(lit(1)).cast("long").as("n"))

  private[operators] def laneSource: DataFrame = {
    val src = statsCore.getOrElse(core)
    require(src.columns.contains("lane"),
      "laneStats is the triplet driver's report (text cores carry no negative lane)")
    src
  }
}
object SamplerBatch {
  def apply(core: DataFrame, mkRows: () => DataFrame, state: SamplerState): SamplerBatch =
    new SamplerBatch(core, mkRows, state)
  def apply(core: DataFrame, mkRows: () => DataFrame, state: SamplerState,
      statsCore: Option[DataFrame]): SamplerBatch =
    new SamplerBatch(core, mkRows, state, statsCore)
}

/** Running extended-metrics totals across a sampler session — the
  * reference's counters are LIFETIME sums, not per-batch snapshots
  * (bm25_backend.rs:156-172 increments running totals as batches are
  * drawn). A trainer `add`s each [[SamplerBatch]] it consumed and reads
  * `totals` at any point; per-batch reports are (recipe, reason, lane)-
  * bounded handfuls of rows, so accumulation is a driver-side fold over
  * already-drawn data — no corpus work, no re-draw. Additivity (two
  * resumed half-batches sum to the one-shot batch's report) follows from
  * the stateless-draw law q143 pins; MetricsSpec asserts it directly. */
final class ExtendedMetrics {
  private val acc =
    scala.collection.mutable.Map.empty[(String, String, String), Long]
  /** Fold one drawn batch's lane report into the running totals: one
    * count per core row, on the driver. A sampler core is a driver-local
    * relation, so the collect runs no Spark job; only the fold is
    * serialized. */
  def add(b: SamplerBatch): this.type = {
    val rows = b.laneSource.select(col("recipe"), col("reason"), col("lane")).collect()
    synchronized {
      rows.foreach { r =>
        val k = (r.getString(0), r.getString(1), r.getString(2))
        acc(k) = acc.getOrElse(k, 0L) + 1L
      }
    }
    this
  }
  /** Lifetime totals keyed by (recipe, reason, lane). */
  def totals: Map[(String, String, String), Long] = synchronized(acc.toMap)
}

/** The composed batch driver — the reference's `next_triplet_batch` loop
  * (reference: src/sampler/mod.rs:868-948 cursor/epoch advance,
  * 2761-2801 ticket scheduling, 3091-3100 pad_with_reuse) re-expressed as
  * stateless draw arithmetic over [[SamplerState]] counters:
  *
  *   source defaults → ticket order → epoch-interleaved record pick →
  *   selector chunk picks → per-recipe negative-strategy dispatch
  *   (WrongArticle / WrongPublicationDate / QuestionAnswerMismatch) →
  *   identical-text rejection → seen-set dedup → pad_with_reuse →
  *   state advance.
  *
  * Every per-draw choice is a pure function of `(seed, epoch, draw)`, so
  * the global sample sequence is reproducible from the persisted counters
  * alone (resume = reload + continue) and invariant to batch size and
  * partitioning — the properties the reference pins with golden FNV
  * sequence hashes (src/sampler/tests.rs:17-50, tests/invariants.rs).
  *
  * The epoch advances MID-BATCH when the interleaved cycle completes
  * (reference advance_source_epoch): remaining slots draw from the next
  * epoch's reshuffled interleave AND reshuffled ticket plan. Records never
  * repeat within an epoch cycle (cycle-before-repeat) by construction —
  * positions are served in order off a per-epoch permutation.
  *
  * Scale shape: the only corpus-sized work per batch is the dense epoch
  * order ([[Mixing.epochOrder]] — per-source windows over (id, source)
  * pairs plus a broadcast source-stats join, no global window) and the
  * rank-pick joins over the narrow pool. The chunk restriction is an
  * `isin` PREDICATE over the batch's id list (≤ 2×batch longs), which
  * pushes below the chunk table's window/explode derivation to the record
  * scan — chunking cost per batch is ∝ batch size, not corpus size (a
  * broadcast join could not push through the Generate). The selector
  * windows and the negative rank-pick run on batch-bounded frames; the
  * core join, rejection, dedup and pad run in Scala on the driver over
  * the batch's core rows (ids, window indices, text hashes). No collect
  * of record text; the driver holds counters, the slot schedule and
  * those few×batch core rows.
  */
object Sampler {

  /** Selector → (mode, arg) for the broadcast draws frame of
    * [[Recipes.selectChunksBatch]]. TemporalOffset is CHUNK-level a
    * context-role pick — the reference selects the as-of neighbor record
    * and then its context chunk (src/sampler/mod.rs:1701-1704); the
    * record-level swap is [[temporalDays]] + the staged
    * [[temporalNeighborsFull]] map inside [[nextBatch]]. */
  def selectorDesc(s: Selector): (String, String) = s match {
    case Selector.RoleAnchor => ("role", "anchor")
    case Selector.RoleContext => ("role", "context")
    case Selector.Paragraph(i) => ("para", i.toString)
    case Selector.Random => ("random", "")
    case Selector.TemporalOffset(_) => ("role", "context")
  }

  /** Day offset of a temporal selector; None for chunk-level selectors. */
  def temporalDays(s: Selector): Option[Int] = s match {
    case Selector.TemporalOffset(d) => Some(d)
    case _ => None
  }

  /** The pool's staged rank sidecar, which every entry point requires. */
  private def stagedRanks(rankIndex: Option[DataFrame]): DataFrame = {
    require(rankIndex.nonEmpty, "rankIndex is required: pass the pool's staged " +
      "rank sidecar (PoolRankIndex.stage, or ComposedIndexQueries.rankIndexAndStats)")
    rankIndex.get
  }

  /** Materialize a BATCH-BOUNDED frame as a driver-local relation: the
    * values come from the same Spark plan (one collect — the same job an
    * eager localCheckpoint would run), but downstream consumers see a
    * LocalRelation, so broadcasting it costs no job, local projections of
    * it collect without scheduling one, and joins plan against exact
    * sizes. Lineage is cut exactly like localCheckpoint. Applied ONLY to
    * ≤ few×batch-row frames (the slot-schedule scale the driver already
    * holds — the counters-and-schedule contract); corpus-scale frames
    * (pool, rank sidecar, chunk tables) stay executor-side checkpoints. */
  private def localRelation(spark: SparkSession, df: DataFrame): DataFrame =
    localRows(spark, df.collect().toSeq, df.schema)

  private def localRows(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Seen-set dedup on the driver: per `key` columns, the row with the
    * minimum `draw` (reference seen-set, src/sampler/mod.rs:3091-3100). */
  private def seenFirst(rows: Seq[Row], schema: StructType, key: Seq[String]): Seq[Row] = {
    val ix = key.map(schema.fieldIndex)
    val d = schema.fieldIndex("draw")
    rows.sortBy(_.getLong(d)).distinctBy(r => ix.map(r.get))
  }

  /** pad_with_reuse and the slot join on the driver: [[Mixing.padSlots]]
    * over the candidates' `key` column, each slot joined back to its
    * candidate row. Columns: `key`, `slot`, then the other candidate
    * columns in order. */
  private def padded(spark: SparkSession, cands: Seq[Row], schema: StructType,
      key: String, batch: Int, seed: String): DataFrame = {
    val k = schema.fieldIndex(key)
    val rest = schema.indices.filter(_ != k)
    val byKey = cands.map(r => r.getLong(k) -> r).toMap
    val out = Mixing.padSlots(cands.map(_.getLong(k)), batch, seed).map { case (i, id) =>
      val r = byKey(id)
      Row.fromSeq(r.get(k) +: i +: rest.map(r.get))
    }
    localRows(spark, out, StructType(
      schema(k) +: StructField("slot", LongType, nullable = false) +: rest.map(schema(_))))
  }


  /** The as-of neighbor pick of `Selector::TemporalOffset` (reference
    * select_temporal_neighbor, src/sampler/mod.rs:950-976): for each record
    * in `forIds`, the pool candidate minimizing |sec − (record.sec +
    * days·86400)| among same-`source` candidates — or same leading-taxonomy
    * when the pool carries a `tax` column (the reference's source-or-key
    * disjunction) — with the q61/q64 deterministic tiebreak (smaller id
    * on equal |Δsec|) replacing the reference's map-order tie. Split
    * isolation is structural: the composed driver's pool is per-split, so
    * a neighbor can never cross splits (the contract src/config.rs:131-137
    * re-checks inside the engine; here the pool IS the split).
    *
    * This is the pairwise reference form, pinned equal to the staged
    * [[temporalNeighborsFull]] map the sampler serves from. Scale shape:
    * the left side is semi-joined down to `forIds` (broadcast), so cost is
    * |forIds| × the record's source/taxonomy group — the bounded-group
    * pairwise form (q61); unbounded-cardinality callers use the q60
    * union+window as-of instead. The OR-disjunction is a UNION of two
    * DISJOINT equi-joins (never a theta join). The argmin key is the
    * LEXICOGRAPHIC pair (|Δsec|, id) — a struct ordering, not the former
    * |Δsec|·1e7 + id scalar, whose id term could outweigh a 1-second |Δ|
    * gap once ids pass 1e7 (a latent wrong-neighbor hazard at corpus
    * scale, and the obstacle to an O(n log n) staged build; the DuckDB
    * twins replay the same pair via list comparison). */
  def temporalNeighbors(pool: DataFrame, days: Int, forIds: DataFrame): DataFrame = {
    require(pool.columns.contains("sec"),
      "TemporalOffset recipes need a `sec` (epoch seconds) column in the pool")
    val hasTax = pool.columns.contains("tax")
    def side(idAs: String, pre: String) = {
      val cs = Seq(col("id").as(idAs), col("source").as(pre + "source"),
        col("sec").as(pre + "sec")) ++
        (if (hasTax) Seq(col("tax").as(pre + "tax")) else Nil)
      pool.select(cs: _*)
    }
    // no distinct on the broadcast side: duplicate record_ids only
    // duplicate intermediate pairs, and the final min_by groupBy (and the
    // tax path's dropDuplicates) collapse them — values unchanged, and a
    // batch-local caller's broadcast stays a pure LocalRelation (no
    // aggregate job inside the broadcast subtree)
    val left = side("record_id", "a_")
      .join(broadcast(forIds.select(col("record_id"))), Seq("record_id"))
    val cand = side("nbid", "n_")
    val pairCols = Seq("record_id", "nbid", "a_sec", "n_sec").map(col)
    val bySrc = left.join(cand,
      col("a_source") === col("n_source") && col("record_id") =!= col("nbid"))
      .select(pairCols: _*)
    // the two arms are DISJOINT by construction — the tax arm keeps only
    // cross-source pairs (a same-source same-tax candidate already came
    // out of the source arm) — so the union IS the set union and the
    // former dropDuplicates exchange is deleted from the per-batch plan
    val pairs =
      if (!hasTax) bySrc
      else bySrc.unionByName(left.join(cand,
          col("a_tax") === col("n_tax") && col("a_source") =!= col("n_source") &&
            col("record_id") =!= col("nbid"))
        .select(pairCols: _*))
    pairs
      .withColumn("selkey", struct(
        abs(col("n_sec") - (col("a_sec") + lit(days * 86400L))).as("d"),
        col("nbid").as("i")))
      .groupBy(col("record_id"))
      .agg(min_by(col("nbid"), col("selkey")).as("nbid"))
  }

  /** [[temporalNeighbors]] for EVERY pool record — the refresh-time
    * staged form (the chunk/rank-index treatment applied to the as-of
    * neighbor map, persisted by
    * [[graft.queries.ComposedIndexQueries.neighborIndex]]). O(n log n)
    * per arm instead of the pairwise Σ|group|²: rank the DISTINCT
    * candidate seconds per group, find each target's last candidate-sec
    * at-or-below its target time with ONE ordered window over the
    * interleaved union (the q60 as-of idiom), then probe ranks
    * r−1 … r+2 carrying the two smallest ids per sec. That candidate
    * superset always contains the argmin: the lexicographic
    * (|Δsec|, id) key compares |Δsec| first, so a farther sec can never
    * beat a nearer one on the same side (this is exactly why the scalar
    * 1e7-key had to go), the nearest eligible sec per side is at rank
    * r / r+1 — or r−1 / r+2 when self-exclusion empties it, and
    * self-exclusion removes at most ONE id from at most ONE sec, so two
    * ids per sec suffice. Pinned equal to the pairwise form over
    * adversarial fixtures (ties, self-nearest, singleton groups,
    * negative offsets) by StateAndRecipesSpec. Returns (record_id,
    * nbid); records with no eligible neighbor are absent — the serving
    * join then drops their slots (skip-not-contaminate). */
  def temporalNeighborsFull(pool: DataFrame, days: Int): DataFrame = {
    require(pool.columns.contains("sec"),
      "TemporalOffset recipes need a `sec` (epoch seconds) column in the pool")
    val offset = days * 86400L
    def arm(key: String): DataFrame = {
      val cands = pool.select(col(key).as("k"), col("sec").as("csec"), col("id"))
      val first = cands.groupBy(col("k"), col("csec")).agg(min(col("id")).as("id1"))
      val second = cands.join(first, Seq("k", "csec"))
        .filter(col("id") =!= col("id1"))
        .groupBy(col("k"), col("csec")).agg(min(col("id")).as("id2"))
      val secTbl = first.join(second, Seq("k", "csec"), "left")
        .withColumn("prnk", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("csec"))))
      // rank lookup by interleaved union: candidate rows sort BEFORE
      // target rows at equal time (tag), so a candidate exactly AT the
      // target time lands on the ≤ side, matching abs() semantics
      val candSide = secTbl.select(col("k"), col("csec").as("t"), lit(0).as("tag"),
        col("prnk"), lit(null).cast("long").as("record_id"))
      val tgtSide = pool.select(col(key).as("k"), (col("sec") + lit(offset)).as("t"),
        lit(1).as("tag"), lit(null).cast("int").as("prnk"), col("id").as("record_id"))
      val runW = Window.partitionBy(col("k")).orderBy(col("t"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = candSide.unionByName(tgtSide)
        .withColumn("r", last(col("prnk"), ignoreNulls = true).over(runW))
        .filter(col("tag") === 1)
        .select(col("k"), col("record_id"), col("t").as("tsec"),
          coalesce(col("r"), lit(0)).as("r"))
      ranked
        .withColumn("prnk", explode(expr("sequence(r - 1, r + 2)")))
        .join(secTbl, Seq("k", "prnk"))
        .select(col("record_id"), col("tsec"), col("csec"),
          explode(array(col("id1"), col("id2"))).as("nbid"))
        .filter(col("nbid").isNotNull && col("nbid") =!= col("record_id"))
        .select(col("record_id"), col("nbid"),
          struct(abs(col("csec") - col("tsec")).as("d"), col("nbid").as("i")).as("selkey"))
    }
    // arm overlap is harmless here (min of mins over subsets whose union
    // is the eligible set), so the tax arm keeps same-source candidates
    val arms = if (pool.columns.contains("tax")) Seq("source", "tax") else Seq("source")
    arms.map(arm).reduce(_ unionByName _)
      .groupBy(col("record_id"))
      .agg(min_by(col("nbid"), col("selkey")).as("nbid"))
  }

  /** Fails at the call unless every temporal offset among `days` has its
    * staged neighbor map ([[temporalNeighborsFull]], persisted by
    * [[graft.queries.ComposedIndexQueries.neighborIndex]]) in
    * `neighborIndex`. */
  private def requireNeighbors(days: Seq[Option[Int]],
      neighborIndex: Map[Int, DataFrame]): Unit =
    days.flatten.distinct.foreach(d => require(neighborIndex.contains(d),
      s"TemporalOffset($d) recipes need the staged neighbor map for offset $d " +
        s"in neighborIndex (build it with temporalNeighborsFull)"))

  /** The chunk-source record per draw for one slot's selectors: `dayOf`
    * maps each recipe name to its selector's temporal offset. Temporal
    * recipes swap in the as-of neighbor (reference select_chunk,
    * src/sampler/mod.rs:1701-1704: TemporalOffset resolves the neighbor
    * record, then picks its CONTEXT chunk; no same-pool neighbor → the
    * slot drops and pad_with_reuse fills the batch — the contract's "skip
    * rather than contaminate", src/config.rs:131-137) through an id-pruned
    * read of the staged, record_id-sorted neighbor map — zero pool-scale
    * work; `base` is a LocalRelation, so the id collect schedules no job.
    * Returns (hasTemporal, plan): the PLAN only — callers localize it
    * (and fuse several slots into one collect when any lane is temporal);
    * slot sets without temporal selectors return the base projection
    * untouched. */
  private def chunkSources(dayOf: Seq[(String, Option[Int])], base: DataFrame,
      neighborIndex: Map[Int, DataFrame]): (Boolean, DataFrame) = {
    // fallback rows carry the `_fallback_same_split`-suffixed recipe name
    // (crossSplitPick) — match both forms
    def forms(ns: Seq[String]) = ns ++ ns.map(_ + Recipes.FallbackSuffix)
    val temporal = dayOf.collect { case (n, Some(d)) => (n, d) }
    if (temporal.isEmpty) (false, base.select(col("draw"), col("record_id")))
    else {
      val plainNames = dayOf.collect { case (n, None) => n }
      val lanes = temporal.groupBy(_._2).toSeq.sortBy(_._1).map { case (d, rs) =>
        val forIds = base.filter(col("recipe").isin(forms(rs.map(_._1)): _*))
          .select(col("draw"), col("record_id"))
        val ids = forIds.select(col("record_id")).collect().map(_.getLong(0)).distinct.toSeq
        forIds.join(neighborIndex(d).filter(col("record_id").isin(ids: _*)), Seq("record_id"))
          .select(col("draw"), col("nbid").as("record_id"))
      }
      val plain =
        if (plainNames.isEmpty) Nil
        else Seq(base.filter(col("recipe").isin(forms(plainNames): _*))
          .select(col("draw"), col("record_id")))
      (true, (plain ++ lanes).reduce(_ unionByName _))
    }
  }

  /** The state a `batch`-draw [[nextBatch]] call will RETURN, computed
    * without running it: the cursor/epoch walk is pure counter
    * arithmetic over `poolSize` (the persisted per-source stats sum for
    * a staged pool — zero Spark jobs). This is what lets a serving loop
    * produce several batches CONCURRENTLY with in-order delivery
    * ([[BatchPrefetcher]] `parallelism`): batch i+1's state never waits
    * on batch i's jobs, only on this arithmetic. Pinned equal to the
    * chained `nextBatch(...).state` sequence by StateAndRecipesSpec. */
  def advanceState(st: SamplerState, batch: Int, poolSize: Long): SamplerState =
    scheduleSlots(st, batch, poolSize, _ => Seq(""))._2

  /** Slot schedule: driver-side counter arithmetic only — (draw, epoch,
    * pos, recipe) per slot, with the mid-batch epoch advance when the
    * interleave cycle completes. `planFor` yields the (re-shuffled) ticket
    * plan of an epoch. Returns (slots, the state after the batch). */
  private def scheduleSlots(st: SamplerState, batch: Int, poolSize: Long,
      planFor: Long => Seq[String]): (Seq[(Long, Long, Long, String)], SamplerState) = {
    val drawBase = st.counter("draw")
    var e = st.epoch
    var cur = st.counter("cursor")
    var plan = planFor(e)
    val slotsB = Seq.newBuilder[(Long, Long, Long, String)]
    var i = 0
    while (i < batch) {
      val draw = drawBase + i
      slotsB += ((draw, e, cur, Recipes.pick(plan, 0L, draw)))
      cur += 1
      if (cur == poolSize) { // cycle complete: mid-batch epoch advance
        cur = 0L; e += 1
        plan = planFor(e)
      }
      i += 1
    }
    (slotsB.result(), st.copy(epoch = e, counters = st.counters
      .updated("draw", drawBase + batch).updated("cursor", cur)
      .updated("pool_size", poolSize)))
  }

  /** The prologue every entry point shares: the staged per-source stats
    * (sorted; #sources-bounded — the same table the reference keeps in
    * memory per pool), which serve pool size, every epoch pick and the
    * fallback source order with zero Spark jobs, then the slot schedule.
    * The pool size is the persisted `pool_size` counter when set, else
    * the stats' sum. Returns (srcCounts, slots, the state after the
    * batch). */
  private def schedule(st: SamplerState, batch: Int, srcStats: Option[Seq[(String, Long)]],
      planFor: Long => Seq[String])
      : (Seq[(String, Long)], Seq[(Long, Long, Long, String)], SamplerState) = {
    require(batch > 0, "batch must be > 0")
    require(srcStats.nonEmpty, "srcStats is required: pass the staged per-source " +
      "stats (PoolRankIndex.stage, or ComposedIndexQueries.rankIndexAndStats)")
    val srcCounts = srcStats.get.sortBy(_._1)
    val cached = st.counter("pool_size")
    val poolSize = if (cached > 0L) cached else srcCounts.map(_._2).sum
    require(poolSize > 0, "empty record pool")
    val (slots, st2) = scheduleSlots(st, batch, poolSize, planFor)
    (srcCounts, slots, st2)
  }

  /** Record pick: each slot's record off its epoch's interleave
    * ([[Mixing.epochPick]] — bounded-position pick, the dense order
    * inverted analytically instead of a corpus-wide position column per
    * batch), as a driver-local relation of (draw, epoch, recipe,
    * [reason,] record_id, source). The rank sidecar's staged epoch-0 rank
    * (`er0`) serves epoch 0, so the per-batch rank window disappears for
    * the entire first epoch; `reasonOf` adds the triplet slots' strategy
    * tag. */
  private def slotRecords(spark: SparkSession, pool: DataFrame,
      slots: Seq[(Long, Long, Long, String)], srcCounts: Seq[(String, Long)],
      rankTbl: DataFrame, reasonOf: Option[String => String]): DataFrame = {
    import spark.implicits._
    localRelation(spark, slots.groupBy(_._2).toSeq.sortBy(_._1).map { case (ep, ss) =>
      val sdf = ss.map(s => (s._1, s._3, s._4, reasonOf.map(_(s._4)).orNull))
        .toDF("draw", "pos", "recipe", "reason")
      val pre = if (ep == 0) Some(rankTbl.select(col("source"), col("er0").as("r"), col("id")))
        else None
      Mixing.epochPick(pool, ep, ss.map(_._3), Some(srcCounts), pre)
        .join(broadcast(sdf), "pos")
        .select(Seq(col("draw"), lit(ep).as("epoch"), col("recipe")) ++
          reasonOf.map(_ => col("reason")) ++
          Seq(col("id").as("record_id"), col("source")): _*)
    }.reduce(_ unionByName _))
  }

  /** The seeded fallback source order as (source, srnk, nsrc) — the ONE
    * derivation both the sidecar build ([[rankSidecar]]'s srnk/scnt
    * columns, persisted at refresh) and the serving-time fallback
    * resolution (strategyPick's exact-key probe) must share: a staged
    * deployment resolves REFRESH-time srnk values through SERVING-time
    * order, so the two copies drifting apart would silently retarget
    * every fallback draw. */
  private[operators] def fallbackOrder(srcCounts: Seq[(String, Long)])
      : Seq[(String, Long, Long)] = {
    val cnt = srcCounts.toMap
    srcCounts.map(_._1)
      .sortBy(src => (Determinism.jvmHash(s"fsord:$src"), src)).zipWithIndex
      .map { case (src, i) => (src, i.toLong, cnt(src)) }
  }

  /** The pool-rank sidecar's derivation (the PLAN — callers stage it):
    * per-source ranks (rn, nsrc), the epoch-0 interleave rank (er0),
    * per-(source, date) ranks and date-group attrs for dated pools
    * (rn2/dgs/drnk/dcnt), and the seeded fallback source order
    * (srnk/scnt) folded in per row. ONE corpus pass over narrow columns —
    * no text. Built once per pool REFRESH through [[PoolRankIndex]]
    * (persisted with `save`, or in memory with `stage`) and served to
    * every batch as `rankIndex` (reference pool staging,
    * src/sampler/mod.rs:994-1151 — staged per refresh, not per batch).
    * `srcCounts` is the per-source stats collect (the epochPick identity
    * — jvmHash ≡ the seeded column hash). */
  def rankSidecar(pool: DataFrame, srcCounts: Seq[(String, Long)]): DataFrame = {
    val spark = pool.sparkSession
    import spark.implicits._
    val hasDate = pool.columns.contains("date")
    val wSrc = Window.partitionBy(col("source"))
    val base0 = pool
      .withColumn("rn", row_number().over(wSrc.orderBy(col("id"))).cast("long") - 1)
      .withColumn("nsrc", count(lit(1)).over(wSrc).cast("long"))
      // the EPOCH-0 interleave rank (Mixing.epochPick's per-source
      // seeded order for epoch 0, identical orderBy + tiebreak): a pure
      // pool function, so it stages with the sidecar and the first
      // epoch's batches — the overwhelming share of a long pool's
      // serving life (epoch advances only after a full pool cycle) —
      // skip the per-batch rank window entirely; later epochs derive
      // their reshuffled order in-plan as before
      .withColumn("er0", row_number().over(wSrc.orderBy(
        Determinism.seeded("ro:0", col("id")), col("id"))).cast("long") - 1)
    // per-row date-group attrs replace the former dG side table:
    //   drnk — the record's date-group rank within its source
    //          (dense_rank over rows ≡ row_number over distinct dates);
    //   dcnt — the source's date-group count (max drnk + 1)
    val base =
      if (!hasDate) base0
      else {
        val wSD = Window.partitionBy(col("source"), col("date"))
        base0
          .withColumn("rn2", row_number().over(wSD.orderBy(col("id"))).cast("long") - 1)
          .withColumn("dgs", count(lit(1)).over(wSD).cast("long"))
          .withColumn("drnk", (dense_rank().over(wSrc.orderBy(col("date"))) - 1).cast("long"))
          .withColumn("dcnt", max(col("drnk")).over(wSrc).cast("long") + 1)
      }
    // seeded fallback source order, folded in per-row (replaces the sG
    // side table) — a driver-side sort of the already-collected source
    // stats, shipped as a LocalRelation so the broadcast costs no job
    val sOrd = fallbackOrder(srcCounts)
      .map { case (src, srnk, _) => (src, srnk, srcCounts.size.toLong) }
      .toDF("source", "srnk", "scnt")
    val cols0 = Seq(col("id"), col("source"), col("rn"), col("nsrc"),
      col("er0"), col("srnk"), col("scnt")) ++
      (if (hasDate) Seq(col("date"), col("rn2"), col("dgs"), col("drnk"), col("dcnt"))
       else Nil)
    base.join(broadcast(sOrd), Seq("source")).select(cols0: _*)
  }

  /** Produce the next batch of `batch` triplets.
    *
    * Each slot's negative RECORD is picked by its recipe's declared
    * [[NegativeStrategy]] — the reference's per-slot strategy dispatch
    * (reference: src/sampler/mod.rs:1329-1405 dispatch, strategy pools
    * 994-1151):
    *   - `WrongArticle`: same-source skip-the-anchor rank pick
    *     (hash stream `neg:`);
    *   - `QuestionAnswerMismatch`: the same pool shape but its own hash
    *     stream (`negq:`) — a different record whose answer/context gets
    *     paired against this anchor's question;
    *   - `WrongPublicationDate`: two-level pick — a date group of the same
    *     source OTHER than the anchor's (`negd:`), then a record inside it
    *     (`negr:`). Requires a dated pool (a `date` column in `rankIndex`).
    * In a dated pool, `WrongArticle` prefers
    * same-source same-DATE candidates (tier 1, stream `nega:`) before the
    * plain same-source pick — the reference's date preference
    * (src/sampler/mod.rs:996-1032). Every strategy whose primary pool is
    * empty (singleton source, or single date group for wrong-date) falls
    * back to the cross-source same-split two-level pick (`negs:`/`negc:`)
    * with the recipe name suffixed `_fallback_same_split`
    * (src/sampler/mod.rs:1097-1151, 1391-1395). Every delivered row
    * carries the strategy's `reason` tag.
    *
    * @param chunks chunk table (columns of [[graft.core.RecordChunk]]):
    *               record_id, section_idx, role, view_kind, window_index,
    *               overlap, wtext
    * @param pool   record pool: `id`, `source` (one row per record) — read
    *               only by the interleave pick of epochs after the first
    * @param recipes resolved recipe set (configured or source defaults —
    *               apply [[Recipes.resolve]]/[[Recipes.withAutoInjected]]
    *               upstream)
    * @param st     counters: `draw` (global, never resets — drives recipe
    *               rotation and every hash pick), `cursor` (position in the
    *               epoch's interleave, resets on epoch advance),
    *               `pool_size` (epoch-stable pool count, computed once and
    *               persisted — drop it via [[SamplerState]] on source
    *               refresh so the next batch re-counts)
    * @param decoration optional `(sampler, maxWindowTokens)`: decorate every
    *               picked chunk with a KVP metadata prefix under the token
    *               budget ([[Decoration.decorateColumn]]) before hashing —
    *               the reference decorates inside the batch loop with a
    *               per-(record, draw) key (src/sampler/mod.rs:1470-1508);
    *               here the key is `dec:<slot>:<record_id>:<draw>` so the
    *               three slots roll independent prefixes, exactly like the
    *               decorated lane ([[Triplets.tripletRowsDecorated]])
    * @param bm25Index the staged [[Bm25PoolIndex]]; required when any
    *               recipe uses the BM25 negative backend
    * @param rankIndex the pool's staged rank sidecar ([[PoolRankIndex]]:
    *               `stage` in memory, or `save`/`load`); required. It
    *               carries the `date` column WrongPublicationDate needs.
    * @param srcStats the same staging's per-source stats; required
    * @param neighborIndex the staged as-of neighbor map per temporal
    *               offset ([[temporalNeighborsFull]]); required for every
    *               offset a recipe's selectors use
    */
  def nextBatch(spark: SparkSession, chunks: DataFrame, pool: DataFrame,
      recipes: Seq[TripletRecipe], st: SamplerState, batch: Int,
      decoration: Option[(graft.functions.KvpPrefixSampler, Int)] = None,
      bm25Index: Option[Bm25PoolIndex] = None,
      rankIndex: Option[DataFrame],
      srcStats: Option[Seq[(String, Long)]],
      neighborIndex: Map[Int, DataFrame] = Map.empty): SamplerBatch = {
    val (schema, core, _, deduped, st2) = composed(spark, chunks, pool, recipes, st, batch,
      decoration, bm25Index, rankIndex, srcStats, neighborIndex)
    SamplerBatch(localRows(spark, core, schema),
      () => padded(spark, deduped, schema, "draw", batch, s"pad:${st.seed}:${st.counter("draw")}"),
      st2)
  }

  /** The shared composed-triplet stream, as driver rows: returns (schema,
    * core, kept, deduped, state) — `core` every drawn triplet in draw
    * order, `kept` the identical-text rejection survivors, `deduped` the
    * seen-set survivors of those the entry points pad. */
  private def composed(spark: SparkSession, chunks: DataFrame, pool: DataFrame,
      recipes: Seq[TripletRecipe], st: SamplerState, batch: Int,
      decoration: Option[(graft.functions.KvpPrefixSampler, Int)],
      bm25Index: Option[Bm25PoolIndex],
      rankIndex: Option[DataFrame],
      srcStats: Option[Seq[(String, Long)]],
      neighborIndex: Map[Int, DataFrame])
      : (StructType, Seq[Row], Seq[Row], Seq[Row], SamplerState) = {
    import spark.implicits._
    // the pool-rank sidecar, staged once per pool refresh
    // ([[PoolRankIndex]]): the strategy×tier lanes read it through a
    // single keyed plan. Its `date` column marks a dated pool.
    val rankTbl = stagedRanks(rankIndex)
    require(bm25Index.nonEmpty || !recipes.exists(_.negativeBackend == NegativeBackend.Bm25),
      "BM25-backend recipes need a staged Bm25PoolIndex (bm25Index)")
    requireNeighbors(recipes.flatMap(r =>
      Seq(r.anchor, r.positive, r.negativeSelector).map(temporalDays)), neighborIndex)
    val byName = recipes.map(r => r.name -> r).toMap
    def localize(df: DataFrame): DataFrame = localRelation(spark, df) // see localRelation
    val (srcCounts, slots, st2) =
      schedule(st, batch, srcStats, ep => Recipes.ticketOrder(recipes, st.seed, ep))

    val hasDate = rankTbl.columns.contains("date")

    // ---- record pick: per-epoch interleave joined on position ----
    // Each composed frame from here on is BATCH-sized and feeds several
    // downstream consumers; localize() materializes it as a driver-local
    // relation so every subsequent job plans over a tiny leaf instead of
    // replaying (and re-optimizing, and re-describing to the SQL listener)
    // the whole upstream tree. Without the cuts the final plan duplicates the pick
    // subtree ~6x and a 6-batch golden run spends ~100 s/batch just
    // BUILDING plan strings (ExplainUtils on every AQE stage update).
    // Values are unaffected — every column is a pure (seed, epoch, draw)
    // function; only lineage is cut.
    val slotRec = slotRecords(spark, pool, slots, srcCounts, rankTbl,
      Some(name => byName(name).negative.reason))

    // ---- anchor chunk-pick metadata (driver-side; the bm25 lane's query
    // text is the anchor pick) ----
    val slotMeta = slots.map { case (draw, _, _, name) =>
      val (am, aa) = selectorDesc(byName(name).anchor)
      (draw, am, aa)
    }.toDF("draw", "a_mode", "a_arg")
    // ---- chunk-source records per slot ([[chunkSources]]: temporal
    // selectors swap in the staged as-of neighbor) ----
    def chunkRecordsPlan(sel: TripletRecipe => Selector, base: DataFrame)
        : (Boolean, DataFrame) =
      chunkSources(recipes.map(r => r.name -> temporalDays(sel(r))), base, neighborIndex)
    def chunkRecords(sel: TripletRecipe => Selector, base: DataFrame): DataFrame = {
      val (temporal, plan) = chunkRecordsPlan(sel, base)
      if (temporal) localize(plan) else plan
    }

    // ---- negative record: fused strategy × tier dispatch over the
    // staged rank sidecar ----
    def drawKey(prefix: String) = Determinism.portableHash(
      concat(lit(s"$prefix:${st.seed}:"), col("draw").cast("string"), lit(":"),
        col("record_id").cast("string")))
    // same strings as drawKey, with the stream prefix as a per-row COLUMN
    def drawKeyOf(stream: Column) = Determinism.portableHash(
      concat(stream, lit(s":${st.seed}:"), col("draw").cast("string"), lit(":"),
        col("record_id").cast("string")))
    // `lane` (the resolved tier: src/sd/wd/fb, or bm25) rides along for
    // the extended-metrics report (reference bm25_backend.rs:156-172) —
    // a pure relabeling of rows that already existed, so every digest
    // and oracle that selects named columns is untouched
    val negOut = Seq("draw", "epoch", "recipe", "reason", "record_id", "nid").map(col) :+
      col("tier").as("lane")
    // the fallback lane's (srnk → source, count) resolution table — the
    // SAME derivation rankSidecar folds into the persisted sidecar
    // ([[fallbackOrder]]), built once per batch (strategyPick can run
    // twice — Default and BM25 backends) as a #sources-row LocalRelation
    lazy val fbOrd = {
      import spark.implicits._
      fallbackOrder(srcCounts)
        .map { case (src, srnk, n) => (srnk, src, n) }
        .toDF("t_srnk", "t_source", "t_nsrc")
    }
    val waR = NegativeStrategy.WrongArticle.reason
    val qaR = NegativeStrategy.QuestionAnswerMismatch.reason
    val wdR = NegativeStrategy.WrongPublicationDate.reason
    /** All DefaultBackend strategy×tier lanes as ONE keyed plan
      * (reference pool staging, src/sampler/mod.rs:994-1151): each anchor
      * row picks its tier —
      *   WrongArticle → same-source same-DATE skip-the-anchor (`nega`,
      *     dated pools with a ≥2 date group) → same-source (`neg`) →
      *     fallback;
      *   QuestionAnswerMismatch → same-source (`negq`) → fallback;
      *   WrongPublicationDate → other-date-group two-level
      *     (`negd`/`negr`) → fallback;
      *   fallback = cross-source same-split two-level (`negs`/`negc`),
      *     recipe suffixed `_fallback_same_split`; slots whose pool holds
      *     no other source drop (src/sampler/mod.rs:1097-1151, 1391-1395)
      * — then each tier resolves through ONE direct keyed lookup into the
      * enriched sidecar: src by (source, rn), sd by (source, date, rn2),
      * wd by (source, drnk) + the in-group rank filter (the filter reads
      * the TARGET row's own group size — the match is bounded by one
      * date-group, and the group sizes are not known driver-side), fb by
      * the exact (source, rn) key (the srnk→source order and per-source
      * counts ARE driver-side, so the target rank resolves before the
      * sidecar join — one matched row per draw). Hash
      * streams, tier predicates, and delivered values are bit-identical
      * to the per-lane dispatch (golden matrix + q57/q58/q59/q66 oracles
      * pin this). */
    def strategyPick(anchors: DataFrame, strategies: Seq[NegativeStrategy]): DataFrame = {
      if (strategies.contains(NegativeStrategy.WrongPublicationDate))
        require(hasDate,
          "WrongPublicationDate recipes need a `date` column in the pool the rank index was built from")
      val metaCols = Seq(col("id").as("record_id"), col("rn").as("a_rn"), col("nsrc"),
        col("srnk"), col("scnt")) ++
        (if (hasDate) Seq(col("date").as("a_date"), col("rn2").as("a_rn2"), col("dgs"),
          col("drnk").as("a_drnk"), col("dcnt"))
         else Nil)
      val m = anchors.join(rankTbl.select(metaCols: _*), Seq("record_id"))
      val waTier =
        if (hasDate)
          when(col("dgs") >= 2, lit("sd"))
            .when(col("nsrc") >= 2, lit("src")).otherwise(lit("fb"))
        else when(col("nsrc") >= 2, lit("src")).otherwise(lit("fb"))
      val tierCol = {
        val base = when(col("reason") === waR, waTier)
          .when(col("reason") === qaR,
            when(col("nsrc") >= 2, lit("src")).otherwise(lit("fb")))
        if (hasDate)
          base.when(col("reason") === wdR,
            when(col("dcnt") >= 2, lit("wd")).otherwise(lit("fb")))
        else base
      }
      val t0 = m.withColumn("tier", tierCol)
        .filter(col("tier") =!= "fb" || col("scnt") >= 2)
      val t1 =
        if (!hasDate) t0
        else t0
          .withColumn("p0sd", pmod(drawKey("nega"), greatest(col("dgs") - 1, lit(1L))))
          .withColumn("n_rn2",
            when(col("p0sd") >= col("a_rn2"), col("p0sd") + 1).otherwise(col("p0sd")))
          .withColumn("d0", pmod(drawKey("negd"), greatest(col("dcnt") - 1, lit(1L))))
          .withColumn("t_drnk", when(col("tier") === "wd",
            when(col("d0") >= col("a_drnk"), col("d0") + 1).otherwise(col("d0"))))
      val t = t1
        .withColumn("p0s", pmod(
          drawKeyOf(when(col("reason") === qaR, lit("negq")).otherwise(lit("neg"))),
          greatest(col("nsrc") - 1, lit(1L))))
        .withColumn("n_rn",
          when(col("p0s") >= col("a_rn"), col("p0s") + 1).otherwise(col("p0s")))
        .withColumn("s0", pmod(drawKey("negs"), greatest(col("scnt") - 1, lit(1L))))
        .withColumn("t_srnk", when(col("tier") === "fb",
          when(col("s0") >= col("srnk"), col("s0") + 1).otherwise(col("s0"))))
        .withColumn("recipe", when(col("tier") === "fb",
          concat(col("recipe"), lit(Recipes.FallbackSuffix))).otherwise(col("recipe")))
      // per-tier resolution lookups (each a broadcast-side batch frame
      // against the checkpointed sidecar)
      val srcKeyed = t.filter(col("tier") === "src")
        .join(rankTbl.select(col("source"), col("rn").as("n_rn"), col("id").as("nid")),
          Seq("source", "n_rn"))
        .select(negOut: _*)
      // fallback: the target source is the t_srnk-ranked one; the record
      // inside it is `pmod(negc-key, ccnt)`. Both the srnk→source order
      // and the per-source counts are pure functions of `srcCounts`
      // (exactly the values rankSidecar folds into the sidecar), so the
      // target's (source, rn) key resolves against a #sources-row
      // broadcast BEFORE the sidecar join — one matched row per fb draw,
      // not one per record of the target source (which at corpus scale
      // made the fb lane's join output grow with source size).
      val fbKeyed = t.filter(col("tier") === "fb")
        .join(broadcast(fbOrd), Seq("t_srnk"))
        .withColumn("t_rn", pmod(drawKey("negc"), col("t_nsrc")))
        .join(rankTbl.select(col("source").as("t_source"), col("rn").as("t_rn"),
          col("id").as("nid")), Seq("t_source", "t_rn"))
        .select(negOut: _*)
      val srcSide = srcKeyed.unionByName(fbKeyed)
      if (!hasDate) srcSide
      else {
        val sdKeyed = t.filter(col("tier") === "sd")
          .join(rankTbl.select(col("source"), col("date").as("a_date"),
            col("rn2").as("n_rn2"), col("id").as("nid")),
            Seq("source", "a_date", "n_rn2"))
          .select(negOut: _*)
        // wrong-date: target group by (source, drnk); the record inside it
        // is `pmod(negr-key, dct)` where dct (== the target group's dgs)
        // is read off the target rows
        val wdKeyed = t.filter(col("tier") === "wd")
          .join(rankTbl.select(col("source"), col("drnk").as("t_drnk"),
            col("rn2").as("t_rn2"), col("dgs").as("t_dgs"), col("id").as("nid")),
            Seq("source", "t_drnk"))
          .filter(col("t_rn2") === pmod(drawKey("negr"), col("t_dgs")))
          .select(negOut: _*)
        srcSide.unionByName(sdKeyed).unionByName(wdKeyed)
      }
    }
    def strategiesOf(backend: NegativeBackend): Seq[NegativeStrategy] =
      slots.map(s => byName(s._4)).filter(_.negativeBackend == backend)
        .map(_.negative).distinct
    val bmNames = recipes.filter(_.negativeBackend == NegativeBackend.Bm25).map(_.name)

    // ---- BM25 scoring sidecar (slot-INDEPENDENT): the staged
    // weighted-term table of the [[Bm25PoolIndex]] — per-(source, term,
    // cand) e6 term scores, the whole df/idf/tf-part pass run once per
    // pool refresh — filtered to the batch's anchor sources. No checkpoint
    // and no background force: the staged table is a flat leaf already
    // (parquet, or an in-memory staging), the scoring join streams it with
    // the source filter pruning row groups; a checkpoint would only
    // re-materialize a pool-scale table into the block store per batch
    // (A/B'd wall-neutral locally, strictly worse at scale).
    val wtermPre: Option[DataFrame] = if (bmNames.isEmpty) None else Some {
      // batch-bounded source list, deduped on the driver (slotRec is a
      // LocalRelation — no job)
      val srcList = slotRec.filter(col("recipe").isin(bmNames: _*))
        .select(col("source")).collect().map(_.getString(0)).distinct.toSeq
      bm25Index.get.wterm.filter(col("source").isin(srcList: _*))
    }

    /** Bm25Backend lanes (reference: bm25_backend.rs:120-174): re-rank the
      * strategy pool by the BM25 score of the anchor's SELECTED chunk text
      * against each candidate's `btoks`, rotate through the top-3 by the
      * (seed, draw, anchor) hash stream — the stateless twin of the
      * reference's per-(anchor, split) cursor — and fall back to the
      * DefaultBackend pick for slots whose scored intersection is empty.
      *
      * Scale shape: the staged weighted-term table is filtered to the
      * BATCH's anchor sources and query terms. The anchor⋈candidate product passes
      * through ONE (source, term) join (the q85 lane's shape). The
      * anchor-text pick re-runs the final a-slot's pure pick (stream
      * `sel:a:` — bit-identical text) over the a/p chain's ALREADY
      * MATERIALIZED batch-restricted chunk checkpoint, so the re-pick
      * costs one narrow window over a tiny leaf, not a second chunk
      * derivation. */
    def bm25Lanes(qtermsPre: (DataFrame, Seq[String])): DataFrame = {
      val bmSlots = slotRec.filter(col("recipe").isin(bmNames: _*))
      val (qterms, termList) = qtermsPre
      val wterm = wtermPre.get.filter(col("term").isin(termList: _*))
      val scoredAll = broadcast(
          bmSlots.select(col("draw"), col("record_id"), col("source"), col("reason"))
            .join(qterms, "draw"))
        .join(wterm, Seq("source", "term"))
        .filter(col("cand") =!= col("record_id"))
      // wrong-date slots additionally require a different date group —
      // the strategy pool predicate applies BEFORE the re-rank
      val wdReason = NegativeStrategy.WrongPublicationDate.reason
      val scoredF =
        if (!strategiesOf(NegativeBackend.Bm25).contains(NegativeStrategy.WrongPublicationDate))
          scoredAll
        else scoredAll
          .join(rankTbl.select(col("id").as("record_id"), col("date").as("a_date")), "record_id")
          .join(rankTbl.select(col("id").as("cand"), col("date").as("c_date")), "cand")
          .filter(col("reason") =!= wdReason || col("a_date") =!= col("c_date"))
      val scored = scoredF.groupBy(col("draw"), col("record_id"), col("cand"))
        .agg(sum(col("term_e6")).as("score_e6"))
      // top-3 + rotation as ONE aggregation — ascending struct sort on
      // (-score, cand) ≡ the former (score desc, cand) rank window, the
      // rotation modulus is the array size ≡ the former count window, and
      // an empty intersection simply produces no row. Replaces two window
      // exchanges + a filter with a single shuffle on the already-grouped
      // keys.
      val picked = scored.groupBy(col("draw"), col("record_id"))
        .agg(slice(array_sort(collect_list(
          struct((-col("score_e6")).as("ns"), col("cand")))), 1, 3).as("t3"))
        .select(col("draw"), element_at(col("t3"),
          (pmod(drawKey("negb"), size(col("t3")).cast("long")) + 1).cast("int"))
          .getField("cand").as("nid"))
      // BM25 hit lane and the empty-intersection default fallback as ONE
      // plan: both left-join the LocalRelation slot frame, so the scoring
      // chain and the keyed default pick execute CONCURRENTLY inside the
      // single negRec job (formerly: materialize picked → anti-join →
      // strategyPick(rest), a sequential second job) and the scoring
      // subtree is referenced exactly once — no mid-lane materialization.
      // strategyPick is per-row pure (keyed sidecar lookups), so running
      // it over hit slots too and discarding those rows changes no value.
      val dflt = strategyPick(bmSlots, strategiesOf(NegativeBackend.Bm25))
        .select(col("draw"), col("recipe").as("d_recipe"), col("nid").as("d_nid"),
          col("lane").as("d_lane"))
      bmSlots
        .join(picked.withColumnRenamed("nid", "b_nid"), Seq("draw"), "left")
        .join(dflt, Seq("draw"), "left")
        .filter(col("b_nid").isNotNull || col("d_nid").isNotNull)
        .select(col("draw"), col("epoch"),
          when(col("b_nid").isNotNull, col("recipe")).otherwise(col("d_recipe")).as("recipe"),
          col("reason"), col("record_id"),
          coalesce(col("b_nid"), col("d_nid")).as("nid"),
          when(col("b_nid").isNotNull, lit("bm25")).otherwise(col("d_lane")).as("lane"))
    }

    // the delivered text hash: raw chunk text, or the decorated text when a
    // KVP sampler is configured (decoration is a pure (record, draw)
    // function, so the composed stream stays batch/partition invariant)
    val slotText: Column = decoration match {
      case None => col("wtext")
      case Some((smp, maxTok)) =>
        Decoration.decorateColumn(smp,
          concat(lit("dec:"), col("slot"), lit(":"), col("record_id").cast("string"),
            lit(":"), col("draw").cast("string")),
          split(col("wtext"), " "), maxTok).getField("text")
    }

    // ---- the ENTIRE anchor + positive pick chain, run CONCURRENTLY with
    // the negative dispatch below: chunk-source records (temporal neighbor
    // swap) → batch-restricted chunk checkpoint → ONE fused a/p window
    // pick → localized per-draw pivot. The a/p lanes read only slotRec
    // (materialized) and the staged neighbor maps, never the negative
    // lane, so a second thread overlaps their neighbor reads AND the chunk
    // derivation/window stages with the dispatch's job instead of
    // serializing after it. Only the n-slot pick has to wait for the
    // negative dispatch — it runs on the main thread below over its own
    // (negative-record) restriction. Values are untouched: the pick
    // streams (`sel:a:`/`sel:p:`) are pure (draw, record) functions and
    // the split pivot aggregates the same per-slot rows the former fused
    // three-slot pivot did.
    val apMelt = slots.map { case (draw, _, _, name) =>
      val r = byName(name)
      val (am, aa) = selectorDesc(r.anchor)
      val (pm, pa) = selectorDesc(r.positive)
      (draw, am, aa, pm, pa)
    }.flatMap { case (draw, am, aa, pm, pa) =>
      Seq((draw, "a", am, aa), (draw, "p", pm, pa))
    }.toDF("draw", "slot", "mode", "arg")
    // Two futures on ONE thread: `apPrepTask` (chunk-source records +
    // the batch-restricted chunk checkpoint plan) completes without any
    // job for non-temporal recipe sets — so the bm25 scoring lane, which
    // needs only the PREP (anchor records + chunksAP), no longer waits
    // behind the a/p window-pick collect; that collect (`apPicksTask`)
    // overlaps the negative dispatch's job instead.
    val apPrepTask = new java.util.concurrent.FutureTask(() => {
      val (aTmp, aPlan) = chunkRecordsPlan(_.anchor, slotRec)
      val (pTmp, pPlan) = chunkRecordsPlan(_.positive, slotRec)
      // ONE collect covers both slots when any lane is temporal (the two
      // neighbor-join plans union and materialize together); non-temporal
      // sets are pure LocalRelation projections — no job
      val (aRecs, pRecs) =
        if (!aTmp && !pTmp) (aPlan, pPlan)
        else {
          val ap = localize(
            aPlan.withColumn("sl", lit("a")).unionByName(pPlan.withColumn("sl", lit("p"))))
          (ap.filter(col("sl") === "a").drop("sl"), ap.filter(col("sl") === "p").drop("sl"))
        }
      // both rec frames are LocalRelations, so these collects run
      // driver-side without scheduling a job; dedupe in Scala rather than
      // a distinct() whose Aggregate would schedule one
      val ids = (aRecs.select(col("record_id")).collect() ++
          pRecs.select(col("record_id")).collect())
        .map(_.getLong(0)).distinct.toSeq
      // batch id restriction as an isin PREDICATE, not a join (pushes
      // below the chunk table's window/explode derivation — see the
      // n-lane comment below). Lazy: an eager checkpoint here was A/B'd
      // WORSE — it stalls the bm25 lane (which needs only this PLAN)
      // behind the materialization job; the duplicate-derivation race
      // between the a/p pick job and the scoring job is bounded by the
      // block store's per-partition dedupe.
      val chunksAP = chunks.filter(col("record_id").isin(ids: _*))
        .localCheckpoint(eager = false)
      (aRecs, pRecs, chunksAP)
    })
    val apPicksTask = new java.util.concurrent.FutureTask(() => {
      val (aRecs, pRecs, chunksAP) = apPrepTask.get()
      val apRows = aRecs.withColumn("slot", lit("a"))
        .unionByName(pRecs.withColumn("slot", lit("p")))
      val sel = Recipes.selectChunksBatchSlots(chunksAP,
          apRows.join(broadcast(apMelt), Seq("draw", "slot")))
        .select(col("slot"), col("draw"),
          col("window_index").cast("long").as("widx"),
          Determinism.portableHash(slotText).as("thash"))
      localize(sel.groupBy(col("draw")).agg(
        max(when(col("slot") === "a", col("widx"))).as("a_widx"),
        max(when(col("slot") === "a", col("thash"))).as("a_hash"),
        max(when(col("slot") === "p", col("widx"))).as("p_widx"),
        max(when(col("slot") === "p", col("thash"))).as("p_hash")))
    })
    // qterms for the bm25 scoring lane, on the SAME background thread
    // right after the prep (and BEFORE the a/p pick collect — the
    // negative dispatch needs qterms on its critical path, the core
    // join needs apPicks only later): one narrow window over the
    // batch-restricted chunk leaf, materialized as a LocalRelation. The
    // batch's DISTINCT TERM SET then becomes an isin PREDICATE on the
    // weighted-term side, which pushes into the wterm parquet scan
    // (sorted by (source, term), so row groups prune) and shrinks the
    // scoring join's input from every term the batch's sources ever used
    // to the ~hundreds the batch actually asks about. This is the reference's per-term
    // postings probe (bm25_backend.rs:120-174 probes its HashMap per
    // query term) re-expressed as scan pruning; term weights are
    // per-(source,term) constants fixed at build time, so
    // dropping never-joined terms cannot move a score. Formerly this
    // collect ran serially inside the negative dispatch; moving it here
    // overlaps it with the default dispatch on the main thread — values
    // untouched (the qterms frame is a pure function of
    // the prep outputs).
    val qtermsTask = new java.util.concurrent.FutureTask(() => {
      val (aRecsAll, _, chunksAP) = apPrepTask.get()
      val bmSlots = slotRec.filter(col("recipe").isin(bmNames: _*))
      val bmARecs = aRecsAll.join(broadcast(bmSlots.select(col("draw"))), Seq("draw"))
      val bmDraws = bmARecs.withColumn("slot", lit("a"))
        .join(broadcast(slotMeta.select(col("draw"),
          col("a_mode").as("mode"), col("a_arg").as("arg"))), Seq("draw"))
      val qterms = localize(Recipes.selectChunksBatchSlots(chunksAP, bmDraws)
        .select(col("draw"), explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("wtext")))).as("term")))
      val termList = qterms.select(col("term")).collect()
        .map(_.getString(0)).distinct.toSeq
      (qterms, termList)
    })
    locally {
      val t = new Thread(() => {
        apPrepTask.run()
        if (bmNames.nonEmpty) qtermsTask.run()
        apPicksTask.run()
      }, "graft-ap-pick-chain")
      t.setDaemon(true); t.start()
    }

    val negRec = {
      val dflt = strategyPick(
        if (bmNames.isEmpty) slotRec else slotRec.filter(!col("recipe").isin(bmNames: _*)),
        strategiesOf(NegativeBackend.Default))
      localize(if (bmNames.isEmpty) dflt else dflt.unionByName(bm25Lanes(qtermsTask.get())))
    }

    // ---- n-slot pick: the only selector window that has to FOLLOW the
    // negative dispatch (its chunk-source records are the picked
    // negatives). Same shape as the a/p chain above: isin PREDICATE
    // restriction (a broadcast join sits above the chunk table's
    // window/explode derivation and cannot push through the Generate, so
    // every batch would re-chunk the whole corpus; the id list is
    // batch-bounded and as a filter it pushes below the derivation to the
    // record scan — per-batch chunking cost ∝ batch size, not corpus
    // size), then the fused window pick (stream `sel:n:`).
    val nRecs = chunkRecords(_.negativeSelector,
      negRec.select(col("draw"), col("recipe"), col("nid").as("record_id")))
    val nIds = nRecs.select(col("record_id")).collect()
      .map(_.getLong(0)).distinct.toSeq
    val chunksN = chunks.filter(col("record_id").isin(nIds: _*)).localCheckpoint(eager = false)
    val nMelt = slots.map { case (draw, _, _, name) =>
      val (nm, na) = selectorDesc(byName(name).negativeSelector)
      (draw, "n", nm, na)
    }.toDF("draw", "slot", "mode", "arg")
    // `draw` is unique per slot, so after the record restriction it alone
    // keys the pick — and for temporal slots the chunk-source record (the
    // neighbor) is NOT the slot's scheduled record, so the core join below
    // is on draw, never on record_id. ≤1 pick row survives per draw, so
    // the projection needs no pivot.
    val nPick = Recipes.selectChunksBatchSlots(chunksN,
        nRecs.withColumn("slot", lit("n")).join(broadcast(nMelt), Seq("draw", "slot")))
      .select(col("draw"), Determinism.portableHash(slotText).as("n_hash"))

    // ---- the batch tail, on the driver. The core join on draw: negRec
    // and apPicks are LocalRelations (their collects run no job) and each
    // joined frame holds ≤1 row per draw, so the joins are map lookups;
    // the nPick collect is the tail's only job. A draw whose ANY slot
    // found no eligible chunk drops from the core stream. nPick runs
    // first, so its job overlaps an a/p pick still running.
    val nBy = nPick.collect().map(r => r.getAs[Long]("draw") -> r).toMap
    val apPicks = apPicksTask.get()
    val apBy = apPicks.collect().map(r => r.getAs[Long]("draw") -> r).toMap
    val parts = Seq(negRec.schema, apPicks.schema, nPick.schema)
    // (frame, field) of each core column, `draw` from negRec
    val at = Seq("draw", "epoch", "recipe", "record_id", "a_widx", "a_hash", "p_widx",
        "p_hash", "nid", "n_hash", "reason", "lane").map { c =>
      val f = parts.indexWhere(_.fieldNames.contains(c))
      (f, parts(f).fieldIndex(c))
    }
    val schema = StructType(at.map { case (f, i) => parts(f)(i) })
    val Seq(ia, ip, in) = Seq("a_hash", "p_hash", "n_hash").map(schema.fieldIndex)
    val core = negRec.collect().toSeq.flatMap { neg =>
      val draw = neg.getAs[Long]("draw")
      for (ap <- apBy.get(draw); n <- nBy.get(draw)) yield {
        val rs = Seq(neg, ap, n)
        Row.fromSeq(at.map { case (f, i) => rs(f).get(i) })
      }
    }.filter(r => !r.isNullAt(ia) && !r.isNullAt(ip) && !r.isNullAt(in))
      .sortBy(_.getLong(0))
    // identical-text rejection, unless the recipe allows equal a/p texts
    val allowSame = slots.map(s => s._1 -> byName(s._4).allowSameAnchorPositive).toMap
    val kept = core.filter(r => allowSame(r.getLong(0)) || r.get(ia) != r.get(ip))
    val deduped = seenFirst(kept, schema, Seq("record_id", "a_widx", "p_widx", "nid"))
    (schema, core, kept, deduped, st2)
  }

  /** The composed pair batch (reference `next_pair_batch`,
    * src/sampler/mod.rs:2011-2110): each composed triplet yields TWO
    * labeled pairs — (anchor, positive, label=positive, reason NULL) and
    * (anchor, negative, label=negative, reason = the strategy tag) — so a
    * `batch`-pair request drives ⌈batch/2⌉ triplet draws through the SAME
    * counters as [[nextBatch]] (shared cursor/epoch/draw: the entry points
    * continue one global sequence, and resume covers them all). `core` is
    * the post-rejection pair stream keyed by (draw, pair index);
    * `rows` pads to exactly `batch` pairs. Takes the same staged indexes
    * as [[nextBatch]]. */
  def nextPairBatch(spark: SparkSession, chunks: DataFrame, pool: DataFrame,
      recipes: Seq[TripletRecipe], st: SamplerState, batch: Int,
      decoration: Option[(graft.functions.KvpPrefixSampler, Int)] = None,
      bm25Index: Option[Bm25PoolIndex] = None,
      rankIndex: Option[DataFrame],
      srcStats: Option[Seq[(String, Long)]],
      neighborIndex: Map[Int, DataFrame] = Map.empty): SamplerBatch = {
    val nTrip = (batch + 1) / 2
    val (trip, _, kept, deduped, st2) = composed(spark, chunks, pool, recipes, st, nTrip,
      decoration, bm25Index, rankIndex, srcStats, neighborIndex)
    val Seq(iDraw, iEpoch, iRecipe, iRec, iNid, iA, iP, iN, iReason) = Seq("draw", "epoch",
      "recipe", "record_id", "nid", "a_hash", "p_hash", "n_hash", "reason").map(trip.fieldIndex)
    val schema = StructType(Seq(trip(iDraw),
      StructField("pair_id", LongType, trip(iDraw).nullable), trip(iEpoch), trip(iRecipe),
      trip(iRec), trip(iNid), StructField("label", StringType, nullable = false),
      trip(iA).copy(name = "l_hash"), trip(iP).copy(name = "r_hash", nullable = true),
      StructField("reason", StringType, nullable = true)))
    // each triplet → (positive, reason NULL) at pair_id draw*2 and
    // (negative, the strategy tag) at draw*2 + 1
    def pairsOf(trips: Seq[Row]): Seq[Row] = trips.flatMap { r =>
      val draw = r.getLong(iDraw)
      Seq((0L, "positive", iP, null), (1L, "negative", iN, r.get(iReason))).map {
        case (pidx, label, iR, reason) => Row(draw, draw * 2 + pidx, r.get(iEpoch),
          r.get(iRecipe), r.get(iRec), r.get(iNid), label, r.get(iA), r.get(iR), reason)
      }
    }
    // dedup at the triplet grain, then pad the pairs; extended metrics
    // ride the TRIPLET core the pairs derive from (one negative dispatch
    // per triplet draw, regardless of the 2-row pair explosion)
    SamplerBatch(localRows(spark, pairsOf(kept), schema),
      () => padded(spark, pairsOf(deduped), schema, "pair_id", batch,
        s"padp:${st.seed}:${st.counter("draw")}"),
      st2, Some(localRows(spark, kept, trip)))
  }

  /** The composed text batch (reference `next_text_batch`,
    * src/sampler/mod.rs:2210-2364): text recipes scheduled by their own
    * ticket plan ([[Recipes.textTicketOrder]] — the analogue of the
    * separate `text_recipe_rr_idx`) over the SAME epoch-interleaved record
    * order and counters as the triplet entry points; one selector chunk
    * pick per draw (hash stream `sel:t:`), seen-set dedup by the chunk key
    * (record, section, window) keeping the earliest draw, pad to `batch`.
    * Temporal selectors swap in the staged as-of neighbor exactly like
    * [[nextBatch]]'s anchor lane. `rankIndex` and `srcStats` (both
    * required) are the pool's staged rank sidecar and per-source stats, as
    * on [[nextBatch]]: the sidecar's `er0` serves every epoch-0 record
    * pick without a per-batch rank window, and a staged deployment serves
    * the POOL from its (id, source) columns. */
  def nextTextBatch(spark: SparkSession, chunks: DataFrame, pool: DataFrame,
      textRecipes: Seq[TextRecipe], st: SamplerState, batch: Int,
      decoration: Option[(graft.functions.KvpPrefixSampler, Int)] = None,
      rankIndex: Option[DataFrame],
      srcStats: Option[Seq[(String, Long)]],
      neighborIndex: Map[Int, DataFrame] = Map.empty): SamplerBatch = {
    import spark.implicits._
    val dayOf = textRecipes.map(r => r.name -> temporalDays(r.selector))
    requireNeighbors(dayOf.map(_._2), neighborIndex)
    val byName = textRecipes.map(r => r.name -> r).toMap
    val (srcCounts, slots, st2) = schedule(st, batch, srcStats,
      ep => Recipes.textTicketOrder(textRecipes, st.seed, ep))
    val slotRec = slotRecords(spark, pool, slots, srcCounts, stagedRanks(rankIndex), None)
    val slotMeta = slots.map { case (draw, _, _, name) =>
      val (m, a) = selectorDesc(byName(name).selector)
      (draw, m, a)
    }.toDF("draw", "mode", "arg")
    // temporal selectors: the chunk-source record is the as-of neighbor
    val tRecs = {
      val (temporal, plan) = chunkSources(dayOf, slotRec, neighborIndex)
      if (temporal) localRelation(spark, plan) else plan
    }
    val ids = tRecs.select(col("record_id")).collect().map(_.getLong(0)).distinct.toSeq
    val chunksR = chunks.filter(col("record_id").isin(ids: _*)).localCheckpoint(eager = false)
    val tText: Column = decoration match {
      case None => col("wtext")
      case Some((smp, maxTok)) =>
        Decoration.decorateColumn(smp,
          concat(lit("dec:t:"), col("record_id").cast("string"),
            lit(":"), col("draw").cast("string")),
          split(col("wtext"), " "), maxTok).getField("text")
    }
    // the fused slot path (stream `sel:t:`) — record restriction in the
    // eligibility join, pick bit-identical to selectChunksBatch + join
    val pick = Recipes.selectChunksBatchSlots(chunksR,
        tRecs.withColumn("slot", lit("t")).join(broadcast(slotMeta), Seq("draw")))
      .select(col("draw"), col("record_id").as("chunk_record"),
        col("section_idx").cast("long").as("t_sidx"),
        col("window_index").cast("long").as("t_widx"),
        Determinism.portableHash(tText).as("t_hash"))
    val core = localRelation(spark, slotRec
      .join(pick, Seq("draw"))
      .select(col("draw"), col("epoch"), col("recipe"), col("record_id"),
        col("chunk_record"), col("t_sidx"), col("t_widx"), col("t_hash")))
    // seen-set dedup by the chunk key, earliest draw wins (reference
    // chunk_key dedup, src/sampler/mod.rs:2288-2292)
    def rows = padded(spark,
      seenFirst(core.collect().toSeq, core.schema, Seq("chunk_record", "t_sidx", "t_widx")),
      core.schema, "draw", batch, s"padt:${st.seed}:${st.counter("draw")}")
    SamplerBatch(core, () => rows, st2)
  }
}
