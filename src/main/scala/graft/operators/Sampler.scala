package graft.operators

import graft.Profile
import graft.core.Determinism
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.HashSet
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
  * Scale shape: a batch reads by key and picks on the driver. Its reads
  * are bounded by the batch, and each is one [[keyed]] read whose
  * generated code is the same in every batch: the slot records (of the
  * staged rank sidecar at epoch 0, of the epoch's ranks staged once at
  * its first batch after, [[PoolRankIndex.epochRanks]]), the picked
  * records' chunk rows (a PREDICATE over ≤ 2×batch ids, which pushes
  * below a derived chunk table's window/explode to the record scan — a
  * broadcast join could not push through the Generate), the negative
  * targets' sidecar rows, and the BM25 scoring join's term rows. Chunk
  * picks, the strategy × tier dispatch, the core join, rejection, dedup
  * and pad run in Scala over those rows. The driver holds counters, the
  * slot schedule and the batch's chunk rows (≤ 2×batch records' chunks).
  */
object Sampler {

  /** Selector → (mode, arg) for the draws of [[Recipes.selectChunksLocal]]
    * and [[Recipes.selectChunksBatch]]. TemporalOffset is CHUNK-level a
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

  /** Driver rows as a driver-local relation (a LocalRelation): collecting
    * it, or a projection of it, runs no Spark job, and joins plan against
    * its exact size. Broadcasting it is NOT free: under AQE a broadcast of
    * a LocalTableScan runs a job of its own. Applied ONLY to ≤ few×batch
    * rows (the slot-schedule scale the driver already holds — the
    * counters-and-schedule contract); corpus-scale frames (pool, rank
    * sidecar, chunk tables) stay executor-side. */
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

  /** The chunk-source record of each `(draw, recipe, record)` for one
    * slot's selector (`dayOf` maps a recipe to its selector's temporal
    * offset): the record itself, or its staged as-of neighbor for a
    * TemporalOffset selector (reference select_chunk,
    * src/sampler/mod.rs:1701-1704: resolve the neighbor record, then pick
    * its CONTEXT chunk). A record with no same-pool neighbor drops its
    * draw and pad_with_reuse fills the batch — the contract's "skip rather
    * than contaminate" (src/config.rs:131-137). `nb` is [[neighborsOf]]'s
    * map. Returns (draw, chunk-source record). */
  private def chunkSources(recs: Seq[(Long, String, Long)], dayOf: String => Option[Int],
      nb: Map[(Int, Long), Long]): Seq[(Long, Long)] =
    recs.flatMap { case (draw, recipe, id) =>
      dayOf(recipe) match {
        case None => Some(draw -> id)
        case Some(d) => nb.get((d, id)).map(draw -> _)
      }
    }

  /** The keyed read every batch makes: the rows of `df` whose `cols`
    * equal one of `keys` (external values — Long, String, dates; a key
    * holding a null, or a long out of an int column's range, matches
    * nothing, as `===` would). One filter whose generated code depends on
    * neither the key values nor their count, so a serving loop compiles
    * it once: [[keyMatch]], plus a per-column `InSet` on each string or
    * long key column so the scan can still push the filter down. An
    * `isin` list or an OR of equalities would inline every long literal,
    * so each batch would compile a new class, and an OR tree's codegen is
    * quadratic in its depth. */
  private[graft] def keyed(df: DataFrame, cols: Seq[String], keys: Seq[Seq[Any]]): DataFrame = {
    val pushed = if (cols.size == 1) Nil else cols.zipWithIndex.collect {
      case (c, i) if setColumn(df.schema(c).dataType) => columnIn(df, c, keys.map(_(i)))
    }
    df.filter(pushed.foldLeft(keyMatch(df, cols, keys))(_ && _))
  }

  /** The exact key test of [[keyed]]: one `InSet` over the key column, or
    * over the struct of the key columns, whose set is a reference object
    * in the generated code. An empty set generates other code, so no keys
    * become the one all-null key: it matches only rows whose key columns
    * are all null. */
  private def keyMatch(df: DataFrame, cols: Seq[String], keys: Seq[Seq[Any]]): Column =
    if (cols.size == 1 && setColumn(df.schema(cols.head).dataType))
      columnIn(df, cols.head, keys.map(_.head))
    else {
      val types = cols.map(df.schema(_).dataType)
      val rows = keys.flatMap { k =>
        val vs = types.zip(k).map { case (t, v) => internal(t, v) }
        if (vs.forall(_.nonEmpty)) Some(InternalRow.fromSeq(vs.map(_.get))) else None
      }
      GraftColumnBridge.inSet(struct(cols.map(col): _*),
        HashSet.from(if (rows.nonEmpty) rows else Seq(InternalRow.fromSeq(cols.map(_ => null)))))
    }

  /** `c IN values` over a string or long column, always a HashSet — the
    * generated code casts the set to its runtime class, and small Scala
    * sets have one class per size. */
  private def columnIn(df: DataFrame, c: String, values: Seq[Any]): Column =
    GraftColumnBridge.inSet(col(c), HashSet.from(values.flatMap(internal(df.schema(c).dataType, _))))

  /** A column type whose `InSet` tests a set. Spark generates a `switch`
    * over inlined values for int-like and date columns, so those keys go
    * through the struct form. */
  private def setColumn(t: DataType): Boolean = t == LongType || t == StringType

  /** An external key value as the Catalyst value of a `t` column. An
    * `InSet` is not type-coerced like `isin`, so a long id keys an int
    * column as an int. */
  private def internal(t: DataType, v: Any): Option[Any] = (t, v) match {
    case (_, null) => None
    case (IntegerType, n: Long) => if (n.isValidInt) Some(n.toInt) else None
    case _ => Some(CatalystTypeConverters.convertToCatalyst(v))
  }

  /** The staged as-of neighbor ([[temporalNeighborsFull]]) of each
    * (offset, record) in `need`: one keyed read of each offset's
    * record_id-sorted map — zero pool-scale work, no job when `need` is
    * empty. */
  private def neighborsOf(need: Seq[(Int, Long)],
      neighborIndex: Map[Int, DataFrame]): Map[(Int, Long), Long] =
    need.distinct.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (d, ps) =>
      keyed(neighborIndex(d), Seq("record_id"), ps.map(p => Seq(p._2)))
        .select(col("record_id"), col("nbid")).collect()
        .map(r => (d, r.getLong(0)) -> r.getLong(1))
    }.toMap

  /** Every chunk row of the records `ids`: ONE keyed read of the chunk
    * table. The restriction is a PREDICATE, not a join: it pushes below a
    * derived table's window/explode to the record scan (a broadcast join
    * could not push through the Generate), so chunking cost per batch is
    * ∝ batch size, not corpus size. No job for no ids. */
  private[graft] def chunkRows(chunks: DataFrame, ids: Seq[Long]): Seq[Recipes.ChunkRow] =
    if (ids.isEmpty) Nil
    else keyed(chunks, Seq("record_id"), ids.map(Seq(_)))
      .select(col("record_id").cast("long"), col("section_idx").cast("long"), col("role"),
        col("view_kind"), col("window_index").cast("long"), col("overlap").cast("long"),
        col("wtext"))
      .collect().toSeq.map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        Recipes.ChunkRow(r.getLong(0), opt(1), r.getString(2), r.getString(3), opt(4), opt(5),
          r.getString(6))
      }

  /** Each draw's chunk pick for one slot tag (`a`, `p`, `n`, `t`) over
    * rows in hand ([[Recipes.selectChunksLocal]]), with its delivered
    * text hash: the raw text's portable hash, or — with a KVP sampler —
    * the hash of the text decorated under the per-(record, draw) key
    * `dec:<slot>:<record_id>:<draw>` (reference: the batch loop decorates,
    * src/sampler/mod.rs:1470-1508) by [[Decoration.decorateColumn]],
    * evaluated as a projection over a driver-local relation, which runs
    * no job. A null text hashes to null. */
  private def slotPicks(spark: SparkSession,
      decoration: Option[(graft.functions.KvpPrefixSampler, Int)], slot: String,
      rows: Seq[Recipes.ChunkRow], srcs: Seq[(Long, Long)], selOf: Long => Selector)
      : Map[Long, (Recipes.ChunkRow, Option[Long])] = {
    val picks = Recipes.selectChunksLocal(rows, srcs.map { case (draw, rid) =>
      val (m, a) = selectorDesc(selOf(draw))
      Recipes.ChunkDraw(slot, draw, rid, m, a)
    })
    val hashes = decoration match {
      case None => picks.map { case (_, c) => Option(c.wtext).map(Determinism.jvmHash) }
      case Some(_) if picks.isEmpty => Nil
      case Some((smp, maxTok)) =>
        localRows(spark,
            picks.map { case (d, c) => Row(s"dec:$slot:${c.recordId}:${d.draw}", c.wtext) },
            StructType(Seq(StructField("key", StringType), StructField("wtext", StringType))))
          .select(Determinism.portableHash(Decoration.decorateColumn(smp, col("key"),
            split(col("wtext"), " "), maxTok).getField("text")))
          .collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    }
    picks.zip(hashes).map { case ((d, c), h) => d.draw -> (c, h) }.toMap
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

  /** One staged rank-sidecar row ([[rankSidecar]]), `er` its epoch rank
    * column as read. An undated pool leaves the date-group fields unset
    * (`date` null, counts 0). */
  private final case class Ranks(id: Long, source: String, er: Long, rn: Long, nsrc: Long,
      srnk: Long, scnt: Long, date: Any, rn2: Long, dgs: Long, drnk: Long, dcnt: Long)

  /** The sidecar rows of `rows` (a keyed read), with `er` read from the
    * epoch rank column `er`: one collect. */
  private def readRanks(rows: DataFrame, er: String): Seq[Ranks] = {
    val dated = rows.columns.contains("date")
    val cs = Seq("id", "source", er, "rn", "nsrc", "srnk", "scnt") ++
      (if (dated) Seq("date", "rn2", "dgs", "drnk", "dcnt") else Nil)
    rows.select(cs.map(col): _*).collect().toSeq.map { r =>
      def l(i: Int) = r.getLong(i)
      if (dated) Ranks(l(0), r.getString(1), l(2), l(3), l(4), l(5), l(6), r.get(7), l(8),
        l(9), l(10), l(11))
      else Ranks(l(0), r.getString(1), l(2), l(3), l(4), l(5), l(6), null, 0L, 0L, 0L, 0L)
    }
  }

  /** A scheduled slot with its picked record. */
  private final case class SlotRec(draw: Long, epoch: Long, recipe: String, id: Long,
      source: String)

  /** Record pick: each slot's record off its epoch's interleave, in draw
    * order, with its sidecar row. One path for every epoch:
    * [[Mixing.epochTargets]] maps each position to its (source, rank) key
    * on the driver, then ONE keyed read of the epoch's ranks
    * ([[PoolRankIndex.epochRanks]]: the sidecar itself at epoch 0, a
    * frame staged once per epoch after) brings the records back with
    * every rank column the negative dispatch reads. Positions join their
    * slots on the driver. */
  private def slotRecords(slots: Seq[(Long, Long, Long, String)],
      srcCounts: Seq[(String, Long)], rankTbl: DataFrame): (Seq[SlotRec], Map[Long, Ranks]) = {
    val read = Seq.newBuilder[Ranks]
    val recs = slots.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (ep, ss) =>
      val targets = Mixing.epochTargets(srcCounts, ep, ss.map(_._3))
      val er = PoolRankIndex.epochRankCol(ep)
      val rows = if (targets.isEmpty) Nil
        else readRanks(keyed(PoolRankIndex.epochRanks(rankTbl, ep), Seq("source", er),
          targets.map { case (src, r, _) => Seq(src, r) }), er)
      read ++= rows
      val byKey = rows.map(k => (k.source, k.er) -> k).toMap
      val at = targets.flatMap { case (src, r, p) => byKey.get((src, r)).map(p -> _) }.toMap
      ss.flatMap { case (draw, _, pos, recipe) =>
        at.get(pos).map(k => SlotRec(draw, ep, recipe, k.id, k.source))
      }
    }
    (recs.sortBy(_.draw), read.result().map(k => k.id -> k).toMap)
  }

  /** The seeded fallback source order as (source, srnk, nsrc) — the ONE
    * derivation both the sidecar build ([[rankSidecar]]'s srnk/scnt
    * columns, persisted at refresh) and the serving-time fallback
    * resolution (the negative dispatch's fallback target) must share: a staged
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
    * `srcCounts` is the per-source stats collect. */
  def rankSidecar(pool: DataFrame, srcCounts: Seq[(String, Long)]): DataFrame = {
    val spark = pool.sparkSession
    import spark.implicits._
    val hasDate = pool.columns.contains("date")
    val wSrc = Window.partitionBy(col("source"))
    val base0 = pool
      .withColumn("rn", row_number().over(wSrc.orderBy(col("id"))).cast("long") - 1)
      .withColumn("nsrc", count(lit(1)).over(wSrc).cast("long"))
      // the EPOCH-0 interleave rank: a pure pool function, so it stages
      // with the sidecar; later epochs stage theirs once each
      // (PoolRankIndex.epochRanks)
      .withColumn("er0", PoolRankIndex.epochRank(0L))
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
    // stats, shipped as a #sources-row LocalRelation
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
    * @param pool   record pool: `id`, `source` (one row per record). No
    *               batch reads it: the staged rank index serves every
    *               epoch's record pick. Its `id` nullability is
    *               `record_id`'s for the draws of epochs after the first
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
    * seen-set survivors of those the entry points pad.
    *
    * Every input to a batch's picks is bounded by the batch, so a batch
    * runs a few keyed reads and makes every pick in plain Scala: the slot
    * records (one read of the epoch's ranks, which also brings the
    * anchors' rank rows), the a/p chunk rows, the negative targets, the n
    * chunk rows not already in hand, and one scoring join when a recipe
    * uses the BM25 backend. The first batch of each epoch after the first
    * stages that epoch's ranks. Each phase's jobs carry its name as their
    * description ([[graft.Profile.phase]]). */
  private def composed(spark: SparkSession, chunks: DataFrame, pool: DataFrame,
      recipes: Seq[TripletRecipe], st: SamplerState, batch: Int,
      decoration: Option[(graft.functions.KvpPrefixSampler, Int)],
      bm25Index: Option[Bm25PoolIndex],
      rankIndex: Option[DataFrame],
      srcStats: Option[Seq[(String, Long)]],
      neighborIndex: Map[Int, DataFrame])
      : (StructType, Seq[Row], Seq[Row], Seq[Row], SamplerState) = {
    // the pool-rank sidecar, staged once per pool refresh
    // ([[PoolRankIndex]]); its `date` column marks a dated pool
    val rankTbl = stagedRanks(rankIndex)
    require(bm25Index.nonEmpty || !recipes.exists(_.negativeBackend == NegativeBackend.Bm25),
      "BM25-backend recipes need a staged Bm25PoolIndex (bm25Index)")
    requireNeighbors(recipes.flatMap(r =>
      Seq(r.anchor, r.positive, r.negativeSelector).map(temporalDays)), neighborIndex)
    val byName = recipes.map(r => r.name -> r).toMap
    val (srcCounts, slots, st2) =
      schedule(st, batch, srcStats, ep => Recipes.ticketOrder(recipes, st.seed, ep))
    val hasDate = rankTbl.columns.contains("date")
    if (slots.exists(s => byName(s._4).negative == NegativeStrategy.WrongPublicationDate))
      require(hasDate,
        "WrongPublicationDate recipes need a `date` column in the pool the rank index was built from")

    val (recs, ranks) = Profile.phase(spark, "sampler.slot_records") {
      slotRecords(slots, srcCounts, rankTbl)
    }
    val recipeOf = slots.map(s => s._1 -> byName(s._4)).toMap
    def dayOf(sel: TripletRecipe => Selector)(name: String) = temporalDays(sel(byName(name)))
    def temporalNeed(sel: TripletRecipe => Selector, rs: Seq[(Long, String, Long)]) =
      rs.flatMap { case (_, name, id) => dayOf(sel)(name).map(_ -> id) }

    // ---- anchor + positive picks: chunk-source records (temporal
    // neighbor swap, one read per offset for both slots), ONE keyed read
    // of their chunk rows, then the `sel:a:`/`sel:p:` picks ----
    val slotIds = recs.map(r => (r.draw, r.recipe, r.id))
    val (apRows, aBy, pBy) = Profile.phase(spark, "sampler.ap_pick") {
      val nb = neighborsOf(temporalNeed(_.anchor, slotIds) ++ temporalNeed(_.positive, slotIds),
        neighborIndex)
      val aSrc = chunkSources(slotIds, dayOf(_.anchor), nb)
      val pSrc = chunkSources(slotIds, dayOf(_.positive), nb)
      val rows = chunkRows(chunks, (aSrc ++ pSrc).map(_._2).distinct)
      (rows, slotPicks(spark, decoration, "a", rows, aSrc, d => recipeOf(d).anchor),
        slotPicks(spark, decoration, "p", rows, pSrc, d => recipeOf(d).positive))
    }

    // ---- negative record: the strategy × tier dispatch on the driver
    // (reference pool staging, src/sampler/mod.rs:994-1151) ----
    val waR = NegativeStrategy.WrongArticle.reason
    val qaR = NegativeStrategy.QuestionAnswerMismatch.reason
    val wdR = NegativeStrategy.WrongPublicationDate.reason
    // the fallback lane's srnk → (source, count) resolution — the SAME
    // derivation rankSidecar folds into the persisted sidecar
    val fbOrd = fallbackOrder(srcCounts).map { case (src, srnk, n) => srnk -> (src, n) }.toMap
    final case class Neg(draw: Long, epoch: Long, recipe: String, reason: String,
        recordId: Long, nid: Long, lane: String)
    val bmSlots = recs.filter(r => recipeOf(r.draw).negativeBackend == NegativeBackend.Bm25)
    val negRec: Seq[Neg] = Profile.phase(spark, "sampler.negatives") {
      /* Each anchor picks its tier —
       *   WrongArticle → same-source same-DATE skip-the-anchor (`nega`,
       *     dated pools with a ≥2 date group) → same-source (`neg`) →
       *     fallback;
       *   QuestionAnswerMismatch → same-source (`negq`) → fallback;
       *   WrongPublicationDate → other-date-group two-level
       *     (`negd`/`negr`) → fallback;
       *   fallback = cross-source same-split two-level (`negs`/`negc`),
       *     recipe suffixed `_fallback_same_split`; slots whose pool holds
       *     no other source drop (src/sampler/mod.rs:1097-1151, 1391-1395)
       * — and its target's sidecar key: src and fb by (source, rn), sd by
       * (source, date, rn2), wd by (source, drnk) plus the in-group rank
       * `pmod(negr-key, dgs)` read off the target row's own group size.
       * The fallback's srnk → source order and per-source counts are
       * driver-side, so its target rank resolves before the read. */
      val dispatched = recs.flatMap { r =>
        ranks.get(r.id).flatMap { m =>
          def key(stream: String) = Determinism.jvmHash(s"$stream:${st.seed}:${r.draw}:${r.id}")
          def skip(h: Long, n: Long, self: Long) = {
            val p = h % math.max(n - 1, 1L)
            if (p >= self) p + 1 else p
          }
          val reason = recipeOf(r.draw).negative.reason
          val tier =
            if (reason == waR) {
              if (m.dgs >= 2) "sd" else if (m.nsrc >= 2) "src" else "fb"
            } else if (reason == qaR) { if (m.nsrc >= 2) "src" else "fb" }
            else if (m.dcnt >= 2) "wd" else "fb"
          val target: Option[Target] = tier match {
            case "sd" => Some(ByDate(r.source, m.date, skip(key("nega"), m.dgs, m.rn2)))
            case "wd" => Some(ByGroup(r.source, skip(key("negd"), m.dcnt, m.drnk), key("negr")))
            case "src" =>
              Some(ByRn(r.source, skip(key(if (reason == qaR) "negq" else "neg"), m.nsrc, m.rn)))
            case _ if m.scnt < 2 => None
            case _ => fbOrd.get(skip(key("negs"), m.scnt, m.srnk)).map { case (src, n) =>
              ByRn(src, key("negc") % n) }
          }
          target.map(t => (r, reason, tier, t))
        }
      }
      val targets = targetRows(rankTbl, dispatched.map(_._4).distinct)
      val dflt = dispatched.flatMap { case (r, reason, tier, t) =>
        targets.find(t.hit).map { k =>
          r.draw -> Neg(r.draw, r.epoch,
            if (tier == "fb") r.recipe + Recipes.FallbackSuffix else r.recipe, reason, r.id,
            k.id, tier)
        }
      }.toMap
      val bm = bm25Picks(spark, bm25Index, rankTbl, bmSlots.map(r =>
        (r, recipeOf(r.draw).negative.reason)), aBy, st.seed)
      // a BM25 slot takes its scored pick, else its default-backend pick
      recs.flatMap { r =>
        bm.get(r.draw) match {
          case Some(nid) => Some(Neg(r.draw, r.epoch, r.recipe,
            recipeOf(r.draw).negative.reason, r.id, nid, "bm25"))
          case None => dflt.get(r.draw)
        }
      }
    }

    // ---- n-slot pick: the one pick that has to FOLLOW the dispatch (its
    // chunk-source records are the picked negatives); reads only the
    // chunk rows not already in hand (stream `sel:n:`) ----
    val nBy = Profile.phase(spark, "sampler.n_pick") {
      val negIds = negRec.map(n => (n.draw, recipeOf(n.draw).name, n.nid))
      val nSrc = chunkSources(negIds, dayOf(_.negativeSelector),
        neighborsOf(temporalNeed(_.negativeSelector, negIds), neighborIndex))
      val have = apRows.map(_.recordId).toSet
      val rows = apRows ++ chunkRows(chunks, nSrc.map(_._2).distinct.filterNot(have))
      slotPicks(spark, decoration, "n", rows, nSrc, d => recipeOf(d).negativeSelector)
    }

    // ---- the batch tail. The core join on draw: a draw whose ANY slot
    // found no eligible chunk (or a null text) drops from the core
    // stream. Nullability follows the inputs the ids come from. ----
    val ridNull = slots.exists(_._2 == 0L) && nullable(rankTbl, "id") ||
      slots.exists(_._2 > 0L) && nullable(pool, "id")
    val schema = StructType(Seq(
      StructField("draw", LongType, nullable = false),
      StructField("epoch", LongType, nullable = false),
      StructField("recipe", StringType),
      StructField("record_id", LongType, ridNull),
      StructField("a_widx", LongType), StructField("a_hash", LongType),
      StructField("p_widx", LongType), StructField("p_hash", LongType),
      StructField("nid", LongType, nullable(rankTbl, "id") ||
        recipes.exists(_.negativeBackend == NegativeBackend.Bm25)),
      StructField("n_hash", LongType), StructField("reason", StringType),
      StructField("lane", StringType)))
    def widx(c: Recipes.ChunkRow): Any = c.windowIndex.getOrElse(null)
    val core = negRec.sortBy(_.draw).flatMap { n =>
      for ((a, Some(ah)) <- aBy.get(n.draw); (p, Some(ph)) <- pBy.get(n.draw);
           (_, Some(nh)) <- nBy.get(n.draw))
        yield Row(n.draw, n.epoch, n.recipe, n.recordId, widx(a), ah, widx(p), ph, n.nid, nh,
          n.reason, n.lane)
    }
    // identical-text rejection, unless the recipe allows equal a/p texts
    val ia = schema.fieldIndex("a_hash")
    val ip = schema.fieldIndex("p_hash")
    val kept = core.filter(r => recipeOf(r.getLong(0)).allowSameAnchorPositive ||
      r.get(ia) != r.get(ip))
    val deduped = seenFirst(kept, schema, Seq("record_id", "a_widx", "p_widx", "nid"))
    (schema, core, kept, deduped, st2)
  }

  private def nullable(df: DataFrame, c: String): Boolean = df.schema(c).nullable

  /** A negative's target row in the rank sidecar; `hit` finds it among
    * the rows read. */
  private sealed trait Target {
    def source: String
    def hit(k: Ranks): Boolean
  }
  /** src and fb tiers: (source, rn). */
  private final case class ByRn(source: String, rn: Long) extends Target {
    def hit(k: Ranks): Boolean = k.source == source && k.rn == rn
  }
  /** sd tier: (source, date, rn2); a null date matches nothing. */
  private final case class ByDate(source: String, date: Any, rn2: Long) extends Target {
    def hit(k: Ranks): Boolean =
      date != null && k.source == source && k.date == date && k.rn2 == rn2
  }
  /** wd tier: the target date group (source, drnk), and the record at
    * in-group rank `pmod(h, dgs)` of that group's own size. */
  private final case class ByGroup(source: String, drnk: Long, h: Long) extends Target {
    def hit(k: Ranks): Boolean = k.source == source && k.drnk == drnk && k.rn2 == h % k.dgs
  }

  /** Every target's sidecar row in ONE keyed read: the targets' sources
    * as a pushable `InSet`, AND one exact test per tier — (source, rn)
    * and, in a dated pool, (source, date, rn2) as [[keyMatch]] sets, and
    * for the wd tier the target (source, drnk) groups as a set plus a
    * literal map from each group to its `h` values: a row of such a group
    * matches when `rn2 = pmod(h, dgs)` for one of them, so only target
    * rows come back. Every tier keys on a rank, which is never null, so a
    * tier with no targets tests [[keyMatch]]'s all-null key and matches
    * nothing, and the filter's generated code is the same in every
    * batch. No job for no targets. */
  private def targetRows(rankTbl: DataFrame, ts: Seq[Target]): Seq[Ranks] =
    if (ts.isEmpty) Nil
    else {
      val byRn = keyMatch(rankTbl, Seq("source", "rn"),
        ts.collect { case ByRn(src, rn) => Seq(src, rn) })
      val tiers =
        if (!rankTbl.columns.contains("date")) byRn
        else {
          val groups = ts.collect { case ByGroup(src, d, h) => (src, d) -> h }
            .groupMap(_._1)(_._2).toSeq
          val hs = GraftColumnBridge.column(Literal.create(new ArrayBasedMapData(
              ArrayData.toArrayData(groups.map { case ((src, d), _) =>
                InternalRow(UTF8String.fromString(src), d) }.toArray),
              ArrayData.toArrayData(groups.map(g => ArrayData.toArrayData(g._2.toArray)).toArray)),
            MapType(StructType(Seq(StructField("source", StringType), StructField("drnk", LongType))),
              ArrayType(LongType, containsNull = false), valueContainsNull = false)))
          byRn || keyMatch(rankTbl, Seq("source", "date", "rn2"),
            ts.collect { case ByDate(src, d, rn2) => Seq(src, d, rn2) }) ||
            keyMatch(rankTbl, Seq("source", "drnk"), groups.map { case ((src, d), _) => Seq(src, d) }) &&
              exists(hs.getItem(struct(col("source"), col("drnk"))),
                h => pmod(h, col("dgs")) === col("rn2"))
        }
      readRanks(rankTbl.filter(columnIn(rankTbl, "source", ts.map(_.source)) && tiers), "er0")
    }

  /** Bm25Backend picks (reference: bm25_backend.rs:120-174): re-rank each
    * BM25 slot's strategy pool by the BM25 score of the anchor's SELECTED
    * chunk text against each candidate's `btoks`, and rotate through the
    * top-3 by the (seed, draw, anchor) hash stream `negb` — the stateless
    * twin of the reference's per-(anchor, split) cursor. Slots whose
    * scored intersection is empty get no pick (the caller falls back to
    * the default dispatch).
    *
    * Scale shape: the query terms are the anchor picks' distinct tokens
    * (tokenized on the driver, [[TextFunctions.distinctTokens]]), and the
    * batch's distinct sources and terms become [[keyed]] reads of the
    * staged weighted-term table, which push into its (source,
    * term)-sorted parquet scan — the
    * reference's per-term postings probe re-expressed as scan pruning.
    * The anchor × candidate product passes through ONE (source, term)
    * join (the q85 lane's shape); one collect. */
  private def bm25Picks(spark: SparkSession, bm25Index: Option[Bm25PoolIndex],
      rankTbl: DataFrame, bmSlots: Seq[(SlotRec, String)],
      aBy: Map[Long, (Recipes.ChunkRow, Option[Long])], seed: String): Map[Long, Long] = {
    val qterms = bmSlots.flatMap { case (r, reason) =>
      aBy.get(r.draw).toSeq.flatMap { case (c, _) => TextFunctions.distinctTokens(c.wtext) }
        .map(t => Row(r.draw, r.id, r.source, reason, t))
    }
    if (qterms.isEmpty) return Map.empty
    val anchors = localRows(spark, qterms, StructType(Seq(
      StructField("draw", LongType, nullable = false),
      StructField("record_id", LongType, nullable = false),
      StructField("source", StringType), StructField("reason", StringType),
      StructField("term", StringType))))
    val wterm = keyed(keyed(bm25Index.get.wterm, Seq("source"),
      bmSlots.map(s => Seq(s._1.source)).distinct), Seq("term"),
      qterms.map(t => Seq(t.getString(4))).distinct)
    val scoredAll = broadcast(anchors)
      .join(wterm, Seq("source", "term"))
      .filter(col("cand") =!= col("record_id"))
    // wrong-date slots additionally require a different date group —
    // the strategy pool predicate applies BEFORE the re-rank
    val wdReason = NegativeStrategy.WrongPublicationDate.reason
    val scoredF =
      if (!bmSlots.exists(_._2 == wdReason)) scoredAll
      else scoredAll
        .join(rankTbl.select(col("id").as("record_id"), col("date").as("a_date")), "record_id")
        .join(rankTbl.select(col("id").as("cand"), col("date").as("c_date")), "cand")
        .filter(col("reason") =!= wdReason || col("a_date") =!= col("c_date"))
    val scored = scoredF.groupBy(col("draw"), col("record_id"), col("cand"))
      .agg(sum(col("term_e6")).as("score_e6"))
    // top-3 + rotation as ONE aggregation — ascending struct sort on
    // (-score, cand) ≡ the (score desc, cand) rank, the rotation modulus
    // is the array size, and an empty intersection produces no row
    scored.groupBy(col("draw"), col("record_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("score_e6")).as("ns"), col("cand")))), 1, 3).as("t3"))
      .select(col("draw"), element_at(col("t3"),
        (pmod(Determinism.portableHash(concat(lit(s"negb:$seed:"), col("draw").cast("string"),
          lit(":"), col("record_id").cast("string"))), size(col("t3")).cast("long")) + 1)
          .cast("int")).getField("cand").as("nid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
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
    * on [[nextBatch]]: every epoch's record pick is one keyed read of its
    * ranks ([[PoolRankIndex.epochRanks]]), with no per-batch rank window. */
  def nextTextBatch(spark: SparkSession, chunks: DataFrame, pool: DataFrame,
      textRecipes: Seq[TextRecipe], st: SamplerState, batch: Int,
      decoration: Option[(graft.functions.KvpPrefixSampler, Int)] = None,
      rankIndex: Option[DataFrame],
      srcStats: Option[Seq[(String, Long)]],
      neighborIndex: Map[Int, DataFrame] = Map.empty): SamplerBatch = {
    val dayOf = textRecipes.map(r => r.name -> temporalDays(r.selector)).toMap
    requireNeighbors(dayOf.values.toSeq, neighborIndex)
    val byName = textRecipes.map(r => r.name -> r).toMap
    val rankTbl = stagedRanks(rankIndex)
    val (srcCounts, slots, st2) = schedule(st, batch, srcStats,
      ep => Recipes.textTicketOrder(textRecipes, st.seed, ep))
    val (recs, _) = Profile.phase(spark, "sampler.slot_records") {
      slotRecords(slots, srcCounts, rankTbl)
    }
    val recipeOf = recs.map(r => r.draw -> byName(r.recipe)).toMap
    // the one pick per draw (stream `sel:t:`) over ONE keyed read of the
    // chunk-source records' chunk rows
    val tBy = Profile.phase(spark, "sampler.text_pick") {
      val slotIds = recs.map(r => (r.draw, r.recipe, r.id))
      val tSrc = chunkSources(slotIds, dayOf, neighborsOf(
        slotIds.flatMap { case (_, name, id) => dayOf(name).map(_ -> id) }, neighborIndex))
      slotPicks(spark, decoration, "t", chunkRows(chunks, tSrc.map(_._2).distinct), tSrc,
        d => recipeOf(d).selector)
    }
    val ridNull = slots.exists(_._2 == 0L) && nullable(rankTbl, "id") ||
      slots.exists(_._2 > 0L) && nullable(pool, "id")
    val schema = StructType(Seq(
      StructField("draw", LongType, nullable = false),
      StructField("epoch", LongType, nullable = false),
      StructField("recipe", StringType),
      StructField("record_id", LongType, ridNull),
      StructField("chunk_record", LongType, nullable(chunks, "record_id")),
      StructField("t_sidx", LongType, nullable(chunks, "section_idx")),
      StructField("t_widx", LongType, nullable(chunks, "window_index")),
      StructField("t_hash", LongType)))
    val core = recs.flatMap { r =>
      tBy.get(r.draw).map { case (c, h) =>
        Row(r.draw, r.epoch, r.recipe, r.id, c.recordId, c.sectionIdx.getOrElse(null),
          c.windowIndex.getOrElse(null), h.getOrElse(null))
      }
    }
    // seen-set dedup by the chunk key, earliest draw wins (reference
    // chunk_key dedup, src/sampler/mod.rs:2288-2292)
    def rows = padded(spark, seenFirst(core, schema, Seq("chunk_record", "t_sidx", "t_widx")),
      schema, "draw", batch, s"padt:${st.seed}:${st.counter("draw")}")
    SamplerBatch(localRows(spark, core, schema), () => rows, st2)
  }
}
