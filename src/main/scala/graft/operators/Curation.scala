package graft.operators

import graft.core.Determinism
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingestion and sampling: benchmark decontamination, repetition-based
  * quality gates, and token-budget sequence packing.
  *
  * None of these exist in the reference (its pipeline starts from already
  * curated corpora); they are the standard published recipes (n-gram
  * overlap decontamination as in GPT-3 appendix C / PaLM; repetition gates
  * as in Gopher's quality rules; greedy sequence packing as in T5/LLM
  * pretraining loaders) re-expressed as deterministic, oracle-portable
  * Spark plans on the [[Dedup]] / [[TextFunctions]] primitives.
  *
  * Scale doctrine, per operator:
  *   - decontamination joins shingle HASHES (longs), never text, and
  *     broadcasts the eval side — benchmark suites are MBs while the train
  *     corpus is the 100 TB side, so the scan stays shuffle-free for the
  *     big input;
  *   - repetition stats are two map-side-combinable keyed aggregations
  *     (doc,gram) → doc; no self-joins, no windows;
  *   - packing parallelism is the shard count: sequences never cross
  *     shards, so each shard packs independently under one window. Shard
  *     count is a knob — size it so a shard's token mass fits one task
  *     (corpus_tokens / shards ≈ 10⁸ is comfortable); boundary waste is
  *     at most one sequence per shard.
  */
object Curation {

  /** Train/eval n-gram overlap scan (benchmark decontamination).
    *
    * A train doc is contaminated when it shares at least one token
    * `k`-gram with any eval doc. Both sides are reduced to distinct
    * (doc, shingle-hash) pairs — the join carries longs only; the eval
    * side is broadcast (see scale doctrine above). Zero-token docs are
    * excluded from matching on BOTH sides (the shingle whole-text
    * fallback would otherwise hash "" and make any empty eval doc mark
    * every empty train doc contaminated). Emits EVERY train doc —
    * including zero-token ones, as uncontaminated:
    * `(doc_id, n_shared, n_eval_docs, contaminated)` so `contaminated = 0`
    * is directly the post-decontamination keep-list.
    */
  def contaminationScan(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    // token-presence gate on the RAW text (hasMinTokens ⟺ size(tokens) > 0,
    // proven corpus-exhaustively) — filtering on size(toks) above the toks
    // projection re-inlines the tokenizer into the pushed-down scan filter
    def shingleRows(df: DataFrame, as: String): DataFrame =
      df.filter(TextFunctions.hasMinTokens(col(textCol), 1))
        .select(col(idCol).as(as), TextFunctions.tokens(col(textCol)).as("toks"))
        .select(col(as), explode(Dedup.shingleHashes(
          Dedup.shingles(col("toks"), k))).as("h"))
        .distinct()
    val hits = shingleRows(train, "tid")
      .join(broadcast(shingleRows(evalSet, "eid")), "h")
      .groupBy(col("tid"))
      .agg(countDistinct(col("h")).as("n_shared"),
        countDistinct(col("eid")).as("n_eval_docs"))
    train.select(col(idCol).as("doc_id"))
      .join(hits, col("doc_id") === col("tid"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        when(col("n_shared").isNotNull, 1L).otherwise(0L).as("contaminated"))
  }

  // Gopher-style repetition gate defaults: a doc is flagged when one token
  // exceeds 20% of the text or over 30% of its trigrams are repeats.
  val TopTokMaxE6 = 200000L
  val DupTrigramMaxE6 = 300000L
  // Gopher applies the ratio gates alongside a minimum-length gate; without
  // one, any doc of <= 4 all-distinct tokens trips the 20% top-token share
  // (1/4 = 250000 e6). Docs below this token count are never flagged —
  // at 5+, an all-distinct doc sits exactly at (not over) the threshold.
  val MinRepToks = 5L

  /** Per-doc repetition profile: share of the most frequent token
    * (`top_tok_e6`), share of the most frequent token bigram
    * (`top_bigram_e6`), duplicate-trigram fraction (`dup_trigram_e6`),
    * and the composite `repetitive` flag (gated on [[MinRepToks]] — very
    * short docs report their ratios but are never flagged). All ratios are
    * e6-scaled exact integers ([[TextAnalysis.ratioE6]]); zero-token docs
    * report zeros.
    *
    * Shape: one explode over the three gram kinds → (doc, kind, gram)
    * counts → (doc, kind) maxima → per-doc pivot by conditional agg. Both
    * aggregations combine map-side; nothing is quadratic in doc length.
    */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // raw-text token-presence gate BEFORE the toks projection (see
    // shingleRows note: the size(toks) form re-inlines the tokenizer)
    val grams = df.filter(TextFunctions.hasMinTokens(col(textCol), 1))
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(array(
        struct(lit("u").as("kind"), col("toks").as("gs")),
        struct(lit("b").as("kind"), Dedup.shingles(col("toks"), 2).as("gs")),
        struct(lit("t").as("kind"), Dedup.shingles(col("toks"), 3).as("gs")))).as("e"))
      .select(col("doc_id"), col("e.kind").as("kind"), explode(col("e.gs")).as("g"))
    val stats = grams
      .groupBy(col("doc_id"), col("kind"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("kind"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"), count(lit(1)).as("nd"))
    def forKind(kind: String, c: org.apache.spark.sql.Column) =
      max(when(col("kind") === kind, c))
    val wide = stats.groupBy(col("doc_id")).agg(
      forKind("u", col("mx")).as("u_mx"), forKind("u", col("tot")).as("u_tot"),
      forKind("b", col("mx")).as("b_mx"), forKind("b", col("tot")).as("b_tot"),
      forKind("t", col("nd")).as("t_nd"), forKind("t", col("tot")).as("t_tot"))
    df.select(col(idCol).as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .join(wide, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        TextAnalysis.ratioE6(coalesce(col("u_mx"), lit(0L)),
          coalesce(col("u_tot"), lit(0L))).as("top_tok_e6"),
        TextAnalysis.ratioE6(coalesce(col("b_mx"), lit(0L)),
          coalesce(col("b_tot"), lit(0L))).as("top_bigram_e6"),
        TextAnalysis.ratioE6(
          coalesce(col("t_tot"), lit(0L)) - coalesce(col("t_nd"), lit(0L)),
          coalesce(col("t_tot"), lit(0L))).as("dup_trigram_e6"))
      .withColumn("repetitive",
        when(col("n_tok") >= MinRepToks &&
          (col("top_tok_e6") > TopTokMaxE6 ||
            col("dup_trigram_e6") > DupTrigramMaxE6), 1L).otherwise(0L))
  }

  /** Exact duplicated-substring scan (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" recipe, re-expressed as a
    * rolling-span hash pipeline instead of a suffix array: a fixed-width
    * token span occurring more than once ANYWHERE in the corpus — across
    * docs or repeated inside one — is a duplicate).
    *
    * Emits one row per duplicated span occurrence:
    * `(doc_id, pos, h)` — `pos` is the 0-based token offset of the span,
    * `h` the portable span hash. Span TEXT never shuffles: each doc
    * contributes one 8-byte hash per token position (linear, computed in a
    * single scan-fused projection), the duplicate set is a
    * map-side-combined count over those longs, and occurrences come back
    * via a hash-keyed semi join. At 100 TB this is the same shuffle mass
    * as a MinHash signature pass — no suffix array, no n² pair space.
    */
  /** `(doc_id, pos, h)` rolling-span hash stream of a corpus: one 60-bit
    * hash per token position. Tokens are projected FIRST (the transform
    * lambda below is inlined per element and Spark does no CSE inside
    * lambdas — verify-skill note). */
  def spanStream(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = df
    // raw-text token-count gate (hasMinTokens ⟺ size(tokens) >= width,
    // proven corpus-exhaustively) BEFORE the t projection — the size(t)
    // form re-inlined the tokenizer into the pushed-down scan filter
    .filter(TextFunctions.hasMinTokens(col(textCol), width))
    .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("t"))
    // span text = Dedup.shingles' k-gram convention (the >= width filter
    // keeps its whole-text fallback branch unreachable); the hash is a
    // 60-bit md5 prefix, not the 32-bit portableHash: a corpus-wide span
    // stream is large enough (n²/2³³ ≈ several false pairs at 200k
    // spans) that 32 bits would mark spurious duplicates; 15 hex digits
    // keep the oracle portable (fits signed 64) at n²/2⁶¹
    .select(col("doc_id"), posexplode(transform(
      Dedup.shingles(col("t"), width),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))))
    .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))

  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    val spans = spanStream(df, idCol, textCol, width)
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("h"))
    spans.join(dup, Seq("h"), "left_semi")
  }

  /** DuckDB twin of the [[duplicateSpanProfile]] span/coverage algebra as
    * a CTE block (`spans`/`dups`/`ds`/`cov`/`prof`): `rel` must expose
    * `(doc_id, <tokCol>)`. Shared by the q106 unit oracle, the q109
    * incremental-law oracle, and the q111 composed-pipeline oracle so the
    * coverage algebra can never drift between them. */
  def duckSpanProfileCtes(rel: String, tokCol: String, width: Int): String = {
    val spanHash = "CAST('0x' || substr(md5(list_aggregate(" +
      s"list_slice($tokCol, i, i + ${width - 1}), 'string_agg', ' ')), 1, 15) AS BIGINT)"
    s"""spans AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, $spanHash AS h
        FROM $rel, unnest(range(1, len($tokCol) - ${width - 2})) AS r(i)
        WHERE len($tokCol) >= $width),
      dups AS (SELECT h FROM spans GROUP BY h HAVING count(*) >= 2),
      ds AS (SELECT doc_id, pos FROM spans JOIN dups USING (h)),
      cov AS (SELECT doc_id, greatest(0, pos + $width - greatest(coalesce(
          max(pos + $width) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos), pos)) AS c
        FROM ds),
      prof AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
          CAST(sum(c) AS BIGINT) AS dup_tokens
        FROM cov GROUP BY doc_id)"""
  }

  /** Per-doc duplicated-span profile over [[duplicateSpans]]: span count,
    * the UNION token coverage of all duplicated spans (overlapping spans
    * counted once — interval union via a per-doc running-max window over
    * span starts), and the keep verdict `dup_tokens · 1e6 < maxDupE6 ·
    * n_tokens` (integer cross-multiplication, no floats). Every doc of the
    * corpus is emitted, zero-dup docs with zeros. The window partitions by
    * doc — parallelism is the doc count, and a doc's dup-span list is
    * bounded by its own length. */
  def duplicateSpanProfile(df: DataFrame, idCol: String, textCol: String,
      width: Int, maxDupE6: Long): DataFrame =
    spanCoverageProfile(df, duplicateSpans(df, idCol, textCol, width),
      idCol, textCol, width, maxDupE6)

  /** Fold a duplicated-span occurrence stream `(doc_id, pos, h)` into the
    * per-doc profile (shared by the full-corpus and incremental lanes). */
  private def spanCoverageProfile(df: DataFrame, dupOccurrences: DataFrame,
      idCol: String, textCol: String, width: Int, maxDupE6: Long): DataFrame = {
    val runPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = dupOccurrences
      .withColumn("prev_end", max(col("pos") + width).over(runPrev))
      .withColumn("c", greatest(lit(0L),
        col("pos") + width - greatest(coalesce(col("prev_end"), col("pos")), col("pos"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"), sum(col("c")).as("dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)) * lit(1000000L) <
          lit(maxDupE6) * col("n_tokens")).cast("long").as("keep"))
  }

  /** Incremental [[duplicateSpanProfile]] for a newly-arrived shard — the
    * streaming-refresh twin (the q68 incremental-MinHash shape applied to
    * substring dedup): profile ONLY the new docs, against the union of the
    * standing corpus and themselves. A new span is duplicated when its
    * occurrences among new docs plus its count in the standing span index
    * reach 2 — exactly the full-corpus rule restricted to new docs, so
    * `incrementalSpanProfile(new, old) ≡ duplicateSpanProfile(old ∪ new)
    * .filter(doc ∈ new)` (the refresh-equivalence law, pinned in spec).
    *
    * Scale shape: the standing index `(h, occ)` is an aggregate a real
    * deployment maintains as a table (here derived from `oldDocs` for
    * purity); the join against it is restricted to the NEW shard's span
    * hashes, so per-refresh cost is ∝ |new shard| × collisions — the old
    * corpus is never re-profiled.
    */
  def incrementalSpanProfile(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String, textCol: String, width: Int, maxDupE6: Long): DataFrame = {
    val newSpans = spanStream(newDocs, idCol, textCol, width)
    val index = spanStream(oldDocs, idCol, textCol, width)
      .groupBy(col("h")).agg(count(lit(1)).as("old_occ"))
    val dup = newSpans.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .join(index, Seq("h"), "left")
      .filter(col("occ") + coalesce(col("old_occ"), lit(0L)) >= 2)
      .select(col("h"))
    spanCoverageProfile(newDocs, newSpans.join(dup, Seq("h"), "left_semi"),
      idCol, textCol, width, maxDupE6)
  }

  /** Greedy token-budget sequence packing (the pretraining-loader step that
    * concatenates docs into fixed-size training sequences).
    *
    * Docs are sharded by a seeded hash, ordered within the shard by a
    * second seeded hash (deterministic global shuffle — no length or
    * source bias inside a sequence), then packed greedily: a doc starts at
    * the running token offset `cum_before`, its sequence is
    * `cum_before div budget`. A sequence may spill past the budget by less
    * than its last doc's length (standard streaming-packer semantics; the
    * trainer truncates or wraps the tail). Emits
    * `(doc_id, shard, n_tok, seq_id, seq_offset)` — `(shard, seq_id)` is
    * the training sequence key.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budget: Long,
      shards: Int,
      seed: String): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(Determinism.seeded(s"pk:$seed", col("doc_id")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol).as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("shard",
        pmod(Determinism.seeded(s"ps:$seed", col("doc_id")), lit(shards.toLong)))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        expr(s"cum_before div $budget").as("seq_id"),
        pmod(col("cum_before"), lit(budget)).as("seq_offset"))
  }

  /** Token-budget corpus selection: keep the best-quality prefix of the
    * corpus whose cumulative token count fits `floor(total · fracE6/1e6)`
    * — the data-mixing step that downselects a crawl to a training budget
    * by quality rank (CCNet buckets / quality-threshold selection).
    *
    * Semantics are EXACTLY the global prefix rule "doc kept iff its
    * inclusive running token sum over the (quality desc, doc_id) order is
    * within budget" — but computed WITHOUT a global window (an unbounded
    * `orderBy` window is a single-partition bottleneck at 100 TB).
    * Two-phase histogram cutoff instead:
    *   1. per-quality-band token sums (bands = qualityE6 div 10⁴, ≤ 101
    *      rows — a broadcast-sized frame; its running sum is driver-cheap);
    *   2. bands wholly under the cutoff keep every doc, bands wholly past
    *      it keep none, and ONLY the single boundary band runs an in-band
    *      running-sum window (parallelism: the band's docs, a bounded
    *      slice of the corpus).
    * Bands are `div`-aligned so equal scores never straddle a band edge,
    * making the two-phase result identical to the global rule. Emits every
    * doc: `(doc_id, quality_e6, n_tokens, kept)`.
    *
    * If the boundary band itself were too big for one window partition
    * (≈1% of the corpus at uniform quality), the same cutoff recurses:
    * re-band the boundary band at 10² granularity (another ≤101-row
    * aggregate), and again at exact scores — three bounded rounds replace
    * the window entirely. Not implemented here: one band of the test
    * corpus fits a task by orders of magnitude, and the recursion adds
    * two corpus passes the common case never needs.
    */
  /** `checkpointStats = true` (the default; raw-corpus callers) snapshots
    * the 24-byte stats frame so the corpus is scanned and quality-scored
    * ONCE for all three consumers. A caller whose `df` is itself a big
    * composed plan (q111's staged funnel) passes `false`: there the
    * consumers' copies of the upstream pipeline deduplicate via exchange
    * reuse inside ONE execution, and a checkpoint both severs that reuse
    * and pays an extra full materialization of the composed plan. Timed
    * through Bench's protocol (noop sink, median of 3) at sf0.1 on 4
    * cores, two rounds in one session: q108 took 1.28/0.78 s with the
    * checkpoint and 1.52/1.66 s without; q111 took 12.3/9.1 s with it
    * and 10.6/9.7 s without, a split inside the session's drift. */
  def budgetSelection(df: DataFrame, idCol: String, textCol: String,
      fracE6: Long, checkpointStats: Boolean = true): DataFrame = {
    // ONE quality scan for all three consumers (bands aggregate + the two
    // union arms): the corpus reduces to 24-byte stats rows here, and the
    // lazy localCheckpoint materializes them ONCE — without it each union
    // arm re-scanned and re-tokenized the corpus (no CSE across union
    // arms), and the band join's inferred isnotnull(quality_e6 div 10⁴)
    // pushed below the qt projection re-evaluated the whole quality
    // struct per row in the scan filter (5 qualityAndTokens passes where
    // 1 suffices — q108 plan evidence). Post-checkpoint, every consumer
    // and inferred filter reads integer attributes. This is the
    // decide-with-small-rows shape: at 100 TB the stats frame is
    // #docs × 24 B, and the text is read exactly once.
    // quality + token count from ONE tokenize pass (qualityAndTokens);
    // two projections so the field extractions share the evaluation
    val stats = df.select(col(idCol).as("doc_id"),
        TextAnalysis.qualityAndTokens(col(textCol)).as("qt"))
      .select(col("doc_id"), col("qt.quality_e6").as("quality_e6"),
        col("qt.n_tokens").as("n_tokens"))
      .repartition(col("doc_id"))
    val base = if (checkpointStats) stats.localCheckpoint(false) else stats
    val wAll = Window.partitionBy()
    val bands = base
      .groupBy(expr("quality_e6 div 10000").as("band"))
      .agg(sum(col("n_tokens")).as("btoks"))
      .withColumn("cum_before", coalesce(sum(col("btoks")).over(
        wAll.orderBy(col("band").desc).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("budget",
        expr(s"(sum(btoks) over () * $fracE6) div 1000000"))
    val marked = base
      .join(broadcast(bands), expr("quality_e6 div 10000") === col("band"))
    // one branch for the decided bands (kept is a pure comparison — no
    // window), one for the single boundary band: the quality scan runs
    // once per branch and Catalyst does not CSE across union arms, so
    // fewer branches = fewer corpus passes
    val nonEdge = marked
      .filter(col("cum_before") > col("budget") ||
        col("cum_before") + col("btoks") <= col("budget"))
      .select(col("doc_id"), col("quality_e6"), col("n_tokens"),
        (col("cum_before") + col("btoks") <= col("budget")).cast("long").as("kept"))
    val wBand = Window.partitionBy(col("band"))
      .orderBy(col("quality_e6").desc, col("doc_id"))
    val edge = marked
      .filter(col("cum_before") <= col("budget") &&
        col("cum_before") + col("btoks") > col("budget"))
      .withColumn("cum_in", sum(col("n_tokens")).over(
        wBand.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("doc_id"), col("quality_e6"), col("n_tokens"),
        (col("cum_before") + col("cum_in") <= col("budget")).cast("long").as("kept"))
    nonEdge.unionByName(edge)
  }

  /** Boundary-splitting variant of [[packSequences]] — the T5/GPT loader
    * semantics where documents are CUT at sequence boundaries instead of
    * spilling: every sequence in a shard holds exactly `budget` tokens
    * (only the shard's last sequence runs short), zero padding waste.
    *
    * Same shard/order/running-sum skeleton; each doc then explodes into
    * one row per sequence it touches (`sequence(seq0, seq1)` — a doc
    * longer than the budget spans several), carrying the half-open token
    * slice `[tok_start, tok_end)` of the doc that lands in that sequence.
    * Segments of a doc are contiguous and sum to its token count, so the
    * trainer reassembles or truncates locally; nothing about the split
    * depends on partitioning.
    */
  def packSequencesSplit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budget: Long,
      shards: Int,
      seed: String): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(Determinism.seeded(s"pk:$seed", col("doc_id")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol).as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("shard",
        pmod(Determinism.seeded(s"ps:$seed", col("doc_id")), lit(shards.toLong)))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("seq_id", explode(sequence(
        expr(s"cum_before div $budget"),
        expr(s"(cum_before + n_tok - 1) div $budget"))))
      .select(col("doc_id"), col("shard"), col("seq_id"),
        greatest(col("seq_id") * budget - col("cum_before"), lit(0L)).as("tok_start"),
        least((col("seq_id") + 1) * budget - col("cum_before"), col("n_tok")).as("tok_end"))
  }
}
