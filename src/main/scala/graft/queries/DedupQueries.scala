package graft.queries

import graft.{QueryDef, QueryModule}
import graft.core.{Determinism, Tables}
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Dedup operator demonstrations over `documents`, each with a DuckDB
  * oracle. See [[graft.operators.Dedup]] for the scale rationale.
  */
object DedupQueries extends QueryModule {

  private val Perms = 8
  private val Bands = 4
  private val RowsPerBand = 2
  private val ShingleK = 3
  // q94 quality gate: docs at or above this composite score (e6 scale)
  // pass stage 1 of the curation funnel
  private val QualityMin = 500000L
  // q106 substring dedup: span width (tokens) and max duplicated-token
  // coverage (e6 fraction) a kept doc may carry
  private val SpanW = 15
  private val SpanMaxDupE6 = 200000L
  // q111 pipeline: LM-gate ceiling (~78th percentile of avg_cost_e6 on
  // the testdata) and the selection budget (half the surviving tokens)
  private val LmMaxE6 = 3600000L
  private val SelFracE6 = 500000L
  // q28 simhash WIDTH scales with the corpus: with hamming≤1 near-dup
  // semantics over a W-bit signature, the 2-band OR-blocking keys are
  // W/2 bits each — under a FIXED W the in-band pair space (and, by
  // pigeonhole on 2^W possible signatures, the hamming≤1 OUTPUT itself)
  // degenerates to ~n²/2^(W/2). half28(n) keeps expected band-key
  // occupancy ~TargetOcc28, so candidates grow ~n·occupancy; the oracle
  // unrolls the vote columns to the 32-bit ceiling and MASKS to the
  // derived width (bit i of a simhash is width-independent), the same
  // full-width-then-mask idiom as the q95 plane dial. The floor keeps
  // small corpora on the historical 16-bit demo signature; production
  // at 100 TB raises MaxHalf28 (64-bit signatures, hamming≤3, 4 bands)
  // without changing the plan shape.
  private val TargetOcc28 = 16L
  private val MinHalf28 = 8
  private val MaxHalf28 = 16
  private[graft] def half28(n: Long): Int =
    graft.core.ScaleDials.occupancyBits(n, TargetOcc28, MinHalf28, MaxHalf28)
  private def duckHalf28(table: String): String =
    graft.core.ScaleDials.duckOccupancyBits(
      table, TargetOcc28, MinHalf28, MaxHalf28)

  // Shared DuckDB fragments (kept in lock-step with operators.Dedup).
  private val duckToks = TextFunctions.duckTokens("text")

  /** `bands AS (...)` CTE mirroring the band-key packing of
    * [[Dedup.lshCandidatePairs]] (exact long packing of bandKeys). */
  private def duckBandsCte: String = {
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
        .reduce((a, x) => s"($a * ${Dedup.MixMod} + $x)")
      s"SELECT doc_id, $b AS band, CAST($key AS BIGINT) AS key FROM sigs"
    }.mkString(" UNION ALL ")
    s"bands AS ($bandSelects)"
  }

  /** `bands AS (...), pairs AS (...)` CTEs mirroring
    * [[Dedup.lshCandidatePairs]]. */
  private def duckPairCtes: String =
    s"""$duckBandsCte,
      pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)"""
  private def duckSigs(perms: Int): String = {
    val mhs = (0 until perms).map(j => s"${Dedup.duckMinhashFromHashes("hs", j)} AS mh$j").mkString(", ")
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        s AS (SELECT doc_id, ${Dedup.duckShingles("toks", ShingleK)} AS sh FROM t WHERE len(toks) > 0),
        sh AS (SELECT doc_id, ${Dedup.duckShingleHashes("sh")} AS hs FROM s WHERE len(sh) > 0),
        sigs AS (SELECT doc_id, $mhs FROM sh)"""
  }

  val queries: Seq[QueryDef] = Seq(

    QueryDef("q20_dedup_exact",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs.select(col("doc_id"),
            Determinism.portableHash(TextFunctions.normalizeWs(col("text"))).as("content_hash"))
          .groupBy(col("content_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
      },
      Some(s"""SELECT ${Determinism.duckHash(TextFunctions.duckNormalizeWs("text"))} AS content_hash,
        min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS group_size
        FROM documents GROUP BY 1""")),

    QueryDef("q21_minhash_signatures",
      (s, dir) => Dedup.minhashSignatures(
        Tables.load(s, dir, "documents"), "doc_id", "text", 4, ShingleK),
      Some(s"""${duckSigs(4)} SELECT * FROM sigs""")),

    QueryDef("q22_lsh_candidate_pairs",
      (s, dir) => {
        val sigs = Dedup.minhashSignatures(
          Tables.load(s, dir, "documents"), "doc_id", "text", Perms, ShingleK).cache()
        // one pass: explode per-row band structs rather than unioning the
        // (recomputed) signature plan once per band
        val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", Bands, RowsPerBand)
        val sa = col("doc_id").as("aid") +: sigs.columns.filter(_.startsWith("mh")).toSeq.map(c => sigs(c).as(s"a_$c"))
        val sb = col("doc_id").as("bid") +: sigs.columns.filter(_.startsWith("mh")).toSeq.map(c => sigs(c).as(s"b_$c"))
        val agree = (0 until Perms).map(j =>
          when(col(s"a_mh$j") === col(s"b_mh$j"), 1L).otherwise(0L)).reduce(_ + _)
        pairs
          .join(sigs.select(sa: _*), col("a") === col("aid"))
          .join(sigs.select(sb: _*), col("b") === col("bid"))
          .select(col("a"), col("b"), agree.as("n_agree"))
      },
      Some {
        val agree = (0 until Perms).map(j =>
          s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END").mkString(" + ")
        s"""${duckSigs(Perms)},
          $duckPairCtes
          SELECT a, b, CAST($agree AS BIGINT) AS n_agree
          FROM pairs JOIN sigs sa ON a = sa.doc_id JOIN sigs sb ON b = sb.doc_id"""
      }),

    QueryDef("q93_dedup_clusters",
      // dedup RESOLUTION — the step every candidate-pair detector feeds:
      // LSH pairs (q22's edges) → connected components (min-label
      // propagation, see Dedup.connectedComponents) → canonical keep-list.
      // cluster_id = min doc_id of the component; keep = 1 on exactly the
      // canonical survivor, so `WHERE keep = 1` is the post-dedup corpus
      // and `WHERE keep = 0` is the drop-list. Singleton docs (no candidate
      // pair, including blank docs with no signature) are their own
      // cluster and survive. Every round is a keyed agg + join on longs —
      // the 100 TB path; the oracle replays reachability with a recursive
      // CTE (min over the reachable set = component min).
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", Perms, ShingleK)
        val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", Bands, RowsPerBand)
        val cc = Dedup.connectedComponents(
          docs.select(col("doc_id").as("id")), pairs)
        val sizes = cc.groupBy(col("cluster").as("cid"))
          .agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, cc("cluster") === sizes("cid"))
          .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
            when(col("id") === col("cluster"), 1L).otherwise(0L).as("keep"),
            col("cluster_size"))
      },
      Some(
        s"""${duckSigs(Perms).replaceFirst("WITH ", "WITH RECURSIVE ")},
          $duckPairCtes,
          edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
          reach(u, v) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
          ),
          cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
          SELECT doc_id, cluster_id,
            CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS keep,
            CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
          FROM cl""")),

    QueryDef("q23_simhash",
      (s, dir) => Dedup.simhashSignature(
        Tables.load(s, dir, "documents"), "doc_id", "text", 16),
      Some {
        val votes = (0 until 16).map(i =>
          s"${Dedup.duckSimhashBitVote("hs", i)} AS v$i").mkString(", ")
        val sig = (0 until 16).map(i =>
          s"CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END").mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
          h AS (SELECT doc_id, list_transform(toks, tk -> ${Determinism.duckHash("'sh:' || tk")}) AS hs
                FROM t WHERE len(toks) > 0),
          v AS (SELECT doc_id, $votes FROM h)
          SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM v"""
      }),

    QueryDef("q28_simhash_neardup_pairs",
      (s, dir) => {
        // near-dups = signatures within hamming distance 1. Blocking is
        // 2-band OR-blocking (the standard k+1-bands-for-hamming-k scheme):
        // a pair differing in at most 1 bit differs in at most one of the
        // two half-width bands, so it MUST collide on the other band —
        // recall is guaranteed by construction. (Top-byte-only blocking
        // silently dropped pairs whose flipped bit was in the top byte.)
        // The signature WIDTH derives from the live corpus (half28 — a
        // fixed width degenerates the in-band pair space to n²/2^(W/2));
        // a tiny-vocabulary corpus collapsing into few buckets is
        // re-split by AQE skew-join.
        val docs = Tables.load(s, dir, "documents")
        val half = half28(Tables.countOf(s, dir, "documents"))
        val sig = Dedup.simhashSignature(docs, "doc_id", "text", 2 * half)
          .cache()
        val banded = sig.select(col("doc_id"), col("simhash"), explode(array(
            struct(lit(0).as("band"),
              expr(s"simhash div ${1L << half}").as("key")),
            struct(lit(1).as("band"),
              expr(s"simhash % ${1L << half}").as("key")))).as("bk"))
          .select(col("doc_id"), col("simhash"),
            col("bk.band").as("band"), col("bk.key").as("key"))
        val l = banded.as("l"); val r = banded.as("r")
        l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
            expr("CAST(bit_count(l.simhash ^ r.simhash) AS BIGINT)").as("hamming"))
          .filter(col("hamming") <= 1)
          .distinct()
      },
      Some {
        // full-width-then-mask (the q95 plane-dial idiom): unroll votes to
        // the 32-bit ceiling, mask the signature to the derived width —
        // bit i of a simhash is width-independent, so the masked 32-bit
        // signature IS the 2·half28(n)-bit signature
        val maxBits = 2 * MaxHalf28
        val votes = (0 until maxBits).map(i =>
          s"${Dedup.duckSimhashBitVote("hs", i)} AS v$i").mkString(", ")
        val sig = (0 until maxBits).map(i =>
          s"CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END").mkString(" + ")
        val halfSub = duckHalf28("documents")
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
          h AS (SELECT doc_id, list_transform(toks, tk -> ${graft.core.Determinism.duckHash("'sh:' || tk")}) AS hs
                FROM t WHERE len(toks) > 0),
          v AS (SELECT doc_id, $votes FROM h),
          sg AS MATERIALIZED (
            SELECT doc_id,
              CAST($sig AS BIGINT) % (CAST(1 AS BIGINT) << (2 * $halfSub)) AS simhash
            FROM v),
          b AS (
            SELECT doc_id, simhash, 0 AS band,
              simhash // (CAST(1 AS BIGINT) << $halfSub) AS key FROM sg
            UNION ALL
            SELECT doc_id, simhash, 1 AS band,
              simhash % (CAST(1 AS BIGINT) << $halfSub) AS key FROM sg
          )
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
            CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
          FROM b l JOIN b r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
          WHERE bit_count(xor(l.simhash, r.simhash)) <= 1"""
      }),

    QueryDef("q36_winnowing_fingerprints",
      // winnowing document fingerprints (the rolling-hash scheme behind
      // MOSS-style near-dup detection): gram hashes = the one-md5-pass
      // shingle hashes, exploded to rows BEFORE windowing (the Generate
      // node is the inlining barrier — a lambda referencing the gram array
      // would re-evaluate it per window), then each length-5 window keeps
      // its minimum via a frame-bounded running min and the per-doc
      // fingerprint SET is the sorted distinct mins. Narrow + one keyed
      // window + one aggregate — scales like the signature queries.
      (s, dir) => {
        val Wn = 5
        val grams = Tables.load(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            posexplode(Dedup.shingleHashes(Dedup.shingles(col("toks"), ShingleK))))
          .toDF("doc_id", "pos", "h")
        val wcnt = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        val wmin = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("pos")).rowsBetween(0, Wn - 1)
        grams
          .withColumn("m", count(lit(1)).over(wcnt))
          .withColumn("wmin", min(col("h")).over(wmin))
          .filter(col("pos") <= col("m") - Wn)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_windows"),
            sort_array(array_distinct(collect_list(col("wmin")))).as("fps"))
          .select(col("doc_id"), col("n_windows"),
            size(col("fps")).cast("long").as("n_fps"),
            Determinism.portableHash(array_join(col("fps"), " ")).as("fp_hash"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        s AS (SELECT doc_id, ${Dedup.duckShingleHashes(Dedup.duckShingles("toks", ShingleK))} AS hs FROM t),
        g AS (SELECT doc_id, CAST(generate_subscripts(hs, 1) AS BIGINT) - 1 AS pos,
                unnest(hs) AS h, CAST(len(hs) AS BIGINT) AS m
              FROM s),
        w AS (SELECT doc_id, pos, m,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin
              FROM g),
        a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
                list_sort(list_distinct(list(wmin))) AS fps
              FROM w WHERE pos <= m - 5 GROUP BY doc_id)
        SELECT doc_id, n_windows, CAST(len(fps) AS BIGINT) AS n_fps,
          ${Determinism.duckHash("array_to_string(fps, ' ')")} AS fp_hash
        FROM a""")),

    QueryDef("q24_ngram_jaccard_pairs",
      (s, dir) => {
        // exact n-gram Jaccard over LSH-generated candidates — the
        // standard two-phase near-dup shape. Phase 1 proposes candidate
        // pairs by MinHash-LSH banding (q22's machinery: shuffles band
        // keys, fixed-width longs, never text); phase 2 verifies each
        // candidate EXACTLY by intersecting the two docs' distinct
        // shingle-hash sets. The n² pair space is never materialized and
        // no per-shingle self-join exists: cost = band collisions +
        // O(|candidates|) array intersections. na/nb are full
        // distinct-shingle counts; jaccard >= 1/8 decided by integer
        // cross-multiplication (`8*inter >= union`), no floats.
        val docs = Tables.load(s, dir, "documents")
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", Perms, ShingleK)
        val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", Bands, RowsPerBand)
        // per-doc distinct shingle-hash set: narrow (array lambdas fused
        // into the scan); the candidate side is tiny so both joins
        // broadcast it against this frame
        val hsets = docs
          // raw-text gate (≡ size(toks) > 0): the size form re-inlines
          // the tokenize into the scan filter via predicate pushdown
          .filter(TextFunctions.hasMinTokens(col("text"), 1))
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            array_distinct(Dedup.shingleHashes(Dedup.shingles(col("toks"), ShingleK))).as("hset"))
        pairs
          .join(hsets.select(col("doc_id").as("a2"), col("hset").as("ha")), col("a") === col("a2"))
          .join(hsets.select(col("doc_id").as("b2"), col("hset").as("hb")), col("b") === col("b2"))
          .select(col("a"), col("b"),
            size(array_intersect(col("ha"), col("hb"))).cast("long").as("inter"),
            size(col("ha")).cast("long").as("na"),
            size(col("hb")).cast("long").as("nb"))
          .filter(lit(8) * col("inter") >= col("na") + col("nb") - col("inter"))
      },
      Some(s"""${duckSigs(Perms)},
        $duckPairCtes,
        hsets AS (SELECT doc_id, list_distinct(hs) AS hset FROM sh),
        v AS (SELECT a, b,
                CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS inter,
                CAST(len(ha.hset) AS BIGINT) AS na,
                CAST(len(hb.hset) AS BIGINT) AS nb
              FROM pairs JOIN hsets ha ON a = ha.doc_id JOIN hsets hb ON b = hb.doc_id)
        SELECT a, b, inter, na, nb FROM v
        WHERE 8 * inter >= na + nb - inter""")),

    QueryDef("q94_corpus_curation",
      // the composed training-data curation funnel — the curation
      // operators running as ONE pipeline instead of isolated demos:
      //   stage 1  quality gate      (q31's composite score)
      //   stage 2  language check    (q32's langId vs the labeled lang)
      //   stage 3  near-dup removal  (q21 minhash → q22 LSH bands →
      //                               q93 connected components keep-list)
      // Output: the per-source funnel — docs entering, surviving each
      // stage, and tokens the kept corpus carries. At 100 TB the only
      // shuffles are the dedup machinery's (band keys, edge longs — the
      // quality/language gates are scan-fused column expressions) plus a
      // #sources-sized final aggregate; the keep-list joins back to the
      // corpus by doc_id. Dedup canonicalization runs on the FULL corpus
      // (cluster survivor = min doc_id, same law as q93), so the funnel
      // is monotone: kept ⊆ lang_ok ⊆ quality ⊆ docs.
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", Perms, ShingleK)
        val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", Bands, RowsPerBand)
        val keep = Dedup.connectedComponents(
            docs.select(col("doc_id").as("id")), pairs)
          .filter(col("id") === col("cluster"))
          .select(col("id").as("kid"), lit(1L).as("is_canonical"))
        // n_tokens + quality gate + lang check from ONE tokenize pass: the
        // three plain-val expressions each carried their own copy of the
        // tokenize tree (the funnel Project ran ~3 full tokenizations per
        // row even after the per-expression bindings) — one shared
        // binding computes the struct, a second select extracts fields
        val m = TextFunctions.bindOnce(TextFunctions.tokens(col("text")), t =>
          struct(size(t).cast("long").as("n_tokens"),
            (TextAnalysis.qualityBody(col("text"), t) >= QualityMin)
              .cast("long").as("q_ok"),
            (TextAnalysis.langBody(t) === col("lang")).cast("long").as("l_ok")))
        val staged = docs
          .join(keep, col("doc_id") === col("kid"), "left")
          .select(col("source"), m.as("m"),
            coalesce(col("is_canonical"), lit(0L)).as("k_ok"))
          .select(col("source"), col("m.n_tokens").as("n_tokens"),
            col("m.q_ok").as("q_ok"), col("m.l_ok").as("l_ok"), col("k_ok"))
        staged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("q_ok")).as("n_quality"),
            sum(col("q_ok") * col("l_ok")).as("n_lang_ok"),
            sum(col("q_ok") * col("l_ok") * col("k_ok")).as("n_kept"),
            sum(col("q_ok") * col("l_ok") * col("k_ok") * col("n_tokens")).as("tokens_kept"))
      },
      Some(
        s"""${duckSigs(Perms).replaceFirst("WITH ", "WITH RECURSIVE ")},
          $duckPairCtes,
          edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
          reach(u, v) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
          ),
          cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
          staged AS (
            SELECT d.source,
              CAST(len($duckToks) AS BIGINT) AS n_tokens,
              CASE WHEN ${TextAnalysis.duckQualityE6("text", duckToks)} >= $QualityMin THEN 1 ELSE 0 END AS q_ok,
              CASE WHEN ${TextAnalysis.duckLangId(duckToks)} = d.lang THEN 1 ELSE 0 END AS l_ok,
              CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END AS k_ok
            FROM documents d JOIN cl c ON d.doc_id = c.doc_id)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(q_ok) AS BIGINT) AS n_quality,
            CAST(sum(q_ok * l_ok) AS BIGINT) AS n_lang_ok,
            CAST(sum(q_ok * l_ok * k_ok) AS BIGINT) AS n_kept,
            CAST(sum(q_ok * l_ok * k_ok * n_tokens) AS BIGINT) AS tokens_kept
          FROM staged GROUP BY source""")),

    QueryDef("q97_decontamination",
      // benchmark DECONTAMINATION — the train/eval n-gram overlap scan
      // (GPT-3 appendix C / PaLM recipe): a train doc is contaminated when
      // it shares any token 4-gram with the eval holdout (here the
      // seeded-hash-designated ~5% of the corpus, standing in for a
      // benchmark suite). Join carries shingle-hash longs only and the
      // eval side is broadcast — the 100 TB train scan stays shuffle-free.
      // `contaminated = 0` is directly the post-decontamination keep-list.
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val isEval = pmod(Determinism.seeded("ev", col("doc_id")), lit(20L)) === 0L
        Curation.contaminationScan(
          docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", 4)
      },
      Some {
        val hs = Dedup.duckShingleHashes(Dedup.duckShingles("toks", 4))
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks,
            ${Determinism.duckSeeded("ev", "doc_id")} % 20 AS ev FROM documents),
          sh AS (SELECT doc_id, ev, $hs AS hs FROM t WHERE len(toks) > 0),
          tr AS (SELECT DISTINCT tid, h FROM
            (SELECT doc_id AS tid, unnest(hs) AS h FROM sh WHERE ev <> 0)),
          evs AS (SELECT DISTINCT eid, h FROM
            (SELECT doc_id AS eid, unnest(hs) AS h FROM sh WHERE ev = 0)),
          hits AS (SELECT tid, count(DISTINCT h) AS n_shared,
              count(DISTINCT eid) AS n_eval_docs
            FROM tr JOIN evs USING (h) GROUP BY tid)
          SELECT t.doc_id,
            CAST(coalesce(hits.n_shared, 0) AS BIGINT) AS n_shared,
            CAST(coalesce(hits.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
            CAST(CASE WHEN hits.tid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS contaminated
          FROM t LEFT JOIN hits ON t.doc_id = hits.tid WHERE t.ev <> 0"""
      }),

    QueryDef("q114_bloom_decontamination",
      // decontamination behind a BLOOM FILTER: the q97 scan broadcasts the
      // eval suite's distinct shingle hashes — fine for MB-scale suites,
      // but a 10⁹-n-gram suite is GBs. The Bloom filter caps the broadcast
      // at m bits (here 4096 = 128 BIGINT words) with one-sided error:
      // every truly-shared n-gram is flagged (no contaminated doc ever
      // slips through), a small FP fraction of clean docs is over-flagged
      // (re-checked exactly against only the flagged docs in a second
      // pass when FPs matter). The sketch is cross-engine portable — the
      // oracle rebuilds the SAME bit words and the SAME probe verdicts,
      // and `exact_contaminated` rides along so the artifact shows the
      // one-sided error directly (bloom ⊇ exact, pinned in SketchesSpec).
      (s, dir) => {
        import graft.operators.Sketches
        val docs = Tables.load(s, dir, "documents")
        val isEval = pmod(Determinism.seeded("ev", col("doc_id")), lit(20L)) === 0L
        def sh(df: org.apache.spark.sql.DataFrame) = df
          // raw-text gate (≡ size(toks) > 0) — see hasMinTokens
          .filter(TextFunctions.hasMinTokens(col("text"), 1))
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"), explode(Dedup.shingles(col("toks"), 4)).as("elem"))
          .distinct()
        val evalSh = sh(docs.filter(isEval))
        val trainSh = sh(docs.filter(!isEval))
        val filt = Sketches.bloomBuild(evalSh, "elem")
        val maybes = Sketches.bloomProbe(trainSh, filt, "doc_id", "elem")
          .groupBy(col("doc_id")).agg(sum(col("maybe")).as("n_maybe"))
        val exact = trainSh
          .join(evalSh.select(col("elem")).distinct(), "elem")
          .select(col("doc_id")).distinct().withColumn("ex", lit(1L))
        docs.filter(!isEval).select(col("doc_id"))
          .join(maybes, Seq("doc_id"), "left")
          .join(exact, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
            (coalesce(col("n_maybe"), lit(0L)) > 0).cast("long").as("bloom_contaminated"),
            coalesce(col("ex"), lit(0L)).as("exact_contaminated"))
      },
      Some {
        import graft.operators.Sketches
        val sg = Dedup.duckShingles("toks", 4)
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks,
            ${Determinism.duckSeeded("ev", "doc_id")} % 20 AS ev FROM documents),
          sh AS MATERIALIZED (SELECT doc_id, ev, $sg AS sg FROM t WHERE len(toks) > 0),
          evel AS MATERIALIZED (SELECT DISTINCT elem FROM
            (SELECT unnest(sg) AS elem FROM sh WHERE ev = 0)),
          filt AS MATERIALIZED ${Sketches.duckBloomBuild("evel")},
          tp AS MATERIALIZED (SELECT DISTINCT doc_id AS pid, elem FROM
            (SELECT doc_id, unnest(sg) AS elem FROM sh WHERE ev <> 0)),
          pr AS ${Sketches.duckBloomProbe("tp", "filt")},
          agg AS (SELECT pid, CAST(sum(maybe) AS BIGINT) AS n_maybe FROM pr GROUP BY 1),
          ex AS (SELECT DISTINCT tp.pid FROM tp JOIN evel USING (elem))
          SELECT t.doc_id,
            coalesce(agg.n_maybe, 0) AS n_maybe,
            CAST(CASE WHEN coalesce(agg.n_maybe, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
              AS bloom_contaminated,
            CAST(CASE WHEN ex.pid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
              AS exact_contaminated
          FROM t LEFT JOIN agg ON t.doc_id = agg.pid
          LEFT JOIN ex ON t.doc_id = ex.pid WHERE t.ev <> 0"""
      }),

    QueryDef("q68_incremental_dedup",
      // INCREMENTAL dedup — the corpus-growth path: a freshly-landed
      // shard (the seeded ~20% here) is checked against the standing
      // corpus by generating only the candidate pairs that touch a new
      // doc; old-old pairs (already resolved when the index was built)
      // are never produced, so the refresh scales with the shard, not
      // the corpus. Output pairs carry which endpoints are new.
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val isNew = (id: org.apache.spark.sql.Column) =>
          pmod(Determinism.seeded("inc", id), lit(5L)) === 0L
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", Perms, ShingleK)
          .withColumn("is_new", isNew(col("doc_id")))
        Dedup.incrementalCandidatePairs(sigs, "doc_id", "is_new", Bands, RowsPerBand)
          .select(col("a"), col("b"),
            isNew(col("a")).cast("long").as("a_new"),
            isNew(col("b")).cast("long").as("b_new"))
      },
      Some {
        def isNew(e: String) = s"${Determinism.duckSeeded("inc", e)} % 5 = 0"
        s"""${duckSigs(Perms)},
          $duckBandsCte,
          pairs AS (SELECT DISTINCT LEAST(l.doc_id, r.doc_id) AS a,
              GREATEST(l.doc_id, r.doc_id) AS b
            FROM bands l JOIN bands r
              ON l.band = r.band AND l.key = r.key AND l.doc_id <> r.doc_id
            WHERE ${isNew("l.doc_id")})
          SELECT a, b,
            CAST(CASE WHEN ${isNew("a")} THEN 1 ELSE 0 END AS BIGINT) AS a_new,
            CAST(CASE WHEN ${isNew("b")} THEN 1 ELSE 0 END AS BIGINT) AS b_new
          FROM pairs"""
      }),

    QueryDef("q106_duplicate_spans",
      // exact duplicated-substring dedup (Lee et al. 2022) as a
      // rolling-span hash pipeline: any 15-token span occurring >= 2
      // times in the corpus is a duplicate; per-doc profile = dup-span
      // count, UNION token coverage (overlaps counted once via a per-doc
      // running-max window), keep = coverage < 20%. Span text never
      // shuffles — one 60-bit hash per token position, map-side-combined
      // counts, hash-keyed semi join back (operators.Curation scaladoc).
      (s, dir) => Curation.duplicateSpanProfile(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        width = SpanW, maxDupE6 = SpanMaxDupE6),
      Some {
        s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          ${Curation.duckSpanProfileCtes("toks", "t", SpanW)}
          SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
            coalesce(p.dup_spans, 0) AS dup_spans,
            coalesce(p.dup_tokens, 0) AS dup_tokens,
            CAST(CASE WHEN coalesce(p.dup_tokens, 0) * 1000000
              < $SpanMaxDupE6 * len(t.t) THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM toks t LEFT JOIN prof p ON t.doc_id = p.doc_id"""
      }),

    QueryDef("q109_incremental_span_dedup",
      // the streaming-refresh twin of q106 (the q68 shape for substring
      // dedup): a fifth of the corpus "arrives" as the new shard and is
      // profiled against the standing span index — per-refresh cost
      // ∝ |new| × collisions, the old corpus is never re-profiled. The
      // ORACLE states the refresh-equivalence law instead of mirroring
      // the plan: full-corpus profile restricted to the new docs. A
      // hash-match verifies both the incremental implementation and the
      // law itself.
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val isNew = pmod(Determinism.seeded("incs", col("doc_id")), lit(5L)) === 0
        Curation.incrementalSpanProfile(
          docs.filter(isNew), docs.filter(!isNew),
          "doc_id", "text", width = SpanW, maxDupE6 = SpanMaxDupE6)
      },
      Some {
        val isNew = s"${Determinism.duckSeeded("incs", "doc_id")} % 5 = 0"
        s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
          ${Curation.duckSpanProfileCtes("toks", "t", SpanW)}
          SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
            coalesce(p.dup_spans, 0) AS dup_spans,
            coalesce(p.dup_tokens, 0) AS dup_tokens,
            CAST(CASE WHEN coalesce(p.dup_tokens, 0) * 1000000
              < $SpanMaxDupE6 * len(t.t) THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM toks t LEFT JOIN prof p ON t.doc_id = p.doc_id
          WHERE ${isNew.replace("doc_id", "t.doc_id")}"""
      }),

    QueryDef("q111_pretraining_pipeline",
      // the WHOLE pretraining-data pipeline as ONE declarative plan — the
      // "switch your corpus pipeline to this library" flagship. Seven
      // stages, each an operator verified in isolation, composed end to
      // end over the train/eval split:
      //   quality gate → language check → exact dedup (content-hash
      //   canonical) → substring-dedup coverage gate (q106) →
      //   benchmark decontamination (q97) → LM quality gate (q107) →
      //   token-budget selection over the survivors (q108, 50% budget).
      // Output = the per-source funnel (docs surviving each stage,
      // monotone by construction, and the final selected token mass).
      // Scale shape: the gates are scan-fused columns or broadcast-model
      // joins; the only wide ops belong to the dedup/span/selection
      // machinery, each individually audited in PLANS.md.
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val isEval = pmod(Determinism.seeded("ev", col("doc_id")), lit(20L)) === 0L
        val train = docs.filter(!isEval)
        val evalSet = docs.filter(isEval)
        val fpW = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
        // quality gate + lang check from ONE tokenize pass (same shared-
        // binding shape as the q94 funnel stage above)
        val ql = TextFunctions.bindOnce(TextFunctions.tokens(col("text")), t =>
          struct((TextAnalysis.qualityBody(col("text"), t) >= QualityMin)
              .cast("long").as("g_quality"),
            (TextAnalysis.langBody(t) === col("lang")).cast("long").as("g_lang")))
        val flags = train
          .withColumn("fp", TextAnalysis.fingerprintFull(col("text")))
          .withColumn("g_dedup",
            (col("doc_id") === min(col("doc_id")).over(fpW)).cast("long"))
          .withColumn("ql", ql)
          .select(col("doc_id"), col("source"), col("text"),
            col("ql.g_quality").as("g_quality"), col("ql.g_lang").as("g_lang"),
            col("g_dedup"))
        val span = Curation.duplicateSpanProfile(train, "doc_id", "text", SpanW, SpanMaxDupE6)
          .select(col("doc_id"), col("keep").as("g_span"))
        val decon = Curation.contaminationScan(train, evalSet, "doc_id", "text", 4)
          .select(col("doc_id"), (col("contaminated") === 0L).cast("long").as("g_decon"))
        val (bg, ctx, v) = graft.operators.NgramLm.train(
          train.filter(col("source") === "src0"), "text")
        val lm = graft.operators.NgramLm.score(train, "doc_id", "text", bg, ctx, v)
          .select(col("doc_id"), (col("avg_cost_e6") <= LmMaxE6).cast("long").as("g_lm"))
        val staged = flags.join(span, "doc_id").join(decon, "doc_id").join(lm, "doc_id")
          .withColumn("g_all",
            col("g_quality") * col("g_lang") * col("g_dedup") *
              col("g_span") * col("g_decon") * col("g_lm"))
        // checkpointStats = false: the selection input is the staged
        // funnel itself — its copies across the selection's consumers
        // deduplicate via exchange reuse in ONE execution, where a stats
        // checkpoint severs the reuse and re-materializes the funnel
        // (see budgetSelection scaladoc for the timings)
        val sel = Curation.budgetSelection(
            staged.filter(col("g_all") === 1L).select(col("doc_id"), col("text")),
            "doc_id", "text", SelFracE6, checkpointStats = false)
          .select(col("doc_id"), col("kept").as("g_sel"), col("n_tokens"))
        staged.join(sel, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("g_quality")).as("n_quality"),
            sum(col("g_quality") * col("g_lang")).as("n_lang"),
            sum(col("g_quality") * col("g_lang") * col("g_dedup")).as("n_dedup"),
            sum(col("g_quality") * col("g_lang") * col("g_dedup") * col("g_span"))
              .as("n_span"),
            sum(col("g_quality") * col("g_lang") * col("g_dedup") * col("g_span") *
              col("g_decon")).as("n_decon"),
            sum(col("g_all")).as("n_lm"),
            sum(coalesce(col("g_sel"), lit(0L))).as("n_selected"),
            sum(coalesce(col("g_sel") * col("n_tokens"), lit(0L))).as("tokens_selected"))
      },
      Some {
        val hs = Dedup.duckShingleHashes(Dedup.duckShingles("toks", 4))
        s"""WITH t AS MATERIALIZED (SELECT doc_id, source, lang, text,
            $duckToks AS toks,
            ${Determinism.duckSeeded("ev", "doc_id")} % 20 AS ev FROM documents),
          tr AS MATERIALIZED (SELECT * FROM t WHERE ev <> 0),
          gates AS (SELECT doc_id, source, toks,
            CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY
              ${Determinism.duckHash(TextFunctions.duckNormalizeWs("text"))})
              THEN 1 ELSE 0 END AS g_dedup,
            CASE WHEN ${TextAnalysis.duckQualityE6("text", "toks")} >= $QualityMin
              THEN 1 ELSE 0 END AS g_quality,
            CASE WHEN ${TextAnalysis.duckLangId("toks")} = lang
              THEN 1 ELSE 0 END AS g_lang
            FROM tr),
          ${Curation.duckSpanProfileCtes("tr", "toks", SpanW)},
          spang AS (SELECT tr.doc_id, CASE WHEN coalesce(p.dup_tokens, 0) * 1000000
              < $SpanMaxDupE6 * len(tr.toks) THEN 1 ELSE 0 END AS g_span
            FROM tr LEFT JOIN prof p ON tr.doc_id = p.doc_id),
          sh AS (SELECT doc_id, ev, $hs AS hs FROM t WHERE len(toks) > 0),
          trsh AS (SELECT DISTINCT tid, h FROM
            (SELECT doc_id AS tid, unnest(hs) AS h FROM sh WHERE ev <> 0)),
          evsh AS (SELECT DISTINCT h FROM
            (SELECT unnest(hs) AS h FROM sh WHERE ev = 0)),
          hits AS (SELECT DISTINCT tid FROM trsh JOIN evsh USING (h)),
          decong AS (SELECT tr.doc_id,
            CASE WHEN hits.tid IS NULL THEN 1 ELSE 0 END AS g_decon
            FROM tr LEFT JOIN hits ON tr.doc_id = hits.tid),
          ${graft.operators.NgramLm.duckLmCtes("tr", "toks", "source = 'src0'")},
          lmg AS (SELECT tr.doc_id, CASE WHEN
              (CASE WHEN coalesce(l.n_bigrams, 0) > 0
                THEN l.cost_e6 // l.n_bigrams ELSE 0 END)
              <= $LmMaxE6 THEN 1 ELSE 0 END AS g_lm
            FROM tr LEFT JOIN lmagg l ON tr.doc_id = l.doc_id),
          staged AS MATERIALIZED (SELECT g.doc_id, g.source, g.toks,
              g.g_quality, g.g_lang, g.g_dedup, s.g_span, d.g_decon, l.g_lm,
              g.g_quality * g.g_lang * g.g_dedup * s.g_span * d.g_decon * l.g_lm
                AS g_all,
              ${TextAnalysis.duckQualityE6("tr2.text", "g.toks")} AS qe6
            FROM gates g JOIN spang s ON g.doc_id = s.doc_id
              JOIN decong d ON g.doc_id = d.doc_id
              JOIN lmg l ON g.doc_id = l.doc_id
              JOIN tr tr2 ON g.doc_id = tr2.doc_id),
          base AS (SELECT doc_id, qe6, CAST(len(toks) AS BIGINT) AS n
            FROM staged WHERE g_all = 1),
          tot AS (SELECT CAST((sum(n) * $SelFracE6) // 1000000 AS BIGINT)
            AS budget FROM base),
          selr AS (SELECT doc_id, n, sum(n) OVER (ORDER BY qe6 DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM base),
          sel AS (SELECT doc_id, n,
              CASE WHEN cum <= budget THEN 1 ELSE 0 END AS g_sel
            FROM selr CROSS JOIN tot)
          SELECT staged.source,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(g_quality) AS BIGINT) AS n_quality,
            CAST(sum(g_quality * g_lang) AS BIGINT) AS n_lang,
            CAST(sum(g_quality * g_lang * g_dedup) AS BIGINT) AS n_dedup,
            CAST(sum(g_quality * g_lang * g_dedup * g_span) AS BIGINT) AS n_span,
            CAST(sum(g_quality * g_lang * g_dedup * g_span * g_decon) AS BIGINT)
              AS n_decon,
            CAST(sum(g_all) AS BIGINT) AS n_lm,
            CAST(sum(coalesce(sel.g_sel, 0)) AS BIGINT) AS n_selected,
            CAST(sum(coalesce(sel.g_sel * sel.n, 0)) AS BIGINT) AS tokens_selected
          FROM staged LEFT JOIN sel ON staged.doc_id = sel.doc_id
          GROUP BY staged.source"""
      }),

    QueryDef("q149_banded_dedup_recall",
      // banded-dedup RECALL against exact ground truth: for every truly
      // near-duplicate pair (exact Jaccard over distinct shingle hashes
      // — computed by a shingle-inverted join, cost ∝ shared shingles,
      // never n²), did the production LSH banding (q22's b=4×r=2
      // config) surface it as a candidate? The corpus's only organic
      // near-dups are near-identical (J≥0.8), so each sampled doc also
      // gets a hash-MUTATED twin (~30% of tokens replaced by a pure
      // (doc, position) hash rule) — pairs then span the mid-J range
      // where banding recall actually degrades (P[caught] =
      // 1−(1−J^r)^b). Emitted: every truth pair (J ≥ 0.15) with its
      // exact jac_e6 and the caught flag; DuckDB replays the twins, the
      // exact Jaccard, the signatures, and the band collisions. At
      // 100 TB the ground-truth half stays a SAMPLED audit (as here) —
      // the production path is the banding itself.
      (s, dir) => {
        val TwinOff = 10000000L
        val base = Tables.load(s, dir, "documents")
          .filter(col("doc_id") % 3 === 0)
          // raw-text gate (≡ size(toks) > 0) — see hasMinTokens
          .filter(TextFunctions.hasMinTokens(col("text"), 1))
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        // composed (built-ins-only) hash form: the native PortableHash32
        // expression and higher-order-function lambdas don't mix (the
        // lambda variable reaches it unresolved) — same values either way
        def hij(st: String, i: org.apache.spark.sql.Column) = Determinism.portableHashComposed(
          concat(lit(st + ":"), col("doc_id").cast("string"), lit(":"), i.cast("string")))
        val mut = transform(sequence(lit(1), size(col("toks"))), i =>
          when(pmod(hij("mut", i), lit(10L)) < 3,
            concat(lit("z"), pmod(hij("zz", i), lit(97L)).cast("string")))
            .otherwise(element_at(col("toks"), i)))
        // NOTE the two-step twin select: a same-Project alias named
        // `doc_id` SHADOWS the child column inside higher-order-function
        // lambdas (the mut draws would silently key on the SHIFTED id),
        // so the mutation evaluates in a Project with no alias collision
        // and the id shift happens one select later.
        val twin = base.select(col("doc_id"), array_join(mut, " ").as("text"))
          .select((col("doc_id") + TwinOff).as("doc_id"), col("text"))
        val uni = base.select(col("doc_id"), array_join(col("toks"), " ").as("text"))
          .unionByName(twin)
          .localCheckpoint(eager = false) // feeds ground truth AND banding
        // exact ground truth over DISTINCT shingle hashes
        val sh = uni.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"), explode(Dedup.shingles(col("toks"), ShingleK)).as("sg"))
          .select(col("doc_id"),
            pmod(Determinism.portableHash(col("sg")), lit(Dedup.MixMod)).as("h"))
          .distinct().localCheckpoint(eager = false)
        val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n"))
        val inter = sh.as("x")
          .join(sh.as("y"), col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .agg(count(lit(1)).cast("long").as("c"))
        val jac = inter
          .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
          .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
          .withColumn("jac_e6", expr("(1000000 * c) div (na + nb - c)"))
          .filter(col("jac_e6") >= 150000L)
        val pairs = Dedup.lshCandidatePairs(
            Dedup.minhashSignatures(uni, "doc_id", "text", Perms, ShingleK),
            "doc_id", Bands, RowsPerBand)
          .withColumn("hit", lit(1L))
        jac.join(pairs, Seq("a", "b"), "left")
          .select(col("a"), col("b"), col("jac_e6"),
            coalesce(col("hit"), lit(0L)).as("caught"))
      },
      Some {
        def hij(st: String) = Determinism.duckHash(
          s"'$st:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
        val mhs = (0 until Perms)
          .map(j => s"${Dedup.duckMinhashFromHashes("hs", j)} AS mh$j").mkString(", ")
        s"""WITH t0 AS (SELECT doc_id, $duckToks AS toks FROM documents
            WHERE doc_id % 3 = 0),
          t1 AS (SELECT doc_id, toks FROM t0 WHERE len(toks) > 0),
          tw AS (
            SELECT doc_id + 10000000 AS doc_id,
              list_transform(range(1, len(toks) + 1), i ->
                CASE WHEN ${hij("mut")} % 10 < 3
                  THEN 'z' || CAST(${hij("zz")} % 97 AS VARCHAR)
                  ELSE toks[CAST(i AS INT)] END) AS toks
            FROM t1
          ),
          uni AS MATERIALIZED (
            SELECT doc_id, toks FROM t1 UNION ALL SELECT doc_id, toks FROM tw
          ),
          s AS MATERIALIZED (
            SELECT doc_id, ${Dedup.duckShingles("toks", ShingleK)} AS sh FROM uni
          ),
          shx AS MATERIALIZED (
            SELECT DISTINCT doc_id, h FROM (
              SELECT doc_id, unnest(${Dedup.duckShingleHashes("sh")}) AS h
              FROM s WHERE len(sh) > 0)
          ),
          sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shx GROUP BY 1),
          inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS c
            FROM shx x JOIN shx y ON x.h = y.h AND x.doc_id < y.doc_id
            GROUP BY 1, 2
          ),
          jac AS (
            SELECT a, b, CAST((1000000 * c) // (sa.n + sb.n - c) AS BIGINT) AS jac_e6
            FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
          ),
          sh2 AS (
            SELECT doc_id, ${Dedup.duckShingleHashes("sh")} AS hs
            FROM s WHERE len(sh) > 0
          ),
          sigs AS (SELECT doc_id, $mhs FROM sh2),
          $duckPairCtes
          SELECT j.a, j.b, j.jac_e6,
            CAST(CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS caught
          FROM jac j LEFT JOIN pairs p ON p.a = j.a AND p.b = j.b
          WHERE j.jac_e6 >= 150000"""
      })
  )
}
