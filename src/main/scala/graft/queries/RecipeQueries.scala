package graft.queries

import graft.{QueryDef, QueryModule}
import graft.core.{Determinism, Tables}
import graft.functions.TextFunctions
import graft.functions.{KvpField, KvpPrefixSampler}
import graft.operators.{Decoration, NegativeBackend, NegativeStrategy, Recipes, Sampler, SamplerState, Selector, TextRecipe, TripletRecipe}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The recipe engine on the oracle path: `ticketOrder`/`pick` decide which
  * recipe governs each draw, and that recipe's anchor/positive [[Selector]]s
  * pick concrete chunks via [[Recipes.selectChunk]] — i.e. recipe scheduling
  * and selector execution are correctness-gated, not just spec-pinned
  * (reference: src/config.rs:147-237 selector contract,
  * src/sampler/mod.rs:2761-2801 ticket scheduling).
  *
  * The ticket plan is pure config (a deterministic function of the recipe
  * weights and seed), so both engines receive it as a literal: Spark binds
  * one selector pipeline per draw, DuckDB joins a VALUES table with the
  * same (draw → recipe, selector) rows. What the oracle verifies is the
  * per-draw chunk selection: eligibility filtering, the (section_idx,
  * view_kind, window_index, overlap) ordering, and the seeded hash-pick.
  *
  * Two of the three recipes are the CSV source DEFAULTS
  * ([[Recipes.csvDefaults]], reference csv_source.rs:368-409) — exercising
  * the defaults-resolution lane; the third adds Paragraph/Random selectors.
  */
object RecipeQueries extends QueryModule {

  private val Seed = "42"
  private[graft] val W = 32; private[graft] val OV = 8; private[graft] val ST = W - OV
  private[graft] val AT = 8        // anchor-section tokens
  private[graft] val MinToks = 12
  private val Draws = 12

  /** CSV role-mode defaults (resolved as a source with no configured
    * recipes would) + a Paragraph/Random lane, then Stage-A auto-injection
    * of the long-section recipe: the synthetic corpus' context sections
    * (~46 tokens) exceed the 32-token window, so the auto lane fires and
    * competes for tickets like any configured recipe (reference:
    * src/sampler/mod.rs:691-723, 1801-1835). */
  private val CorpusMaxSectionTokens = 64L
  private[graft] val recipes: Seq[TripletRecipe] =
    Recipes.withAutoInjected(
      Recipes.resolve(Nil, Recipes.csvDefaults(roleMode = true)) :+
        TripletRecipe("custom_paragraph_random", Selector.Paragraph(0), Selector.Random,
          NegativeStrategy.WrongArticle, weight = 0.5f),
      maxSectionTokens = CorpusMaxSectionTokens, maxWindowTokens = W)
  private[graft] val plan: Seq[String] = Recipes.ticketOrder(recipes, Seed, epoch = 0L)
  private val byName = recipes.map(r => r.name -> r).toMap

  /** Two-section chunk table: section 0 = anchor head tokens (one window),
    * section 1 = context sliding windows (q12 layout). Narrow plan. */
  private[graft] def contextChunks(docs: DataFrame): DataFrame =
    chunkTable(docs).filter(col("role") === "context")

  private[graft] def chunkTable(docs: DataFrame): DataFrame = {
    // raw-text gate (≡ size(tokens(text)) >= MinToks): the size form
    // sat above the toks projection and predicate pushdown re-inlined
    // the full tokenize into the scan filter — one extra tokenize pass
    // per row per consumer of the derived chunk table. Rows unchanged —
    // see TextFunctions.hasMinTokens for the run-counting equivalence.
    val base = docs.filter(TextFunctions.hasMinTokens(col("text"), MinToks))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    val anchor = base.select(col("doc_id").as("record_id"),
      lit(0).as("section_idx"), lit("anchor").as("role"), lit("window").as("view_kind"),
      lit(0).as("window_index"), lit(OV).as("overlap"),
      array_join(expr(s"slice(toks, 1, $AT)"), " ").as("wtext"))
    val ctx = base
      .withColumn("ctoks", expr(s"slice(toks, ${AT + 1}, n - $AT)"))
      .withColumn("cn", size(col("ctoks")))
      .withColumn("span", least(lit(W), col("cn")))
      .withColumn("k", when(col("cn") <= W, lit(1))
        .otherwise(floor((col("cn") - col("span") + lit(ST - 1)) / lit(ST)).cast("int") + 1))
      .withColumn("i", explode(sequence(lit(0), col("k") - 1)))
      .select(col("doc_id").as("record_id"),
        lit(1).as("section_idx"), lit("context").as("role"), lit("window").as("view_kind"),
        col("i").as("window_index"), lit(OV).as("overlap"),
        array_join(expr(s"slice(ctoks, i * $ST + 1, least(span, cn - i * $ST))"), " ").as("wtext"))
    anchor.unionByName(ctx)
  }

  private def selDesc(s: Selector): (String, String) =
    graft.operators.Sampler.selectorDesc(s)

  private def drawsValues: String = (0 until Draws).map { d =>
    val r = byName(Recipes.pick(plan, 0L, d.toLong))
    val (am, aa) = selDesc(r.anchor); val (pm, pa) = selDesc(r.positive)
    s"($d, '${r.name}', '$am', '$aa', '$pm', '$pa')"
  }.mkString(", ")

  /** Shared chunk-table CTE chain (the SQL twin of [[chunkTable]]):
    * `d0 → base → ach/cch → chunks`; `base` carries (doc_id, source, n)
    * so callers can also derive record pools from it. Split in two so
    * composed-batch oracles can place the EXPENSIVE window derivation
    * AFTER their slot/negative CTEs with an id restriction — the SQL twin
    * of the engine's `isin` pushdown (the corpus-wide chunk CTE is what
    * made the q66 oracle OOM at sf0.1 while Spark answered in seconds;
    * per-batch chunk cost must be ∝ batch size in BOTH engines). */
  private[graft] def duckBaseCtes(where: String): String =
    s"""d0 AS MATERIALIZED (
        SELECT doc_id, source, ${TextFunctions.duckTokens("text")} AS toks FROM documents
        WHERE $where
      ), base AS MATERIALIZED (
        SELECT doc_id, source, toks, len(toks) AS n FROM d0 WHERE len(toks) >= $MinToks
      )"""

  /** `restrict` is an optional `WHERE` clause (e.g. `WHERE doc_id IN
    * (SELECT rid FROM needed)`) applied to both section scans. `prefix`
    * namespaces the CTEs so one oracle can derive TWO restricted chunk
    * tables (e.g. slot records vs negative records — the SQL twin of the
    * engine's per-consumer isin-restricted scans). */
  private[graft] def duckChunkDerive(restrict: String = "", prefix: String = ""): String =
    s"""${prefix}ach AS (
        SELECT doc_id AS record_id, 0 AS section_idx, 'anchor' AS role,
          'window' AS view_kind, 0 AS window_index, $OV AS overlap,
          array_to_string(list_slice(toks, 1, $AT), ' ') AS wtext
        FROM base $restrict
      ), ${prefix}cq AS (
        SELECT doc_id, list_slice(toks, ${AT + 1}, n) AS ctoks, n - $AT AS cn
        FROM base $restrict
      ), ${prefix}cq2 AS (
        SELECT doc_id, ctoks, cn, LEAST($W, cn) AS span,
          CASE WHEN cn <= $W THEN 1
               ELSE CAST(floor((cn - LEAST($W, cn) + ${ST - 1}) / $ST.0) AS INT) + 1 END AS k
        FROM ${prefix}cq
      ), ${prefix}cwin AS (
        SELECT doc_id, ctoks, cn, span, unnest(generate_series(0, k - 1)) AS i FROM ${prefix}cq2
      ), ${prefix}cch AS (
        SELECT doc_id AS record_id, 1 AS section_idx, 'context' AS role,
          'window' AS view_kind, CAST(i AS INT) AS window_index, $OV AS overlap,
          array_to_string(list_slice(ctoks, i * $ST + 1, i * $ST + LEAST(span, cn - i * $ST)), ' ') AS wtext
        FROM ${prefix}cwin
      ), ${prefix}chunks AS MATERIALIZED (SELECT * FROM ${prefix}ach UNION ALL SELECT * FROM ${prefix}cch)"""

  private def duckChunkCtes(where: String): String =
    duckBaseCtes(where) + ", " + duckChunkDerive()

  private def duckSlot(slot: String, draws: String = "draws",
      chunksName: String = "chunks"): String = {
    val seedHash = Determinism.duckHash(
      s"'sel:$slot:' || CAST(draw AS VARCHAR) || ':' || CAST(record_id AS VARCHAR)")
    s"""elig_$slot AS (
      SELECT dr.draw, dr.recipe, c.* FROM $draws dr JOIN $chunksName c ON
        CASE dr.${slot}_mode WHEN 'role' THEN c.role = dr.${slot}_arg
             WHEN 'para' THEN c.section_idx = CAST(dr.${slot}_arg AS INT) ELSE TRUE END
    ), rank_$slot AS (
      SELECT *,
        CAST(row_number() OVER (PARTITION BY draw, record_id
          ORDER BY section_idx, view_kind, window_index, overlap) AS BIGINT) - 1 AS crnk,
        CAST(count(*) OVER (PARTITION BY draw, record_id) AS BIGINT) AS csize
      FROM elig_$slot
    ), pick_$slot AS (
      SELECT draw, recipe, record_id, section_idx AS ${slot}_sidx,
        window_index AS ${slot}_widx, wtext AS ${slot}_text
      FROM rank_$slot WHERE crnk = $seedHash % csize
    )"""
  }

  // ---- mixed-strategy composed batch (q66) ----
  // The composed driver with a ticket plan spanning all three negative
  // strategies: the slot schedule (draw → recipe, strategy, selectors) is
  // pure config, handed to DuckDB as a VALUES table exactly like q87; the
  // oracle then replays the dense epoch order, all three strategy picks,
  // the selector picks, and the identical-text rejection.
  private[graft] val MixSeed = "mix"
  private[graft] val MixBatch = 48
  private[graft] val mixRecipes: Seq[TripletRecipe] = Seq(
    TripletRecipe("mix_wrong_article", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = 0.5f),
    TripletRecipe("mix_wrong_date", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongPublicationDate, weight = 0.3f),
    TripletRecipe("mix_qa_mismatch", Selector.Paragraph(1), Selector.Random,
      NegativeStrategy.QuestionAnswerMismatch, weight = 0.2f,
      negativeSelector = Selector.RoleAnchor))
  /** The composed slot schedule as a SQL VALUES list — pure config (a
    * deterministic function of recipes + seed), handed to DuckDB exactly
    * like q87's draw table. Assumes no epoch wrap inside the batch (the
    * callers' pools are sized well above one batch at every driver SF). */
  private def composedSlotValues(recipes: Seq[TripletRecipe], seed: String,
      batch: Int): String = {
    val byN = recipes.map(r => r.name -> r).toMap
    val plan0 = Recipes.ticketOrder(recipes, seed, epoch = 0L)
    (0 until batch).map { d =>
      val r = byN(Recipes.pick(plan0, 0L, d.toLong))
      val (am, aa) = selDesc(r.anchor); val (pm, pa) = selDesc(r.positive)
      val (nm, na) = selDesc(r.negativeSelector)
      s"($d, $d, '${r.name}', '${r.negative.reason}', '$am', '$aa', '$pm', '$pa', '$nm', '$na')"
    }.mkString(", ")
  }
  private def mixSlotValues: String = composedSlotValues(mixRecipes, MixSeed, MixBatch)

  /** The mix lane's full DuckDB replay (the q66 oracle body) — shared by
    * q66 (one 48-draw batch) and q143 (two sequential 24-draw batches
    * threading SamplerState): the slot schedule is a pure function of the
    * global draw counter and the cursor/epoch walk, so consecutive
    * batches compose into exactly the one-shot schedule and ONE oracle
    * covers both (the q143 law). */
  /** The bmx lane's DuckDB replay through `f0` (no final SELECT) —
    * shared by q58 (the batch rows) and q142 (the extended-metrics
    * aggregation, which also reads the `bmpick` CTE for the bm25-vs-
    * default lane split). */
  private lazy val bmxTwinCtes: String = {
        val h = Determinism.duckSeeded _
        def dk(prefix: String) = Determinism.duckHash(
          s"'$prefix:$BmSeed:' || CAST(sl.draw AS VARCHAR) || ':' || CAST(sl.record_id AS VARCHAR)")
        val rot = Determinism.duckHash(
          s"'negb:$BmSeed:' || CAST(t.draw AS VARCHAR) || ':' || CAST(t.record_id AS VARCHAR)")
        val bmNames = bmxRecipes.filter(_.negativeBackend == NegativeBackend.Bm25)
          .map(r => s"'${r.name}'").mkString(", ")
        val K1 = graft.operators.Bm25.K1; val B = graft.operators.Bm25.B
        s"""WITH ${duckBaseCtes("doc_id % 5 = 2")},
          pool AS (
            SELECT doc_id AS id, source, list_slice(toks, ${AT + 1}, n) AS btoks,
              CAST(n - $AT AS BIGINT) AS dl
            FROM base
          ),
          srk AS (
            SELECT source,
              CAST(row_number() OVER (ORDER BY ${h("so:0", "source")}, source) AS BIGINT) - 1 AS srank
            FROM (SELECT DISTINCT source FROM pool)
          ),
          ordq AS (
            SELECT p.id, p.source,
              CAST(row_number() OVER (PARTITION BY p.source
                ORDER BY ${h("ro:0", "p.id")}, p.id) AS BIGINT) - 1 AS r
            FROM pool p
          ),
          eo AS MATERIALIZED (
            SELECT o.id, o.source,
              CAST(row_number() OVER (ORDER BY o.r, s.srank) AS BIGINT) - 1 AS pos
            FROM ordq o JOIN srk s USING (source)
          ),
          slots(draw, pos, recipe, reason, a_mode, a_arg, p_mode, p_arg, n_mode, n_arg)
            AS (VALUES ${composedSlotValues(bmxRecipes, BmSeed, BmBatch)}),
          slotrec AS (
            SELECT CAST(s.draw AS BIGINT) AS draw, s.recipe, s.reason,
              s.a_mode, s.a_arg, s.p_mode, s.p_arg, s.n_mode, s.n_arg,
              e.id AS record_id, e.source
            FROM slots s JOIN eo e ON e.pos = s.pos
          ),
          -- anchor/positive chunk table: slot records only (first scan)
          ${duckChunkDerive("WHERE doc_id IN (SELECT record_id FROM slotrec)", "s")},
          ${duckSlot("a", "slotrec", "schunks")},
          ${duckSlot("p", "slotrec", "schunks")},
          -- BM25 scoring of the bm25 slots' same-source pools against the
          -- anchor's SELECTED chunk text
          qt AS (
            SELECT a.draw, unnest(list_distinct(${TextFunctions.duckTokens("a.a_text")})) AS term
            FROM pick_a a JOIN slotrec sl ON sl.draw = a.draw AND a.record_id = sl.record_id
            WHERE sl.recipe IN ($bmNames)
          ),
          bsrc AS (SELECT DISTINCT source FROM slotrec WHERE recipe IN ($bmNames)),
          candp AS (SELECT p.* FROM pool p JOIN bsrc USING (source)),
          tfc AS (
            SELECT source, id AS cand, dl, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT source, id, dl, unnest(btoks) AS term FROM candp) u
            GROUP BY source, id, dl, term
          ),
          tfd AS (
            SELECT *, CAST(count(*) OVER (PARTITION BY source, term) AS BIGINT) AS df
            FROM tfc
          ),
          bstats AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
            FROM candp GROUP BY source
          ),
          wterm AS (
            SELECT t.source, t.term, t.cand,
              CAST(floor(1000000.0 *
                ((s.n_docs - t.df + 0.5) / (t.df + 0.5)) *
                ((t.tf * ${K1 + 1}) / (t.tf + $K1 * (${1 - B} + $B * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))
              ) AS BIGINT) AS term_e6
            FROM tfd t JOIN bstats s USING (source)
          ),
          sc AS (
            SELECT sl.draw, sl.record_id, w.cand, CAST(sum(w.term_e6) AS BIGINT) AS score_e6
            FROM slotrec sl
            JOIN qt q ON q.draw = sl.draw
            JOIN wterm w ON w.source = sl.source AND w.term = q.term
            WHERE w.cand <> sl.record_id
            GROUP BY sl.draw, sl.record_id, w.cand
          ),
          top0 AS (
            SELECT *, CAST(row_number() OVER (PARTITION BY draw
              ORDER BY score_e6 DESC, cand) AS BIGINT) AS brnk
            FROM sc
          ),
          top3 AS (
            SELECT *, CAST(count(*) OVER (PARTITION BY draw) AS BIGINT) AS c3
            FROM top0 WHERE brnk <= 3
          ),
          bmpick AS (
            SELECT t.draw, t.cand AS nid FROM top3 t
            WHERE t.brnk - 1 = $rot % t.c3
          ),
          srcrank AS (
            SELECT id, source,
              CAST(row_number() OVER (PARTITION BY source ORDER BY id) AS BIGINT) - 1 AS rn,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nsrc
            FROM pool
          ),
          -- default-backend slots + empty-intersection bm25 fallbacks share
          -- the seeded rank pick (hash stream `neg:`)
          negwa0 AS (
            SELECT sl.draw, sl.source, a.rn AS a_rn,
              ${dk("neg")} % GREATEST(a.nsrc - 1, 1) AS p0
            FROM slotrec sl JOIN srcrank a ON sl.record_id = a.id
            WHERE sl.reason = 'wrong_article'
              AND (sl.recipe NOT IN ($bmNames)
                   OR sl.draw NOT IN (SELECT draw FROM bmpick))
          ),
          negwa AS (
            SELECT w.draw, n.id AS nid FROM negwa0 w
            JOIN srcrank n ON n.source = w.source
              AND n.rn = CASE WHEN w.p0 >= w.a_rn THEN w.p0 + 1 ELSE w.p0 END
          ),
          negrec AS MATERIALIZED (SELECT * FROM bmpick UNION ALL SELECT * FROM negwa),
          -- negative chunk table: negative records only (second scan)
          ${duckChunkDerive("WHERE doc_id IN (SELECT nid FROM negrec)", "n")},
          ${duckSlot("n", "slotrec", "nchunks")},
          f0 AS (
            SELECT sl.draw, CAST(0 AS BIGINT) AS epoch, sl.recipe, sl.reason, sl.record_id,
              CAST(a.a_widx AS BIGINT) AS a_widx, ${Determinism.duckHash("a.a_text")} AS a_hash,
              CAST(p.p_widx AS BIGINT) AS p_widx, ${Determinism.duckHash("p.p_text")} AS p_hash,
              g.nid, ${Determinism.duckHash("n.n_text")} AS n_hash
            FROM slotrec sl
            JOIN negrec g ON g.draw = sl.draw
            JOIN pick_a a ON a.draw = sl.draw AND a.record_id = sl.record_id
            JOIN pick_p p ON p.draw = sl.draw AND p.record_id = sl.record_id
            JOIN pick_n n ON n.draw = sl.draw AND n.record_id = g.nid
          )"""
  }

  private lazy val mixTwinSql: String = {
        val h = Determinism.duckSeeded _
        def dk(prefix: String) = Determinism.duckHash(
          s"'$prefix:$MixSeed:' || CAST(sl.draw AS VARCHAR) || ':' || CAST(sl.record_id AS VARCHAR)")
        def dkB(prefix: String) = Determinism.duckHash(
          s"'$prefix:$MixSeed:' || CAST(draw AS VARCHAR) || ':' || CAST(record_id AS VARCHAR)")
        def dkF(prefix: String) = Determinism.duckHash(
          s"'$prefix:$MixSeed:' || CAST(f.draw AS VARCHAR) || ':' || CAST(f.record_id AS VARCHAR)")
        s"""WITH ${duckBaseCtes("doc_id % 5 = 0")},
          pool AS (
            SELECT doc_id AS id, source,
              '2025-03-0' || CAST(${h("day3", "doc_id")} % 3 + 1 AS VARCHAR) AS pdate
            FROM base
          ),
          srk AS (
            SELECT source,
              CAST(row_number() OVER (ORDER BY ${h("so:0", "source")}, source) AS BIGINT) - 1 AS srank
            FROM (SELECT DISTINCT source FROM pool)
          ),
          ordq AS (
            SELECT p.id, p.source,
              CAST(row_number() OVER (PARTITION BY p.source
                ORDER BY ${h("ro:0", "p.id")}, p.id) AS BIGINT) - 1 AS r
            FROM pool p
          ),
          -- dense epoch order: pos = lexicographic rank of (depth, source rank)
          eo AS MATERIALIZED (
            SELECT o.id, o.source,
              CAST(row_number() OVER (ORDER BY o.r, s.srank) AS BIGINT) - 1 AS pos
            FROM ordq o JOIN srk s USING (source)
          ),
          slots(draw, pos, recipe, reason, a_mode, a_arg, p_mode, p_arg, n_mode, n_arg)
            AS (VALUES $mixSlotValues),
          slotrec AS (
            SELECT CAST(s.draw AS BIGINT) AS draw, s.recipe, s.reason,
              s.a_mode, s.a_arg, s.p_mode, s.p_arg, s.n_mode, s.n_arg,
              e.id AS record_id, e.source
            FROM slots s JOIN eo e ON e.pos = s.pos
          ),
          srcrank AS (
            SELECT id, source,
              CAST(row_number() OVER (PARTITION BY source ORDER BY id) AS BIGINT) - 1 AS rn,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nsrc
            FROM pool
          ),
          dg AS (
            SELECT source, pdate, CAST(count(*) AS BIGINT) AS dct
            FROM pool GROUP BY source, pdate
          ),
          dg2 AS (
            SELECT *,
              CAST(row_number() OVER (PARTITION BY source ORDER BY pdate) AS BIGINT) - 1 AS drnk,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS dcnt
            FROM dg
          ),
          drk AS MATERIALIZED (
            SELECT id, source, pdate,
              CAST(row_number() OVER (PARTITION BY source, pdate ORDER BY id) AS BIGINT) - 1 AS rn2,
              CAST(count(*) OVER (PARTITION BY source, pdate) AS BIGINT) AS dgs
            FROM pool
          ),
          -- wrong-article anchors with pool metadata for the tier split
          -- (same-date preference, src/sampler/mod.rs:996-1032). Every
          -- source in this corpus has >= 2 records, so the cross-split
          -- fallback tier never fires for wrong-article/QA here (the
          -- wrong-date fallback below CAN fire: a source may hash all its
          -- records into one date group).
          wam AS (
            SELECT sl.draw, sl.recipe, sl.record_id, sl.source,
              a.rn AS a_rn, a.nsrc, d.pdate AS a_date, d.rn2 AS a_rn2, d.dgs
            FROM slotrec sl
            JOIN srcrank a ON sl.record_id = a.id
            JOIN drk d ON d.id = sl.record_id
            WHERE sl.reason = 'wrong_article'
          ),
          negwa1 AS (
            SELECT m.draw, m.recipe AS recipe2, n.id AS nid
            FROM (SELECT *, ${dkB("nega")} % GREATEST(dgs - 1, 1) AS p0
                  FROM wam WHERE dgs >= 2) m
            JOIN drk n ON n.source = m.source AND n.pdate = m.a_date
              AND n.rn2 = CASE WHEN m.p0 >= m.a_rn2 THEN m.p0 + 1 ELSE m.p0 END
          ),
          negwa2 AS (
            SELECT m.draw, m.recipe AS recipe2, n.id AS nid
            FROM (SELECT *, ${dkB("neg")} % GREATEST(nsrc - 1, 1) AS p0
                  FROM wam WHERE dgs < 2 AND nsrc >= 2) m
            JOIN srcrank n ON n.source = m.source
              AND n.rn = CASE WHEN m.p0 >= m.a_rn THEN m.p0 + 1 ELSE m.p0 END
          ),
          negqa0 AS (
            SELECT sl.draw, sl.recipe, sl.source, a.rn AS a_rn,
              ${dk("negq")} % GREATEST(a.nsrc - 1, 1) AS p0
            FROM slotrec sl JOIN srcrank a ON sl.record_id = a.id
            WHERE sl.reason = 'wrong_qa_pairing'
          ),
          negqa AS (
            SELECT w.draw, w.recipe AS recipe2, n.id AS nid FROM negqa0 w
            JOIN srcrank n ON n.source = w.source
              AND n.rn = CASE WHEN w.p0 >= w.a_rn THEN w.p0 + 1 ELSE w.p0 END
          ),
          negwd0 AS MATERIALIZED (
            SELECT sl.draw, sl.recipe, sl.source, g.drnk AS a_drnk,
              ${dk("negd")} % GREATEST(g.dcnt - 1, 1) AS d0,
              ${dk("negr")} AS rh
            FROM slotrec sl
            JOIN pool p ON sl.record_id = p.id
            JOIN dg2 g ON g.source = sl.source AND g.pdate = p.pdate
            WHERE sl.reason = 'wrong_publication_date' AND g.dcnt >= 2
          ),
          negwd1 AS (
            SELECT w.*, t.pdate AS t_date, t.dct AS t_dct
            FROM negwd0 w JOIN dg2 t ON t.source = w.source
              AND t.drnk = CASE WHEN w.d0 >= w.a_drnk THEN w.d0 + 1 ELSE w.d0 END
          ),
          negwd AS (
            SELECT w.draw, w.recipe AS recipe2, n.id AS nid FROM negwd1 w
            JOIN drk n ON n.source = w.source AND n.pdate = w.t_date
              AND n.rn2 = w.rh % w.t_dct
          ),
          -- wrong-date slots whose source has a single date group: the
          -- cross-source same-split two-level fallback, recipe suffixed
          srk2 AS (
            SELECT source, ccnt,
              CAST(row_number() OVER (ORDER BY ${h("fsord", "source")}, source) AS BIGINT) - 1 AS srnk,
              CAST(count(*) OVER () AS BIGINT) AS scnt
            FROM (SELECT source, CAST(count(*) AS BIGINT) AS ccnt FROM pool GROUP BY source) q
          ),
          wdfb0 AS (
            SELECT sl.draw, sl.recipe, sl.record_id, s.srnk, s.scnt,
              ${dk("negs")} % GREATEST(s.scnt - 1, 1) AS s0
            FROM slotrec sl
            JOIN dg2 g ON g.source = sl.source AND g.drnk = 0
            JOIN srk2 s ON s.source = sl.source
            WHERE sl.reason = 'wrong_publication_date' AND g.dcnt < 2
          ),
          wdfb1 AS (
            SELECT f.draw, f.recipe, f.record_id, t.source AS t_source, t.ccnt
            FROM wdfb0 f JOIN srk2 t
              ON t.srnk = CASE WHEN f.s0 >= f.srnk THEN f.s0 + 1 ELSE f.s0 END
          ),
          wdfb AS (
            SELECT f.draw, f.recipe || '${Recipes.FallbackSuffix}' AS recipe2, n.id AS nid
            FROM wdfb1 f JOIN srcrank n ON n.source = f.t_source
              AND n.rn = ${dkF("negc")} % f.ccnt
          ),
          negrec AS MATERIALIZED (
            SELECT * FROM negwa1 UNION ALL SELECT * FROM negwa2
            UNION ALL SELECT * FROM negqa
            UNION ALL SELECT * FROM negwd UNION ALL SELECT * FROM wdfb
          ),
          -- chunk derivation ONLY for the batch's records (anchors +
          -- negatives): the SQL twin of the engine's isin pushdown, so the
          -- oracle scales like the engine instead of windowing the corpus
          needed AS (
            SELECT record_id AS rid FROM slotrec UNION SELECT nid FROM negrec
          ),
          ${duckChunkDerive("WHERE doc_id IN (SELECT rid FROM needed)")},
          ${duckSlot("a", "slotrec")},
          ${duckSlot("p", "slotrec")},
          ${duckSlot("n", "slotrec")},
          f0 AS (
            SELECT sl.draw, CAST(0 AS BIGINT) AS epoch, g.recipe2 AS recipe, sl.reason, sl.record_id,
              CAST(a.a_widx AS BIGINT) AS a_widx, ${Determinism.duckHash("a.a_text")} AS a_hash,
              CAST(p.p_widx AS BIGINT) AS p_widx, ${Determinism.duckHash("p.p_text")} AS p_hash,
              g.nid, ${Determinism.duckHash("n.n_text")} AS n_hash
            FROM slotrec sl
            JOIN negrec g ON g.draw = sl.draw
            JOIN pick_a a ON a.draw = sl.draw AND a.record_id = sl.record_id
            JOIN pick_p p ON p.draw = sl.draw AND p.record_id = sl.record_id
            JOIN pick_n n ON n.draw = sl.draw AND n.record_id = g.nid
          )
          SELECT * FROM f0 WHERE a_hash <> p_hash"""
  }

  // ---- temporal composed batch (q57) ----
  // A ticket plan mixing a TemporalOffset-anchor recipe with a plain one:
  // the composed driver resolves the as-of neighbor record per slot
  // (reference select_chunk, src/sampler/mod.rs:1701-1704 →
  // select_temporal_neighbor 950-976) and picks the NEIGHBOR's context
  // chunk as the anchor. The pool carries `sec` (epoch seconds) and `tax`
  // (leading taxonomy) so both arms of the reference's source-or-key
  // disjunction are exercised.
  private[graft] val TmpSeed = "tmp"
  private[graft] val TmpBatch = 40
  private[graft] val TmpDays = 3
  private[graft] val tmpRecipes: Seq[TripletRecipe] = Seq(
    TripletRecipe("tmp_asof", Selector.TemporalOffset(TmpDays), Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = 0.5f),
    TripletRecipe("tmp_plain", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = 0.5f))

  // ---- BM25-backend composed batch (q58) ----
  // One ticket plan mixing a BM25-backed wrong-article recipe with the
  // default rank-pick: the composed driver re-ranks each bm25 slot's
  // same-source pool by the BM25 score of the anchor's selected chunk text
  // and rotates the top-3 (reference bm25_backend.rs:120-174), while plain
  // slots keep the seeded rank pick.
  private[graft] val BmSeed = "bmx"
  private[graft] val BmBatch = 40
  private[graft] val bmxRecipes: Seq[TripletRecipe] = Seq(
    TripletRecipe("bmx_hard", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = 0.5f,
      negativeBackend = NegativeBackend.Bm25),
    TripletRecipe("bmx_plain", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = 0.5f))

  // ---- fallback + date-preference composed batch (q59) ----
  // A corpus engineered with a SINGLETON source (src7 = one record): the
  // wrong-article slot that lands on it has an empty same-source pool and
  // takes the cross-source same-split fallback with the suffixed recipe
  // name; wrong-date slots on it have a single date group and fall back
  // the same way. The dated pool also engages the same-date preference
  // tier for the regular wrong-article slots.
  private[graft] val FbSeed = "fbk"
  private[graft] val FbBatch = 26
  private[graft] val fbRecipes: Seq[TripletRecipe] = Seq(
    TripletRecipe("fb_wrong_article", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = 0.6f),
    TripletRecipe("fb_wrong_date", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongPublicationDate, weight = 0.4f))

  // ---- composed pools, shared with the q145 index-build row ----
  // Each pool definition below is THE single source both the serving
  // queries and [[ComposedIndexQueries]] build from. The serving lane
  // loads the persisted [[graft.operators.PoolRankIndex]] built from the
  // SAME frame and reconstitutes the pool from the index (plus id-pure
  // columns), so the corpus tokenize+filter pass moves OFF the batch path
  // entirely — the reference's per-REFRESH pool staging
  // (src/sampler/mod.rs:994-1151) made durable. A definition drift
  // between builder and server breaks the oracle hash loudly.
  private[queries] val MixWhere = "doc_id % 5 = 0"
  private[queries] val TmpWhere = "doc_id % 5 = 1"
  private[queries] val BmxWhere = "doc_id % 5 = 2"
  private[queries] val PrWhere = "doc_id % 5 = 3"
  private[queries] val TxWhere = "doc_id % 5 = 4"
  private[queries] val FbWhere = "doc_id % 20 = 4 OR doc_id = 7"

  private[queries] def composedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String, where: String): DataFrame =
    Tables.load(s, dir, "documents").filter(expr(where))

  private def tokenFiltered(docs: DataFrame): DataFrame =
    // raw-text gate (≡ size(tokens(text)) >= MinToks): the size form
    // evaluated the full tokenizer per row just for the gate — see
    // TextFunctions.hasMinTokens for the run-counting equivalence
    docs.filter(TextFunctions.hasMinTokens(col("text"), MinToks))

  /** The mix/fbk pools' synthetic publication date (pure function of id). */
  private def day3Date(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("2025-03-0"),
      (pmod(Determinism.seeded("day3", idCol), lit(3)) + 1).cast("string"))

  /** q57's sec/tax are pure functions of id — reattachable to the
    * index-staged pool without touching the corpus. */
  private[queries] def tmpAttach(pool: DataFrame): DataFrame = pool
    .withColumn("sec",
      lit(1700000000L) + pmod(Determinism.seeded("sec", col("id")), lit(60)) * 21600L)
    .withColumn("tax", concat(lit("t"), pmod(col("id"), lit(4)).cast("string")))

  private[queries] def mixPool(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    tokenFiltered(composedDocs(s, dir, MixWhere))
      .select(col("doc_id").as("id"), col("source"), day3Date(col("doc_id")).as("date"))

  /** The staged chunk table for one composed lane
    * ([[ComposedIndexQueries.chunkIndex]] over this lane's
    * [[chunkTable]] plan): first touch per corpus generation executes
    * the derivation once and persists; every batch afterwards reads the
    * parquet leaf with its id restriction pruning row groups. */
  private[queries] def stagedChunks(s: org.apache.spark.sql.SparkSession,
      dir: String, tag: String, where: String): DataFrame =
    ComposedIndexQueries.chunkIndex(s, dir, tag,
      chunkTable(composedDocs(s, dir, where)))

  /** The steady-state bench's serving bundle (graft.Bench): the mix
    * lane's staged chunk table, index-reconstituted pool, recipes, and
    * staged rank index + driver-side stats — exactly what a deployed
    * trainer session holds between batches. */
  def mixServing(s: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[TripletRecipe], DataFrame,
         Option[Seq[(String, Long)]]) = {
    val chunks = stagedChunks(s, dir, "mix", MixWhere)
    val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "mix", mixPool(s, dir))
    val pool = ridx.select(col("id"), col("source"), col("date"))
    (chunks, pool, mixRecipes, ridx, stats)
  }
  private[queries] def fbPool(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    tokenFiltered(composedDocs(s, dir, FbWhere))
      .select(col("doc_id").as("id"), col("source"), day3Date(col("doc_id")).as("date"))
  private[queries] def tmpPool(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    tmpAttach(tokenFiltered(composedDocs(s, dir, TmpWhere))
      .select(col("doc_id").as("id"), col("source")))
  private[queries] def bmxPool(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    composedDocs(s, dir, BmxWhere)
      // raw-text gate (≡ size(toks) >= MinToks) — see hasMinTokens
      .filter(TextFunctions.hasMinTokens(col("text"), MinToks))
      .select(col("doc_id").as("id"), col("source"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("id"), col("source"),
        expr(s"slice(toks, ${AT + 1}, size(toks) - $AT)").as("btoks"))
  private[queries] def prPool(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    tokenFiltered(composedDocs(s, dir, PrWhere))
      .select(col("doc_id").as("id"), col("source"))
  private[queries] def txPool(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    tokenFiltered(composedDocs(s, dir, TxWhere))
      .select(col("doc_id").as("id"), col("source"))

  // ---- composed pair / text batches (q17 / q18) ----
  private[graft] val PrSeed = "prx"
  private[graft] val PrBatch = 40 // pairs → 20 triplet draws
  private[graft] val prRecipes: Seq[TripletRecipe] = Seq(
    TripletRecipe("pr_main", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = 0.5f),
    TripletRecipe("pr_alt", Selector.Paragraph(1), Selector.Random,
      NegativeStrategy.WrongArticle, weight = 0.5f,
      negativeSelector = Selector.RoleAnchor))
  private[graft] val TxSeed = "txx"
  private[graft] val TxBatch = 40
  private[graft] val txRecipes: Seq[TextRecipe] = Seq(
    TextRecipe("tx_ctx", Selector.RoleContext, 0.6f),
    TextRecipe("tx_anchor", Selector.RoleAnchor, 0.2f),
    TextRecipe("tx_rand", Selector.Random, 0.2f))
  private def textComposedSlotValues(recipes: Seq[TextRecipe], seed: String,
      batch: Int): String = {
    val byN = recipes.map(r => r.name -> r).toMap
    val plan0 = Recipes.textTicketOrder(recipes, seed, epoch = 0L)
    (0 until batch).map { d =>
      val r = byN(Recipes.pick(plan0, 0L, d.toLong))
      val (m, a) = selDesc(r.selector)
      s"($d, $d, '${r.name}', '$m', '$a')"
    }.mkString(", ")
  }

  // KVP decoration on the oracle path: dropout/variant/value/shuffle rolls
  // + token-budget enforcement (reference: src/kvp.rs:10-217 sampling,
  // src/sampler/mod.rs:1470-1508 budget, prefix wins over body)
  private val KvpMaxTok = 12
  private val KvpDraws = 3
  private val kvpSampler = KvpPrefixSampler(0.5f, Seq(
    Seq(KvpField("lang", Seq("en", "de", "fr")), KvpField("src", Seq("web", "book"))),
    Seq(KvpField("year", Seq("2023", "2024")))))

  val queries: Seq[QueryDef] = Seq(

    QueryDef("q37_kvp_decoration",
      // every (doc, draw) rolls independently — the per-SAMPLE (not
      // per-record) dropout contract: the same doc decorates differently
      // across draws, identically across runs/partitions. Narrow plan: one
      // scan, no shuffle at all.
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          // raw-text gate (≡ size(toks) > 0) — see hasMinTokens
          .filter(TextFunctions.hasMinTokens(col("text"), 1))
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .withColumn("btoks", expr("slice(toks, 1, least(16, size(toks)))"))
          .withColumn("draw", explode(sequence(lit(0L), lit(KvpDraws - 1L))))
        val key = concat(col("doc_id").cast("string"), lit(":"), col("draw").cast("string"))
        val dec = Decoration.decorateColumn(kvpSampler, key, col("btoks"), KvpMaxTok)
        base.select(col("doc_id"), col("draw"),
          when(dec("decorated"), lit("kvp")).otherwise(lit("plain")).as("lane"),
          Determinism.portableHash(dec("text")).as("thash"),
          dec("est").as("est"))
      },
      Some {
        val prefix = Decoration.duckDecorateSql(kvpSampler,
          "CAST(doc_id AS VARCHAR) || ':' || CAST(draw AS VARCHAR)")
        s"""WITH d0 AS MATERIALIZED (
            SELECT doc_id, ${TextFunctions.duckTokens("text")} AS toks FROM documents
          ), base AS MATERIALIZED (
            SELECT doc_id, list_slice(toks, 1, LEAST(16, len(toks))) AS btoks
            FROM d0 WHERE len(toks) > 0
          ), dr AS (
            SELECT doc_id, btoks, unnest(generate_series(0, ${KvpDraws - 1})) AS draw FROM base
          ), pfx AS (
            SELECT doc_id, CAST(draw AS BIGINT) AS draw, btoks, ($prefix) AS prefix FROM dr
          ), ptk AS (
            SELECT *, CASE WHEN prefix IS NULL THEN NULL
              ELSE len(list_filter(string_split(prefix, ' '), t -> t <> '')) END AS ptok
            FROM pfx
          ), bud AS (
            SELECT *, GREATEST($KvpMaxTok - ptok, 0) AS budget,
              LEAST(GREATEST($KvpMaxTok - ptok, 0), len(btoks)) AS taken
            FROM ptk
          )
          SELECT doc_id, draw,
            CASE WHEN prefix IS NULL THEN 'plain' ELSE 'kvp' END AS lane,
            ${Determinism.duckHash("""CASE
              WHEN prefix IS NULL THEN array_to_string(btoks, ' ')
              WHEN taken = 0 THEN prefix
              ELSE prefix || chr(10) || array_to_string(list_slice(btoks, 1, budget), ' ') END""")} AS thash,
            CAST(CASE WHEN prefix IS NULL THEN len(btoks) ELSE ptok + taken END AS BIGINT) AS est
          FROM bud"""
      }),

    QueryDef("q89_auto_pair_stages",
      // Stage B + Stage C of the auto-injected long-section recipe on the
      // oracle path: context-window pool per record, records with a single
      // window filtered (Stage B), anchor/positive two DISTINCT windows by
      // the stateless skip-the-anchor pick (Stage C). Stage A (scheduling)
      // is q87's ticket plan.
      (s, dir) => {
        val ctx = chunkTable(
          Tables.load(s, dir, "documents").filter(expr("doc_id % 10 = 0")))
          .filter(col("role") === "context")
        Recipes.selectDistinctWindowPairs(ctx, nDraws = 4, seed = "ap")
          .select(col("draw"), col("record_id"),
            col("a_widx"), col("p_widx"),
            Determinism.portableHash(col("a_text")).as("a_hash"),
            Determinism.portableHash(col("p_text")).as("p_hash"),
            // same-section window pair -> the REAL proximity formula
            // 1/(|Δindex|+1) (reference: src/metrics.rs:97-128; the
            // different-section triplet path takes the neutral 1.0)
            floor(lit(1000000) / (abs(col("a_widx") - col("p_widx")) + 1))
              .cast("long").as("prox_e6"))
      },
      Some(s"""WITH d0 AS MATERIALIZED (
          SELECT doc_id, ${TextFunctions.duckTokens("text")} AS toks FROM documents
          WHERE doc_id % 10 = 0
        ), base AS MATERIALIZED (
          SELECT doc_id, toks, len(toks) AS n FROM d0 WHERE len(toks) >= $MinToks
        ), cq AS (
          SELECT doc_id, list_slice(toks, ${AT + 1}, n) AS ctoks, n - $AT AS cn FROM base
        ), cq2 AS (
          SELECT doc_id, ctoks, cn, LEAST($W, cn) AS span,
            CASE WHEN cn <= $W THEN 1
                 ELSE CAST(floor((cn - LEAST($W, cn) + ${ST - 1}) / $ST.0) AS INT) + 1 END AS k
          FROM cq
        ), cwin AS (
          SELECT doc_id, ctoks, cn, span, unnest(generate_series(0, k - 1)) AS i FROM cq2
        ), cch AS (
          SELECT doc_id AS record_id, 1 AS section_idx, 'window' AS view_kind,
            CAST(i AS INT) AS window_index, $OV AS overlap,
            array_to_string(list_slice(ctoks, i * $ST + 1, i * $ST + LEAST(span, cn - i * $ST)), ' ') AS wtext
          FROM cwin
        ), dr AS (
          SELECT record_id, section_idx, view_kind, window_index, overlap, wtext,
            CAST(unnest(generate_series(0, 3)) AS BIGINT) AS draw
          FROM cch
        ), rk AS (
          SELECT *,
            CAST(row_number() OVER (PARTITION BY draw, record_id
              ORDER BY section_idx, view_kind, window_index, overlap) AS BIGINT) - 1 AS crnk,
            CAST(count(*) OVER (PARTITION BY draw, record_id) AS BIGINT) AS csize
          FROM dr
        ), pk AS (
          SELECT *,
            ${Determinism.duckHash("'pair:a:ap:' || CAST(draw AS VARCHAR) || ':' || CAST(record_id AS VARCHAR)")} % csize AS ar,
            ${Determinism.duckHash("'pair:p:ap:' || CAST(draw AS VARCHAR) || ':' || CAST(record_id AS VARCHAR)")} % (csize - 1) AS pr0
          FROM rk WHERE csize >= 2
        ), pk2 AS (
          SELECT *, CASE WHEN pr0 >= ar THEN pr0 + 1 ELSE pr0 END AS pr FROM pk
        )
        SELECT draw, record_id,
          CAST(max(CASE WHEN crnk = ar THEN window_index END) AS BIGINT) AS a_widx,
          CAST(max(CASE WHEN crnk = pr THEN window_index END) AS BIGINT) AS p_widx,
          ${Determinism.duckHash("max(CASE WHEN crnk = ar THEN wtext END)")} AS a_hash,
          ${Determinism.duckHash("max(CASE WHEN crnk = pr THEN wtext END)")} AS p_hash,
          CAST(1000000 // (abs(CAST(max(CASE WHEN crnk = ar THEN window_index END) AS BIGINT)
            - CAST(max(CASE WHEN crnk = pr THEN window_index END) AS BIGINT)) + 1) AS BIGINT) AS prox_e6
        FROM pk2
        GROUP BY draw, record_id""")),

    QueryDef("q87_recipe_scheduled_selectors",
      (s, dir) => {
        import s.implicits._
        val chunks = chunkTable(
          Tables.load(s, dir, "documents").filter(expr("doc_id % 10 = 0"))).cache()
        // one (draw → recipe, selector) row per draw, broadcast onto the
        // chunk table — the whole schedule is ONE plan with two keyed
        // windows (selectChunksBatch), not a window+join per draw
        def drawsDf(slotOf: TripletRecipe => Selector) =
          (0 until Draws).map { d =>
            val r = byName(Recipes.pick(plan, 0L, d.toLong))
            val (m, arg) = selDesc(slotOf(r))
            (d.toLong, r.name, m, arg)
          }.toDF("draw", "recipe", "mode", "arg")
        val a = Recipes.selectChunksBatch(chunks, drawsDf(_.anchor), "a")
          .select(col("draw"), col("recipe"), col("record_id"),
            col("section_idx").cast("long").as("a_sidx"),
            col("window_index").cast("long").as("a_widx"),
            Determinism.portableHash(col("wtext")).as("a_hash"))
        val p = Recipes.selectChunksBatch(chunks, drawsDf(_.positive).drop("recipe"), "p")
          .select(col("draw"), col("record_id"),
            col("section_idx").cast("long").as("p_sidx"),
            col("window_index").cast("long").as("p_widx"),
            Determinism.portableHash(col("wtext")).as("p_hash"))
        a.join(p, Seq("draw", "record_id"))
          .select(col("draw"), col("recipe"), col("record_id"),
            col("a_sidx"), col("a_widx"), col("a_hash"),
            col("p_sidx"), col("p_widx"), col("p_hash"))
      },
      Some(s"""WITH ${duckChunkCtes("doc_id % 10 = 0")},
        draws(draw, recipe, a_mode, a_arg, p_mode, p_arg) AS (VALUES $drawsValues),
        ${duckSlot("a")},
        ${duckSlot("p")}
        SELECT CAST(a.draw AS BIGINT) AS draw, a.recipe AS recipe, a.record_id AS record_id,
          CAST(a.a_sidx AS BIGINT) AS a_sidx, CAST(a.a_widx AS BIGINT) AS a_widx,
          ${Determinism.duckHash("a.a_text")} AS a_hash,
          CAST(p.p_sidx AS BIGINT) AS p_sidx, CAST(p.p_widx AS BIGINT) AS p_widx,
          ${Determinism.duckHash("p.p_text")} AS p_hash
        FROM pick_a a JOIN pick_p p ON a.draw = p.draw AND a.record_id = p.record_id""")),

    QueryDef("q66_mixed_strategy_batch",
      // the composed Sampler.nextBatch with per-recipe negative-strategy
      // dispatch (reference: src/sampler/mod.rs:1329-1405): one 48-slot
      // batch whose ticket plan mixes WrongArticle (3 tickets),
      // WrongPublicationDate (2), QuestionAnswerMismatch (1); the oracle
      // replays the dense epoch order, all three record picks, the
      // selector picks, and the rejection. Emitted rows are the
      // post-rejection core stream with per-slot `reason` tags. The 1-in-5
      // corpus keeps the pool comfortably above one batch, so the pinned
      // slot schedule sees no mid-batch epoch wrap at any driver SF.
      (s, dir) => {
        val chunks = stagedChunks(s, dir, "mix", MixWhere)
        // deployment lane: the pool itself comes from the persisted rank
        // index (no corpus tokenize on the batch path) — bit-identical to
        // the derived pool by construction (InvariantsSpec)
        val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "mix", mixPool(s, dir))
        val pool = ridx.select(col("id"), col("source"), col("date"))
        val out = Sampler.nextBatch(s, chunks, pool, mixRecipes,
          SamplerState(MixSeed, 0L, Map.empty), MixBatch, rankIndex = Some(ridx),
          srcStats = stats)
        out.core.filter(col("a_hash") =!= col("p_hash"))
          .select(col("draw"), col("epoch"), col("recipe"), col("reason"),
            col("record_id"), col("a_widx"), col("a_hash"), col("p_widx"), col("p_hash"),
            col("nid"), col("n_hash"))
      },
      Some(mixTwinSql)),

    QueryDef("q143_sequential_state_advance",
      // the MULTI-BATCH state law, oracle-gated: two sequential 24-draw
      // nextBatch calls — the second resumed from the first's returned
      // SamplerState (draw/cursor/epoch/pool_size counters, reference
      // save/load src/sampler/mod.rs:570-617) — must equal q66's one-shot
      // 48-draw batch row for row, because every per-draw value is a pure
      // function of (seed, epoch, draw) and the schedule walk composes
      // across batch boundaries. The oracle is EXACTLY q66's replay: a
      // drifted counter, a cursor that restarts per call, or a schedule
      // that keys off the batch index would land on different rows. (The
      // ScalaTest golden matrix pins 45-batch sequences; this pins the
      // composition law in the DuckDB-gated lane too.)
      (s, dir) => {
        val chunks = stagedChunks(s, dir, "mix", MixWhere)
        val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "mix", mixPool(s, dir))
        val pool = ridx.select(col("id"), col("source"), col("date"))
        val half = MixBatch / 2
        val b1 = Sampler.nextBatch(s, chunks, pool, mixRecipes,
          SamplerState(MixSeed, 0L, Map.empty), half, rankIndex = Some(ridx),
          srcStats = stats)
        val b2 = Sampler.nextBatch(s, chunks, pool, mixRecipes, b1.state, half,
          rankIndex = Some(ridx), srcStats = stats)
        b1.core.unionByName(b2.core)
          .filter(col("a_hash") =!= col("p_hash"))
          .select(col("draw"), col("epoch"), col("recipe"), col("reason"),
            col("record_id"), col("a_widx"), col("a_hash"), col("p_widx"), col("p_hash"),
            col("nid"), col("n_hash"))
      },
      Some(mixTwinSql)),

    QueryDef("q57_temporal_composed_batch",
      // TemporalOffset selectors INSIDE the composed Sampler.nextBatch
      // (reference: src/sampler/mod.rs:1701-1704 dispatch, 950-976
      // neighbor pick): the `tmp_asof` slots anchor on the as-of
      // neighbor's context chunk — candidate minimizing |sec − (record.sec
      // + days·86400)| among same-source OR same-leading-taxonomy records
      // — while `tmp_plain` slots run the untouched lane in the SAME
      // ticket plan. The oracle replays the epoch order, the neighbor
      // argmin (with the deterministic |Δsec|·1e7 + id tiebreak), the
      // swapped chunk source for the anchor pick, and the rejection.
      (s, dir) => {
        val chunks = stagedChunks(s, dir, "tmp", TmpWhere)
        // sec/tax are id-pure, so the index-staged pool reattaches them
        // without a corpus pass (tmpAttach)
        val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "tmp", tmpPool(s, dir))
        val pool = tmpAttach(ridx.select(col("id"), col("source")))
        // the as-of neighbor map is staged too (nbr_tmp_3): the lane's
        // last per-batch pool-wide stream becomes an id-pruned index read
        val nbrs = ComposedIndexQueries.neighborIndex(s, dir, "tmp", TmpDays, tmpPool(s, dir))
        val out = Sampler.nextBatch(s, chunks, pool, tmpRecipes,
          SamplerState(TmpSeed, 0L, Map.empty), TmpBatch, rankIndex = Some(ridx),
          srcStats = stats, neighborIndex = Map(TmpDays -> nbrs))
        out.core.filter(col("a_hash") =!= col("p_hash"))
          .select(col("draw"), col("epoch"), col("recipe"), col("reason"),
            col("record_id"), col("a_widx"), col("a_hash"), col("p_widx"), col("p_hash"),
            col("nid"), col("n_hash"))
      },
      Some {
        val h = Determinism.duckSeeded _
        def dk(prefix: String) = Determinism.duckHash(
          s"'$prefix:$TmpSeed:' || CAST(sl.draw AS VARCHAR) || ':' || CAST(sl.record_id AS VARCHAR)")
        val temporalNames = tmpRecipes
          .filter(r => Sampler.temporalDays(r.anchor).isDefined)
          .map(r => s"'${r.name}'").mkString(", ")
        s"""WITH ${duckBaseCtes("doc_id % 5 = 1")},
          pool AS (
            SELECT doc_id AS id, source,
              1700000000 + (${h("sec", "doc_id")} % 60) * 21600 AS sec,
              't' || CAST(doc_id % 4 AS VARCHAR) AS tax
            FROM base
          ),
          srk AS (
            SELECT source,
              CAST(row_number() OVER (ORDER BY ${h("so:0", "source")}, source) AS BIGINT) - 1 AS srank
            FROM (SELECT DISTINCT source FROM pool)
          ),
          ordq AS (
            SELECT p.id, p.source,
              CAST(row_number() OVER (PARTITION BY p.source
                ORDER BY ${h("ro:0", "p.id")}, p.id) AS BIGINT) - 1 AS r
            FROM pool p
          ),
          eo AS MATERIALIZED (
            SELECT o.id, o.source,
              CAST(row_number() OVER (ORDER BY o.r, s.srank) AS BIGINT) - 1 AS pos
            FROM ordq o JOIN srk s USING (source)
          ),
          slots(draw, pos, recipe, reason, a_mode, a_arg, p_mode, p_arg, n_mode, n_arg)
            AS (VALUES ${composedSlotValues(tmpRecipes, TmpSeed, TmpBatch)}),
          slotrec AS (
            SELECT CAST(s.draw AS BIGINT) AS draw, s.recipe, s.reason,
              s.a_mode, s.a_arg, s.p_mode, s.p_arg, s.n_mode, s.n_arg,
              e.id AS record_id, e.source
            FROM slots s JOIN eo e ON e.pos = s.pos
          ),
          -- as-of neighbor for temporal-anchor slots: same source OR same
          -- leading taxonomy, lexicographic argmin over (|Δsec|, id) —
          -- the engine's deterministic tiebreak, as a two-pass min (min Δ
          -- then min id among ties; the per-pair LIST min executed
          -- pathologically in DuckDB 1.0 — see the q61 twin)
          nb0 AS (
            SELECT sl.draw, sl.record_id, a.sec AS a_sec, a.source AS a_source, a.tax AS a_tax
            FROM slotrec sl JOIN pool a ON a.id = sl.record_id
            WHERE sl.recipe IN ($temporalNames)
          ),
          nbp AS MATERIALIZED (
            SELECT w.draw, w.record_id, c.id AS cid,
              abs(c.sec - (w.a_sec + ${TmpDays.toLong * 86400L})) AS d
            FROM nb0 w JOIN pool c ON c.id <> w.record_id
              AND (c.source = w.a_source OR c.tax = w.a_tax)
          ),
          nbm AS (
            SELECT draw, record_id, min(d) AS md FROM nbp GROUP BY draw, record_id
          ),
          nbr AS (
            SELECT p.draw, p.record_id, min(p.cid) AS nbid
            FROM nbp p JOIN nbm t ON p.draw = t.draw
              AND p.record_id = t.record_id AND p.d = t.md
            GROUP BY p.draw, p.record_id
          ),
          -- per-slot chunk-source record for the anchor pick: the neighbor
          -- for temporal recipes, the scheduled record otherwise
          achrec AS (
            SELECT sl.draw, sl.record_id AS rid FROM slotrec sl
            WHERE sl.recipe NOT IN ($temporalNames)
            UNION ALL
            SELECT n.draw, n.nbid AS rid FROM nbr n
          ),
          srcrank AS (
            SELECT id, source,
              CAST(row_number() OVER (PARTITION BY source ORDER BY id) AS BIGINT) - 1 AS rn,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nsrc
            FROM pool
          ),
          negwa0 AS (
            SELECT sl.draw, sl.source, a.rn AS a_rn,
              ${dk("neg")} % GREATEST(a.nsrc - 1, 1) AS p0
            FROM slotrec sl JOIN srcrank a ON sl.record_id = a.id
            WHERE sl.reason = 'wrong_article'
          ),
          negrec AS MATERIALIZED (
            SELECT w.draw, n.id AS nid FROM negwa0 w
            JOIN srcrank n ON n.source = w.source
              AND n.rn = CASE WHEN w.p0 >= w.a_rn THEN w.p0 + 1 ELSE w.p0 END
          ),
          needed AS (
            SELECT record_id AS rid FROM slotrec
            UNION SELECT rid FROM achrec
            UNION SELECT nid FROM negrec
          ),
          ${duckChunkDerive("WHERE doc_id IN (SELECT rid FROM needed)")},
          ${duckSlot("a", "slotrec")},
          ${duckSlot("p", "slotrec")},
          ${duckSlot("n", "slotrec")},
          f0 AS (
            SELECT sl.draw, CAST(0 AS BIGINT) AS epoch, sl.recipe, sl.reason, sl.record_id,
              CAST(a.a_widx AS BIGINT) AS a_widx, ${Determinism.duckHash("a.a_text")} AS a_hash,
              CAST(p.p_widx AS BIGINT) AS p_widx, ${Determinism.duckHash("p.p_text")} AS p_hash,
              g.nid, ${Determinism.duckHash("n.n_text")} AS n_hash
            FROM slotrec sl
            JOIN achrec ar ON ar.draw = sl.draw
            JOIN negrec g ON g.draw = sl.draw
            JOIN pick_a a ON a.draw = sl.draw AND a.record_id = ar.rid
            JOIN pick_p p ON p.draw = sl.draw AND p.record_id = sl.record_id
            JOIN pick_n n ON n.draw = sl.draw AND n.record_id = g.nid
          )
          SELECT * FROM f0 WHERE a_hash <> p_hash"""
      }),

    QueryDef("q58_bm25_composed_batch",
      // the BM25 negative backend INSIDE the composed Sampler.nextBatch
      // (reference: bm25_backend.rs:120-174 re-rank + top-3 rotation,
      // mod.rs:1028-1045 dispatch): `bmx_hard` slots score their
      // same-source pool with the anchor chunk's text (exact-integer e6
      // BM25, graft.operators.Bm25 contract) and rotate the top-3 by the
      // (seed, draw, anchor) hash stream; `bmx_plain` slots keep the
      // seeded rank pick in the SAME ticket plan. The oracle replays the
      // epoch order, the anchor pick, the per-source tf/df/stats, the
      // rotation, and both negative lanes.
      (s, dir) => {
        val chunks = stagedChunks(s, dir, "bmx", BmxWhere)
        // both sidecars persisted: ranks AND the (source, term) postings
        // — the batch path never tokenizes the pool
        val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "bmx", bmxPool(s, dir))
        val bidx = ComposedIndexQueries.bm25Index(s, dir, bmxPool(s, dir))
        val pool = ridx.select(col("id"), col("source"))
        val out = Sampler.nextBatch(s, chunks, pool, bmxRecipes,
          SamplerState(BmSeed, 0L, Map.empty), BmBatch,
          bm25Index = Some(bidx), rankIndex = Some(ridx), srcStats = stats)
        out.core.filter(col("a_hash") =!= col("p_hash"))
          .select(col("draw"), col("epoch"), col("recipe"), col("reason"),
            col("record_id"), col("a_widx"), col("a_hash"), col("p_widx"), col("p_hash"),
            col("nid"), col("n_hash"))
      },
      Some(s"$bmxTwinCtes SELECT * FROM f0 WHERE a_hash <> p_hash")),

    QueryDef("q142_extended_metrics",
      // the reference's `extended-metrics` per-batch counters
      // (bm25_backend.rs:156-172: bm25-selected vs rank-fallback draws,
      // cross-split fallback counts) surfaced as an oracle-gated report:
      // the q58 batch aggregated by (recipe, reason, lane) with a
      // negative-id checksum per cell. `lane` rides the composed core
      // stream (src tier / sd / wd / fb / bm25 — the Sampler's negative
      // dispatch), so the report is one aggregation over the
      // rows a trainer already drew, exactly how the reference counts
      // inside its backend. The twin re-derives the lane split from its
      // own bmpick CTE — a Spark-side mislabel (e.g. counting an
      // empty-intersection fallback as a bm25 hit) lands on different
      // cells and fails the hash.
      (s, dir) => {
        val chunks = stagedChunks(s, dir, "bmx", BmxWhere)
        val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "bmx", bmxPool(s, dir))
        val bidx = ComposedIndexQueries.bm25Index(s, dir, bmxPool(s, dir))
        val pool = ridx.select(col("id"), col("source"))
        val out = Sampler.nextBatch(s, chunks, pool, bmxRecipes,
          SamplerState(BmSeed, 0L, Map.empty), BmBatch,
          bm25Index = Some(bidx), rankIndex = Some(ridx), srcStats = stats)
        out.core.filter(col("a_hash") =!= col("p_hash"))
          .groupBy(col("recipe"), col("reason"), col("lane"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("nid")).cast("long").as("nid_sum"))
      },
      Some(s"""$bmxTwinCtes
        SELECT recipe, reason,
          CASE WHEN draw IN (SELECT draw FROM bmpick) THEN 'bm25' ELSE 'src' END AS lane,
          CAST(count(*) AS BIGINT) AS n, CAST(sum(nid) AS BIGINT) AS nid_sum
        FROM f0 WHERE a_hash <> p_hash GROUP BY 1, 2, 3""")),

    QueryDef("q59_fallback_composed_batch",
      // cross-split fallback + date preference INSIDE the composed driver
      // (reference: src/sampler/mod.rs:994-1053 pool staging, 1097-1151
      // split-isolated fallback, 1391-1395 `_fallback_same_split` suffix):
      // the 26-slot batch covers the ENTIRE pool at the driver's
      // correctness SF, so the singleton-source record is guaranteed an
      // anchor slot — wrong-article on it exercises the empty-pool
      // fallback, wrong-date on it the single-date-group fallback, and
      // the dated src4 records exercise the same-date preference tiers.
      (s, dir) => {
        val chunks = stagedChunks(s, dir, "fbk", FbWhere)
        val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "fbk", fbPool(s, dir))
        val pool = ridx.select(col("id"), col("source"), col("date"))
        val out = Sampler.nextBatch(s, chunks, pool, fbRecipes,
          SamplerState(FbSeed, 0L, Map.empty), FbBatch, rankIndex = Some(ridx),
          srcStats = stats)
        out.core.filter(col("a_hash") =!= col("p_hash"))
          .select(col("draw"), col("epoch"), col("recipe"), col("reason"),
            col("record_id"), col("a_widx"), col("a_hash"), col("p_widx"), col("p_hash"),
            col("nid"), col("n_hash"))
      },
      Some {
        val h = Determinism.duckSeeded _
        def dk(prefix: String) = Determinism.duckHash(
          s"'$prefix:$FbSeed:' || CAST(sl.draw AS VARCHAR) || ':' || CAST(sl.record_id AS VARCHAR)")
        def dkB(prefix: String) = Determinism.duckHash(
          s"'$prefix:$FbSeed:' || CAST(draw AS VARCHAR) || ':' || CAST(record_id AS VARCHAR)")
        def dkF(prefix: String) = Determinism.duckHash(
          s"'$prefix:$FbSeed:' || CAST(f.draw AS VARCHAR) || ':' || CAST(f.record_id AS VARCHAR)")
        s"""WITH ${duckBaseCtes("doc_id % 20 = 4 OR doc_id = 7")},
          pool AS (
            SELECT doc_id AS id, source,
              '2025-03-0' || CAST(${h("day3", "doc_id")} % 3 + 1 AS VARCHAR) AS pdate
            FROM base
          ),
          srk AS (
            SELECT source,
              CAST(row_number() OVER (ORDER BY ${h("so:0", "source")}, source) AS BIGINT) - 1 AS srank
            FROM (SELECT DISTINCT source FROM pool)
          ),
          ordq AS (
            SELECT p.id, p.source,
              CAST(row_number() OVER (PARTITION BY p.source
                ORDER BY ${h("ro:0", "p.id")}, p.id) AS BIGINT) - 1 AS r
            FROM pool p
          ),
          eo AS MATERIALIZED (
            SELECT o.id, o.source,
              CAST(row_number() OVER (ORDER BY o.r, s.srank) AS BIGINT) - 1 AS pos
            FROM ordq o JOIN srk s USING (source)
          ),
          slots(draw, pos, recipe, reason, a_mode, a_arg, p_mode, p_arg, n_mode, n_arg)
            AS (VALUES ${composedSlotValues(fbRecipes, FbSeed, FbBatch)}),
          slotrec AS (
            SELECT CAST(s.draw AS BIGINT) AS draw, s.recipe, s.reason,
              s.a_mode, s.a_arg, s.p_mode, s.p_arg, s.n_mode, s.n_arg,
              e.id AS record_id, e.source
            FROM slots s JOIN eo e ON e.pos = s.pos
          ),
          srcrank AS (
            SELECT id, source,
              CAST(row_number() OVER (PARTITION BY source ORDER BY id) AS BIGINT) - 1 AS rn,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nsrc
            FROM pool
          ),
          dg AS (
            SELECT source, pdate, CAST(count(*) AS BIGINT) AS dct
            FROM pool GROUP BY source, pdate
          ),
          dg2 AS (
            SELECT *,
              CAST(row_number() OVER (PARTITION BY source ORDER BY pdate) AS BIGINT) - 1 AS drnk,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS dcnt
            FROM dg
          ),
          drk AS MATERIALIZED (
            SELECT id, source, pdate,
              CAST(row_number() OVER (PARTITION BY source, pdate ORDER BY id) AS BIGINT) - 1 AS rn2,
              CAST(count(*) OVER (PARTITION BY source, pdate) AS BIGINT) AS dgs
            FROM pool
          ),
          srk2 AS (
            SELECT source, ccnt,
              CAST(row_number() OVER (ORDER BY ${h("fsord", "source")}, source) AS BIGINT) - 1 AS srnk,
              CAST(count(*) OVER () AS BIGINT) AS scnt
            FROM (SELECT source, CAST(count(*) AS BIGINT) AS ccnt FROM pool GROUP BY source) q
          ),
          -- wrong-article tiers: same-date preference, then same-source,
          -- then the cross-split fallback for the singleton source
          wam AS (
            SELECT sl.draw, sl.recipe, sl.record_id, sl.source,
              a.rn AS a_rn, a.nsrc, d.pdate AS a_date, d.rn2 AS a_rn2, d.dgs
            FROM slotrec sl
            JOIN srcrank a ON sl.record_id = a.id
            JOIN drk d ON d.id = sl.record_id
            WHERE sl.reason = 'wrong_article'
          ),
          negwa1 AS (
            SELECT m.draw, m.recipe AS recipe2, n.id AS nid
            FROM (SELECT *, ${dkB("nega")} % GREATEST(dgs - 1, 1) AS p0
                  FROM wam WHERE dgs >= 2) m
            JOIN drk n ON n.source = m.source AND n.pdate = m.a_date
              AND n.rn2 = CASE WHEN m.p0 >= m.a_rn2 THEN m.p0 + 1 ELSE m.p0 END
          ),
          negwa2 AS (
            SELECT m.draw, m.recipe AS recipe2, n.id AS nid
            FROM (SELECT *, ${dkB("neg")} % GREATEST(nsrc - 1, 1) AS p0
                  FROM wam WHERE dgs < 2 AND nsrc >= 2) m
            JOIN srcrank n ON n.source = m.source
              AND n.rn = CASE WHEN m.p0 >= m.a_rn THEN m.p0 + 1 ELSE m.p0 END
          ),
          wafb0 AS (
            SELECT m.draw, m.recipe, m.record_id, s.srnk, s.scnt,
              ${Determinism.duckHash(s"'negs:$FbSeed:' || CAST(m.draw AS VARCHAR) || ':' || CAST(m.record_id AS VARCHAR)")} % GREATEST(s.scnt - 1, 1) AS s0
            FROM wam m JOIN srk2 s ON s.source = m.source
            WHERE m.nsrc < 2
          ),
          wafb1 AS (
            SELECT f.draw, f.recipe, f.record_id, t.source AS t_source, t.ccnt
            FROM wafb0 f JOIN srk2 t
              ON t.srnk = CASE WHEN f.s0 >= f.srnk THEN f.s0 + 1 ELSE f.s0 END
          ),
          wafb AS (
            SELECT f.draw, f.recipe || '${Recipes.FallbackSuffix}' AS recipe2, n.id AS nid
            FROM wafb1 f JOIN srcrank n ON n.source = f.t_source
              AND n.rn = ${dkF("negc")} % f.ccnt
          ),
          -- wrong-date: two-level different-date pick, or the cross-split
          -- fallback when the source has a single date group
          negwd0 AS MATERIALIZED (
            SELECT sl.draw, sl.recipe, sl.source, g.drnk AS a_drnk,
              ${dk("negd")} % GREATEST(g.dcnt - 1, 1) AS d0,
              ${dk("negr")} AS rh
            FROM slotrec sl
            JOIN pool p ON sl.record_id = p.id
            JOIN dg2 g ON g.source = sl.source AND g.pdate = p.pdate
            WHERE sl.reason = 'wrong_publication_date' AND g.dcnt >= 2
          ),
          negwd1 AS (
            SELECT w.*, t.pdate AS t_date, t.dct AS t_dct
            FROM negwd0 w JOIN dg2 t ON t.source = w.source
              AND t.drnk = CASE WHEN w.d0 >= w.a_drnk THEN w.d0 + 1 ELSE w.d0 END
          ),
          negwd AS (
            SELECT w.draw, w.recipe AS recipe2, n.id AS nid FROM negwd1 w
            JOIN drk n ON n.source = w.source AND n.pdate = w.t_date
              AND n.rn2 = w.rh % w.t_dct
          ),
          wdfb0 AS (
            SELECT sl.draw, sl.recipe, sl.record_id, s.srnk, s.scnt,
              ${dk("negs")} % GREATEST(s.scnt - 1, 1) AS s0
            FROM slotrec sl
            JOIN dg2 g ON g.source = sl.source AND g.drnk = 0
            JOIN srk2 s ON s.source = sl.source
            WHERE sl.reason = 'wrong_publication_date' AND g.dcnt < 2
          ),
          wdfb1 AS (
            SELECT f.draw, f.recipe, f.record_id, t.source AS t_source, t.ccnt
            FROM wdfb0 f JOIN srk2 t
              ON t.srnk = CASE WHEN f.s0 >= f.srnk THEN f.s0 + 1 ELSE f.s0 END
          ),
          wdfb AS (
            SELECT f.draw, f.recipe || '${Recipes.FallbackSuffix}' AS recipe2, n.id AS nid
            FROM wdfb1 f JOIN srcrank n ON n.source = f.t_source
              AND n.rn = ${dkF("negc")} % f.ccnt
          ),
          negrec AS MATERIALIZED (
            SELECT * FROM negwa1 UNION ALL SELECT * FROM negwa2 UNION ALL SELECT * FROM wafb
            UNION ALL SELECT * FROM negwd UNION ALL SELECT * FROM wdfb
          ),
          needed AS (
            SELECT record_id AS rid FROM slotrec UNION SELECT nid FROM negrec
          ),
          ${duckChunkDerive("WHERE doc_id IN (SELECT rid FROM needed)")},
          ${duckSlot("a", "slotrec")},
          ${duckSlot("p", "slotrec")},
          ${duckSlot("n", "slotrec")},
          f0 AS (
            SELECT sl.draw, CAST(0 AS BIGINT) AS epoch, g.recipe2 AS recipe, sl.reason, sl.record_id,
              CAST(a.a_widx AS BIGINT) AS a_widx, ${Determinism.duckHash("a.a_text")} AS a_hash,
              CAST(p.p_widx AS BIGINT) AS p_widx, ${Determinism.duckHash("p.p_text")} AS p_hash,
              g.nid, ${Determinism.duckHash("n.n_text")} AS n_hash
            FROM slotrec sl
            JOIN negrec g ON g.draw = sl.draw
            JOIN pick_a a ON a.draw = sl.draw AND a.record_id = sl.record_id
            JOIN pick_p p ON p.draw = sl.draw AND p.record_id = sl.record_id
            JOIN pick_n n ON n.draw = sl.draw AND n.record_id = g.nid
          )
          SELECT * FROM f0 WHERE a_hash <> p_hash"""
      }),

    QueryDef("q17_pair_composed_batch",
      // the composed pair batch (reference next_pair_batch,
      // src/sampler/mod.rs:2011-2110): each composed triplet yields TWO
      // labeled pairs — (anchor, positive, reason NULL) and (anchor,
      // negative, reason = strategy tag) — through the SAME counters as
      // the triplet driver. The oracle replays the triplet core and the
      // pair explosion.
      (s, dir) => {
        val chunks = stagedChunks(s, dir, "prx", PrWhere)
        val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "prx", prPool(s, dir))
        val pool = ridx.select(col("id"), col("source"))
        val out = Sampler.nextPairBatch(s, chunks, pool, prRecipes,
          SamplerState(PrSeed, 0L, Map.empty), PrBatch, rankIndex = Some(ridx),
          srcStats = stats)
        out.core.select(col("draw"), col("pair_id"), col("epoch"), col("recipe"),
          col("record_id"), col("nid"), col("label"),
          col("l_hash"), col("r_hash"), col("reason"))
      },
      Some {
        val h = Determinism.duckSeeded _
        def dk(prefix: String) = Determinism.duckHash(
          s"'$prefix:$PrSeed:' || CAST(sl.draw AS VARCHAR) || ':' || CAST(sl.record_id AS VARCHAR)")
        s"""WITH ${duckBaseCtes("doc_id % 5 = 3")},
          pool AS (SELECT doc_id AS id, source FROM base),
          srk AS (
            SELECT source,
              CAST(row_number() OVER (ORDER BY ${h("so:0", "source")}, source) AS BIGINT) - 1 AS srank
            FROM (SELECT DISTINCT source FROM pool)
          ),
          ordq AS (
            SELECT p.id, p.source,
              CAST(row_number() OVER (PARTITION BY p.source
                ORDER BY ${h("ro:0", "p.id")}, p.id) AS BIGINT) - 1 AS r
            FROM pool p
          ),
          eo AS MATERIALIZED (
            SELECT o.id, o.source,
              CAST(row_number() OVER (ORDER BY o.r, s.srank) AS BIGINT) - 1 AS pos
            FROM ordq o JOIN srk s USING (source)
          ),
          slots(draw, pos, recipe, reason, a_mode, a_arg, p_mode, p_arg, n_mode, n_arg)
            AS (VALUES ${composedSlotValues(prRecipes, PrSeed, (PrBatch + 1) / 2)}),
          slotrec AS (
            SELECT CAST(s.draw AS BIGINT) AS draw, s.recipe, s.reason,
              s.a_mode, s.a_arg, s.p_mode, s.p_arg, s.n_mode, s.n_arg,
              e.id AS record_id, e.source
            FROM slots s JOIN eo e ON e.pos = s.pos
          ),
          srcrank AS (
            SELECT id, source,
              CAST(row_number() OVER (PARTITION BY source ORDER BY id) AS BIGINT) - 1 AS rn,
              CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nsrc
            FROM pool
          ),
          negwa0 AS (
            SELECT sl.draw, sl.source, a.rn AS a_rn,
              ${dk("neg")} % GREATEST(a.nsrc - 1, 1) AS p0
            FROM slotrec sl JOIN srcrank a ON sl.record_id = a.id
            WHERE sl.reason = 'wrong_article' AND a.nsrc >= 2
          ),
          negrec AS MATERIALIZED (
            SELECT w.draw, n.id AS nid FROM negwa0 w
            JOIN srcrank n ON n.source = w.source
              AND n.rn = CASE WHEN w.p0 >= w.a_rn THEN w.p0 + 1 ELSE w.p0 END
          ),
          needed AS (
            SELECT record_id AS rid FROM slotrec UNION SELECT nid FROM negrec
          ),
          ${duckChunkDerive("WHERE doc_id IN (SELECT rid FROM needed)")},
          ${duckSlot("a", "slotrec")},
          ${duckSlot("p", "slotrec")},
          ${duckSlot("n", "slotrec")},
          f0 AS (
            SELECT sl.draw, CAST(0 AS BIGINT) AS epoch, sl.recipe, sl.reason, sl.record_id,
              ${Determinism.duckHash("a.a_text")} AS a_hash,
              ${Determinism.duckHash("p.p_text")} AS p_hash,
              g.nid, ${Determinism.duckHash("n.n_text")} AS n_hash
            FROM slotrec sl
            JOIN negrec g ON g.draw = sl.draw
            JOIN pick_a a ON a.draw = sl.draw AND a.record_id = sl.record_id
            JOIN pick_p p ON p.draw = sl.draw AND p.record_id = sl.record_id
            JOIN pick_n n ON n.draw = sl.draw AND n.record_id = g.nid
            WHERE ${Determinism.duckHash("a.a_text")} <> ${Determinism.duckHash("p.p_text")}
          )
          SELECT draw, draw * 2 AS pair_id, epoch, recipe, record_id, nid,
            'positive' AS label, a_hash AS l_hash, p_hash AS r_hash,
            CAST(NULL AS VARCHAR) AS reason
          FROM f0
          UNION ALL
          SELECT draw, draw * 2 + 1 AS pair_id, epoch, recipe, record_id, nid,
            'negative' AS label, a_hash AS l_hash, n_hash AS r_hash, reason
          FROM f0"""
      }),

    QueryDef("q18_text_composed_batch",
      // the composed text batch (reference next_text_batch,
      // src/sampler/mod.rs:2210-2364): text recipes scheduled by their own
      // ticket plan over the same epoch-interleaved record order; one
      // selector pick per draw (hash stream sel:t:). Emitted rows are the
      // pre-dedup core stream.
      (s, dir) => {
        val chunks = stagedChunks(s, dir, "txx", TxWhere)
        // The staged rank index serves every epoch's record pick and is
        // the STAGED POOL: reconstituting (id, source) from the
        // persisted table keeps the corpus tokenize+filter pass (txPool's
        // definition) off the batch path, same as every other composed
        // lane.
        val (ridx, stats) = ComposedIndexQueries.rankIndexAndStats(s, dir, "txx", txPool(s, dir))
        val pool = ridx.select(col("id"), col("source"))
        val out = Sampler.nextTextBatch(s, chunks, pool, txRecipes,
          SamplerState(TxSeed, 0L, Map.empty), TxBatch,
          rankIndex = Some(ridx), srcStats = stats)
        out.core.select(col("draw"), col("epoch"), col("recipe"),
          col("record_id"), col("chunk_record"), col("t_sidx"), col("t_widx"), col("t_hash"))
      },
      Some {
        val h = Determinism.duckSeeded _
        s"""WITH ${duckBaseCtes("doc_id % 5 = 4")},
          pool AS (SELECT doc_id AS id, source FROM base),
          srk AS (
            SELECT source,
              CAST(row_number() OVER (ORDER BY ${h("so:0", "source")}, source) AS BIGINT) - 1 AS srank
            FROM (SELECT DISTINCT source FROM pool)
          ),
          ordq AS (
            SELECT p.id, p.source,
              CAST(row_number() OVER (PARTITION BY p.source
                ORDER BY ${h("ro:0", "p.id")}, p.id) AS BIGINT) - 1 AS r
            FROM pool p
          ),
          eo AS MATERIALIZED (
            SELECT o.id, o.source,
              CAST(row_number() OVER (ORDER BY o.r, s.srank) AS BIGINT) - 1 AS pos
            FROM ordq o JOIN srk s USING (source)
          ),
          slots(draw, pos, recipe, t_mode, t_arg)
            AS (VALUES ${textComposedSlotValues(txRecipes, TxSeed, TxBatch)}),
          slotrec AS (
            SELECT CAST(s.draw AS BIGINT) AS draw, s.recipe, s.t_mode, s.t_arg,
              e.id AS record_id, e.source
            FROM slots s JOIN eo e ON e.pos = s.pos
          ),
          ${duckChunkDerive("WHERE doc_id IN (SELECT record_id FROM slotrec)")},
          ${duckSlot("t", "slotrec")}
          SELECT sl.draw, CAST(0 AS BIGINT) AS epoch, sl.recipe, sl.record_id,
            sl.record_id AS chunk_record,
            CAST(t.t_sidx AS BIGINT) AS t_sidx, CAST(t.t_widx AS BIGINT) AS t_widx,
            ${Determinism.duckHash("t.t_text")} AS t_hash
          FROM slotrec sl
          JOIN pick_t t ON t.draw = sl.draw AND t.record_id = sl.record_id"""
      })
  )
}
