package graft.operators

import graft.functions.Kvp

/** Recipe engine — the reference's "query language"
  * (reference: src/config.rs:147-237, src/sampler/mod.rs:691-799,
  * 1775-1799, 2761-2801).
  *
  * Recipes are pure config: the scheduling that the reference drives with
  * mutable round-robin indices becomes stateless ticket arithmetic —
  * `pick(draw) = plan[(rrIndex + draw) mod |plan|]` — so any executor can
  * compute the recipe for any slot, and resume is "persist rrIndex".
  */
sealed trait Selector
object Selector {
  case object RoleAnchor extends Selector
  case object RoleContext extends Selector
  /** n-th section of the record. */
  case class Paragraph(idx: Int) extends Selector
  /** As-of neighbor by created_at + days (same split; same source or same
    * leading taxonomy value) — see TemporalQueries.q61 for the join form. */
  case class TemporalOffset(days: Int) extends Selector
  case object Random extends Selector
}

sealed trait NegativeStrategy { def reason: String }
object NegativeStrategy {
  /** Different record, same source+split (date-preferring). */
  case object WrongArticle extends NegativeStrategy { val reason = "wrong_article" }
  /** Same source+split, different `date=` taxonomy value. */
  case object WrongPublicationDate extends NegativeStrategy { val reason = "wrong_publication_date" }
  /** Any other same-source same-split record (mismatched Q/A). */
  case object QuestionAnswerMismatch extends NegativeStrategy { val reason = "wrong_qa_pairing" }
}

/** Which machinery picks the negative RECORD within the strategy's pool
  * (reference: src/sampler/backends/mod.rs — uniform-random
  * `DefaultBackend` vs `Bm25Backend` chosen per sampler config,
  * src/sampler/mod.rs:370-377; surfaced here per-recipe so one ticket
  * plan can mix both). */
sealed trait NegativeBackend
object NegativeBackend {
  /** The seeded rank pick (reference DefaultBackend's uniform draw). */
  case object Default extends NegativeBackend
  /** BM25 re-rank of the strategy pool + top-3 rotation, falling back to
    * the rank pick when the scored intersection is empty
    * (reference: bm25_backend.rs:120-174). */
  case object Bm25 extends NegativeBackend
}

case class TripletRecipe(
    name: String,
    anchor: Selector,
    positive: Selector,
    negative: NegativeStrategy,
    weight: Float = 1.0f,
    instruction: Option[String] = None,
    allowSameAnchorPositive: Boolean = false,
    /** Which chunk of the negative record to use
      * (reference `negative_selector`, src/config.rs:201-215). */
    negativeSelector: Selector = Selector.RoleContext,
    /** How the negative record is picked within the strategy pool. */
    negativeBackend: NegativeBackend = NegativeBackend.Default)

case class TextRecipe(name: String, selector: Selector, weight: Float = 1.0f)

object Recipes {

  /** Ticket multiplier cap (reference: RECIPE_ORDER_MAX_WEIGHT_MULTIPLIER,
    * src/constants.rs:111-118). */
  val MaxWeightMultiplier = 16

  /** Name of the auto-injected long-section recipe
    * (reference: src/sampler/mod.rs:44-55, 691-723). */
  val AutoLongSectionRecipe = "auto_injected_long_section_chunk_pair_wrong_article"

  /** Suffix applied when a negative falls back to cross-source same-split
    * (reference: src/sampler/mod.rs:1391-1395). */
  val FallbackSuffix = "_fallback_same_split"

  /** Source-default triplet recipes — what each backend installs when the
    * config names none (reference: csv_source.rs:368-409,
    * file_source.rs:156-210, huggingface_source.rs:4605-4650). Weights are
    * the reference's intentional lane balance. */
  def csvDefaults(roleMode: Boolean): Seq[TripletRecipe] =
    if (!roleMode)
      // text mode: SimCSE-style — anchor and positive may be identical
      // text (dropout provides the variation); negative from another record
      Seq(TripletRecipe("csv_text_simcse_wrong_article",
        Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongArticle,
        weight = 1.0f, allowSameAnchorPositive = true))
    else Seq(
      TripletRecipe("csv_anchor_positive_wrong_article",
        Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongArticle,
        weight = 0.75f),
      TripletRecipe("csv_anchor_anchor_wrong_article",
        Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongArticle,
        weight = 0.25f, negativeSelector = Selector.RoleAnchor))

  def fileDefaults(includeDateAware: Boolean): Seq[TripletRecipe] = {
    val dateLanes =
      if (!includeDateAware) Nil
      else Seq(
        TripletRecipe("title_context_wrong_date",
          Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongPublicationDate,
          weight = 0.30f),
        TripletRecipe("title_anchor_wrong_date",
          Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongPublicationDate,
          weight = 0.10f, negativeSelector = Selector.RoleAnchor))
    dateLanes ++ Seq(
      TripletRecipe("title_context_wrong_article",
        Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongArticle,
        weight = if (includeDateAware) 0.35f else 0.75f),
      TripletRecipe("title_anchor_wrong_article",
        Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongArticle,
        weight = 0.25f, negativeSelector = Selector.RoleAnchor))
  }

  def hfDefaults(hasAnchorColumns: Boolean): Seq[TripletRecipe] =
    if (!hasAnchorColumns)
      Seq(TripletRecipe("huggingface_text_simcse_wrong_article",
        Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongArticle,
        weight = 1.0f, allowSameAnchorPositive = true))
    else Seq(
      TripletRecipe("huggingface_anchor_context_wrong_article",
        Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongArticle,
        weight = 0.75f),
      TripletRecipe("huggingface_anchor_anchor_wrong_article",
        Selector.RoleAnchor, Selector.RoleContext, NegativeStrategy.WrongArticle,
        weight = 0.25f, negativeSelector = Selector.RoleAnchor))

  /** Configured recipes win; an empty config resolves to the source's
    * defaults (reference: src/sampler/mod.rs:691-723 resolution order). */
  def resolve(configured: Seq[TripletRecipe], defaults: => Seq[TripletRecipe]): Seq[TripletRecipe] =
    if (configured.nonEmpty) configured else defaults

  /** Weighted, seeded ticket order: recipes with weight <= 0 are disabled;
    * tickets = clamp(round(w / w_min), 1, 16) per recipe; the ticket list
    * is shuffled with the epoch-mixed seed
    * (reference: src/sampler/mod.rs:2761-2784). */
  def ticketOrder(recipes: Seq[TripletRecipe], seed: String, epoch: Long): Seq[String] =
    weightedTickets(recipes.map(r => r.name -> r.weight), s"recipe-order:$seed:$epoch")

  /** Text-recipe ticket order — its own shuffle stream, the analogue of
    * the reference's separate `text_recipe_rr_idx`
    * (src/sampler/mod.rs:2229-2234). */
  def textTicketOrder(recipes: Seq[TextRecipe], seed: String, epoch: Long): Seq[String] =
    weightedTickets(recipes.map(r => r.name -> r.weight), s"text-recipe-order:$seed:$epoch")

  private def weightedTickets(pairs: Seq[(String, Float)], shuffleSeed: String): Seq[String] = {
    val active = pairs.filter(_._2 > 0f)
    if (active.isEmpty) return Nil
    val wMin = active.map(_._2).min
    val tickets = active.flatMap { case (name, w) =>
      val n = math.max(1, math.min(MaxWeightMultiplier, math.round(w / wMin)))
      Seq.fill(n)(name)
    }
    new Kvp.DetRng(shuffleSeed).shuffle(tickets)
  }

  /** Stateless round-robin pick over the ticket order. */
  def pick(plan: Seq[String], rrIndex: Long, draw: Long): String =
    plan(((rrIndex + draw) % plan.size).toInt)

  /** Triplet recipes expand to per-slot text recipes
    * (reference: src/sampler/mod.rs:1775-1799, heuristics.rs:100-124). */
  def derivedTextRecipes(recipes: Seq[TripletRecipe]): Seq[TextRecipe] =
    recipes.filter(_.weight > 0f).flatMap { r =>
      Seq(
        TextRecipe(s"${r.name}_anchor", r.anchor, r.weight),
        TextRecipe(s"${r.name}_positive", r.positive, r.weight),
        TextRecipe(s"${r.name}_negative", Selector.Random, r.weight))
    }

  /** Stage-A eligibility for the auto-injected long-section recipe: some
    * record in the source has a section exceeding the window
    * (reference: src/sampler/mod.rs:1801-1835). */
  def withAutoInjected(recipes: Seq[TripletRecipe], maxSectionTokens: Long,
      maxWindowTokens: Int): Seq[TripletRecipe] =
    if (maxSectionTokens > maxWindowTokens &&
      !recipes.exists(_.name == AutoLongSectionRecipe))
      recipes :+ TripletRecipe(AutoLongSectionRecipe,
        Selector.RoleContext, Selector.RoleContext,
        NegativeStrategy.WrongArticle, weight = 0.5f)
    else recipes

  /** Execute a [[Selector]] against a chunk table (the columns of
    * [[graft.core.RecordChunk]]): keep each record's matching chunks,
    * deterministically hash-pick one per record per draw
    * (reference selector contract: src/config.rs:201-215; role/chunk
    * cursor rotation becomes the stateless hash pick, SURVEY §2.5).
    * Returns one row per (record_id, draw) that has any eligible chunk. */
  def selectChunk(chunks: org.apache.spark.sql.DataFrame, selector: Selector,
      seed: String, draw: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.core.Determinism
    val eligible = selector match {
      case Selector.RoleAnchor => chunks.filter(col("role") === graft.core.SectionRole.Anchor)
      case Selector.RoleContext => chunks.filter(col("role") === graft.core.SectionRole.Context)
      case Selector.Paragraph(idx) => chunks.filter(col("section_idx") === idx)
      case Selector.Random => chunks
      case Selector.TemporalOffset(_) =>
        throw new IllegalArgumentException(
          "TemporalOffset selects a neighboring record, not a chunk — use the as-of join (TemporalQueries.q61 pattern)")
    }
    val w = Window.partitionBy(col("record_id"))
      .orderBy(col("section_idx"), col("view_kind"), col("window_index"), col("overlap"))
    eligible
      .withColumn("crnk", row_number().over(w).cast("long") - 1)
      .withColumn("csize", count(lit(1)).over(Window.partitionBy(col("record_id"))))
      .filter(col("crnk") === pmod(
        Determinism.seeded(s"sel:$seed:$draw", col("record_id")), col("csize")))
      .drop("crnk", "csize")
  }

  /** Batched [[selectChunk]]: all draws in ONE plan. `draws` carries one
    * row per draw — (`draw`, `mode`, `arg`) with mode ∈ role|para|random
    * describing the slot's selector — and is broadcast onto the chunk
    * table; a single (draw, record_id)-keyed window replaces one
    * window+join per draw (the per-draw form compiles D windows and a
    * D-way union — measurably slower at any D beyond a few). Selection is
    * bit-identical to selectChunk: same ordering, same
    * `hash(sel:<slot>:<draw>:<record_id>) mod csize` pick. */
  def selectChunksBatch(chunks: org.apache.spark.sql.DataFrame,
      draws: org.apache.spark.sql.DataFrame, slot: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.core.Determinism
    val elig = chunks.join(broadcast(draws),
      (col("mode") === "role" && col("role") === col("arg")) ||
        (col("mode") === "para" && col("section_idx") === col("arg").cast("int")) ||
        (col("mode") === "random"))
    val w = Window.partitionBy(col("draw"), col("record_id"))
      .orderBy(col("section_idx"), col("view_kind"), col("window_index"), col("overlap"))
    elig
      .withColumn("crnk", row_number().over(w).cast("long") - 1)
      .withColumn("csize", count(lit(1)).over(
        Window.partitionBy(col("draw"), col("record_id"))))
      .filter(col("crnk") === pmod(Determinism.portableHash(
        concat(lit(s"sel:$slot:"), col("draw").cast("string"), lit(":"),
          col("record_id").cast("string"))), col("csize")))
      .drop("crnk", "csize", "mode", "arg")
  }

  /** One chunk-table row as the driver-side pick reads it: the
    * [[graft.core.RecordChunk]] columns a selector and the sampler use.
    * The numeric order columns are `None` where the table holds null
    * (they sort first, like Spark's ascending order). */
  final case class ChunkRow(recordId: Long, sectionIdx: Option[Long], role: String,
      viewKind: String, windowIndex: Option[Long], overlap: Option[Long], wtext: String)

  /** One chunk pick to make: the slot's stream tag (`a`, `p`, `n`, `t`),
    * the draw, the chunk-source record, and the selector as its
    * [[Sampler.selectorDesc]] (mode, arg). */
  final case class ChunkDraw(slot: String, draw: Long, recordId: Long, mode: String, arg: String)

  private val chunkOrder: Ordering[ChunkRow] = {
    // Spark compares strings by their UTF-8 bytes, nulls first
    val utf8: Ordering[String] = (a, b) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    Ordering.by((c: ChunkRow) => (c.sectionIdx, Option(c.viewKind), c.windowIndex, c.overlap))(
      Ordering.Tuple4(Ordering.Option[Long], Ordering.Option(utf8), Ordering.Option[Long],
        Ordering.Option[Long]))
  }

  /** The driver twin of [[selectChunksBatch]] for a composed batch: every
    * draw's pick over chunk rows already on the driver (all chunks of
    * each draw's record). A draw's eligible chunks are its record's rows
    * that match the selector mode (role, para or random), ordered by
    * (section_idx, view_kind, window_index, overlap); it takes the one at
    * `pmod(hash(sel:<slot>:<draw>:<record_id>), csize)` — the same pick
    * as running selectChunksBatch once per slot and keeping the draw's
    * record (law-pinned by DriverPicksSpec). Returns one pick per
    * draw that has any eligible chunk, in `draws` order. */
  def selectChunksLocal(rows: Seq[ChunkRow], draws: Seq[ChunkDraw]): Seq[(ChunkDraw, ChunkRow)] = {
    val byRecord = rows.groupBy(_.recordId).view.mapValues(_.sorted(chunkOrder)).toMap
    draws.flatMap { d =>
      val elig = byRecord.getOrElse(d.recordId, Nil).filter { c =>
        d.mode match {
          case "role" => c.role == d.arg
          case "para" => c.sectionIdx.contains(d.arg.toLong)
          case "random" => true
          case _ => false
        }
      }
      if (elig.isEmpty) None
      else Some(d -> elig((graft.core.Determinism.jvmHash(
        s"sel:${d.slot}:${d.draw}:${d.recordId}") % elig.size).toInt))
    }
  }

  /** Stages B and C of the auto-injected chunk-pair recipe
    * (reference: src/sampler/mod.rs:1213-1256 Stage-B guard,
    * 1290-1300 distinct-window contract, retry loop 1162-1190):
    * Stage B — a record is eligible only with >= 2 window chunks for the
    * selector (callers pre-filter `chunks` to the selector's pool, e.g.
    * role = context); Stage C — anchor and positive are two DISTINCT
    * window chunks of that record.
    *
    * The reference reaches distinctness by redrawing up to a retry limit
    * from a mutable RNG; statelessly we pick the anchor rank uniformly and
    * the positive rank uniformly over the REMAINING csize-1 chunks
    * (`p0 >= a ? p0 + 1 : p0` — the same skip-the-anchor arithmetic the
    * wrong-date lane uses for date groups), which is distinct by
    * construction and recomputable on any executor.
    *
    * One keyed window + one keyed aggregation; no self-join. */
  def selectDistinctWindowPairs(chunks: org.apache.spark.sql.DataFrame,
      nDraws: Int, seed: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.core.Determinism
    def pick(slot: String) = Determinism.portableHash(
      concat(lit(s"pair:$slot:$seed:"), col("draw").cast("string"), lit(":"),
        col("record_id").cast("string")))
    val w = Window.partitionBy(col("draw"), col("record_id"))
      .orderBy(col("section_idx"), col("view_kind"), col("window_index"), col("overlap"))
    chunks
      .withColumn("draw", explode(sequence(lit(0L), lit(nDraws - 1L))))
      .withColumn("crnk", row_number().over(w).cast("long") - 1)
      .withColumn("csize", count(lit(1)).over(
        Window.partitionBy(col("draw"), col("record_id"))).cast("long"))
      .filter(col("csize") >= 2) // Stage B
      .withColumn("ar", pmod(pick("a"), col("csize")))
      .withColumn("pr0", pmod(pick("p"), greatest(col("csize") - 1, lit(1L))))
      .withColumn("pr", when(col("pr0") >= col("ar"), col("pr0") + 1).otherwise(col("pr0"))) // Stage C
      .groupBy(col("draw"), col("record_id"))
      .agg(
        max(when(col("crnk") === col("ar"), col("window_index"))).cast("long").as("a_widx"),
        max(when(col("crnk") === col("ar"), col("wtext"))).as("a_text"),
        max(when(col("crnk") === col("pr"), col("window_index"))).cast("long").as("p_widx"),
        max(when(col("crnk") === col("pr"), col("wtext"))).as("p_text"))
  }
}
