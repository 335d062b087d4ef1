package graft

import graft.core.Tables
import graft.operators._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class StateAndRecipesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** 12 docs over two sources, the pool's rank index staged once in
    * memory: the small composed fixture of the lane-report and
    * serving-tail tests. */
  private final class SmallComposed {
    private val s = spark
    import s.implicits._
    private val docs = (1 to 12).map(i =>
      (i.toLong, (s"head$i topic$i overview" +: (1 to 40).map(j => s"w${i}_$j")).mkString(" ")))
      .toDF("doc_id", "text")
    private val chunks = graft.queries.RecipeQueries.chunkTable(docs)
    private val pool = (1 to 12).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "source")
    private val (ranks, stats) = PoolRankIndex.stage(pool)
    def triplets(recipes: Seq[TripletRecipe], st: SamplerState, batch: Int): SamplerBatch =
      Sampler.nextBatch(spark, chunks, pool, recipes, st, batch,
        rankIndex = Some(ranks), srcStats = Some(stats))
    def pairs(recipes: Seq[TripletRecipe], st: SamplerState, batch: Int): SamplerBatch =
      Sampler.nextPairBatch(spark, chunks, pool, recipes, st, batch,
        rankIndex = Some(ranks), srcStats = Some(stats))
    def texts(recipes: Seq[TextRecipe], st: SamplerState, batch: Int): SamplerBatch =
      Sampler.nextTextBatch(spark, chunks, pool, recipes, st, batch,
        rankIndex = Some(ranks), srcStats = Some(stats))
  }

  // ---- sampler-state persistence (reference: FileSplitStore semantics) ----

  test("resume guard: seed mismatch surfaces instead of silently winning") {
    // reference file_store_rejects_seed_mismatch (src/splits.rs): a
    // persisted store built under another seed must refuse to open
    val path = java.nio.file.Files.createTempDirectory("st_guard").toString + "/st.json"
    assert(SamplerState.loadFor(path, "a") == Right(None)) // fresh start
    SamplerState.save(SamplerState("a", 2L, Map("draw" -> 7L)), path)
    assert(SamplerState.loadFor(path, "a")
      .exists(_.exists(_.counter("draw") == 7L)))
    val err = SamplerState.loadFor(path, "b")
    assert(err.isLeft && err.swap.exists(m => m.contains("'a'") && m.contains("'b'")))
    // a CORRUPT state file surfaces too — never a silent fresh restart
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), "{not json")
    assert(SamplerState.loadFor(path, "a").swap.exists(_.contains("does not parse")))
  }

  test("sampler state: save/load roundtrip, temp-then-publish") {
    val dir = Files.createTempDirectory("graft_state").toString
    val path = s"$dir/state.json"
    val st = SamplerState("seed-x", 3L, Map("text:train" -> 7L, "trip\"let" -> 2L))
    SamplerState.save(st, path)
    assert(SamplerState.load(path).contains(st))
    assert(!Files.exists(Paths.get(path + ".tmp")))
    // overwrite publishes atomically
    SamplerState.save(st.advanced("text:train", 5), path)
    assert(SamplerState.load(path).get.counter("text:train") == 12L)
    assert(SamplerState.load(s"$dir/absent.json").isEmpty)
  }

  test("resume: draw-range batches continue the uninterrupted sequence") {
    val docs = Tables.load(spark, sfDir, "documents")
    val cfg = TripletConfig()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val uninterrupted = canon(Triplets.textRowsRange(docs, cfg, 0, 4))
    // run 0..2, persist the counter, restore, run 2..4
    val dir = Files.createTempDirectory("graft_resume").toString
    val part1 = canon(Triplets.textRowsRange(docs, cfg, 0, 2))
    SamplerState.save(SamplerState(cfg.seed, 0L, Map("text_draw" -> 2L)), s"$dir/st.json")
    val restored = SamplerState.load(s"$dir/st.json").get
    val part2 = canon(Triplets.textRowsRange(docs, cfg, restored.counter("text_draw"), 4))
    // dedup keeps the earliest draw per (doc, window): union of the halves
    // minus later-draw duplicates equals the uninterrupted run
    val merged = (part1 ++ part2).groupBy(r => (r(0), r(3))) // (doc_id, widx)
      .values.map(_.minBy(_(2).asInstanceOf[Long])).toSet   // min draw wins
    assert(merged == uninterrupted)
  }

  // ---- recipe engine (reference: src/sampler/mod.rs:2761-2801) ----

  private val recipes = Seq(
    TripletRecipe("a", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = 0.75f),
    TripletRecipe("b", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongPublicationDate, weight = 0.25f),
    TripletRecipe("off", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.QuestionAnswerMismatch, weight = 0f))

  test("ticket order: weights to tickets, disabled excluded, deterministic") {
    val plan = Recipes.ticketOrder(recipes, "s", 0L)
    assert(plan.count(_ == "a") == 3) // round(0.75/0.25)=3
    assert(plan.count(_ == "b") == 1)
    assert(!plan.contains("off"))
    assert(plan == Recipes.ticketOrder(recipes, "s", 0L))
    assert(Recipes.ticketOrder(recipes, "s", 1L) != plan ||
      Recipes.ticketOrder(recipes, "t", 0L) != plan) // seed/epoch reshuffles
    // cap at 16 tickets
    val extreme = Seq(recipes(0).copy(weight = 100f), recipes(1).copy(weight = 0.001f))
    assert(Recipes.ticketOrder(extreme, "s", 0L).count(_ == "a") == 16)
  }

  test("stateless round-robin pick rotates through the plan") {
    val plan = Recipes.ticketOrder(recipes, "s", 0L)
    val picks = (0 until plan.size * 2).map(d => Recipes.pick(plan, 5L, d.toLong))
    assert(picks.take(plan.size) == picks.drop(plan.size)) // full rotation
  }

  test("derived text recipes expand per slot") {
    val derived = Recipes.derivedTextRecipes(recipes)
    assert(derived.map(_.name).toSet ==
      Set("a_anchor", "a_positive", "a_negative", "b_anchor", "b_positive", "b_negative"))
  }

  test("auto-injected long-section recipe appears only when a section exceeds the window") {
    val r1 = Recipes.withAutoInjected(recipes, maxSectionTokens = 2000, maxWindowTokens = 1024)
    assert(r1.exists(_.name == Recipes.AutoLongSectionRecipe))
    val r2 = Recipes.withAutoInjected(recipes, maxSectionTokens = 500, maxWindowTokens = 1024)
    assert(!r2.exists(_.name == Recipes.AutoLongSectionRecipe))
    assert(Recipes.withAutoInjected(r1, 2000, 1024).size == r1.size) // idempotent
  }

  test("selectChunk executes every selector deterministically") {
    import graft.core.{DataRecord, RecordSection}
    import graft.operators.{Chunker, ChunkingStrategy, Selector}
    implicit val sp = spark
    import sp.implicits._
    val ts = new java.sql.Timestamp(0L)
    val recs = (1 to 30).map(i => DataRecord(s"r$i", "src", ts, ts, 1.0f, Seq("src"),
      Seq(RecordSection("anchor", None, s"title $i", Nil),
        RecordSection("context", None, (1 to 60).map(j => s"w${i}_$j").mkString(" "), Nil)), None))
    val chunks = Chunker.chunkRecords(recs.toDS(),
      ChunkingStrategy(maxWindowTokens = 16, overlapTokens = Seq(4))).toDF().cache()

    val anchors = Recipes.selectChunk(chunks, Selector.RoleAnchor, "s", 0)
    assert(anchors.count() == 30)
    assert(anchors.filter(org.apache.spark.sql.functions.col("role") =!= "anchor").count() == 0)

    val para1 = Recipes.selectChunk(chunks, Selector.Paragraph(1), "s", 0)
    assert(para1.count() == 30)
    assert(para1.filter(org.apache.spark.sql.functions.col("section_idx") =!= 1).count() == 0)

    val rnd0 = Recipes.selectChunk(chunks, Selector.Random, "s", 0).collect().map(_.toSeq)
    val rnd0b = Recipes.selectChunk(chunks, Selector.Random, "s", 0).collect().map(_.toSeq)
    val rnd1 = Recipes.selectChunk(chunks, Selector.Random, "s", 1).collect().map(_.toSeq)
    assert(rnd0.toSet == rnd0b.toSet)       // deterministic per draw
    assert(rnd0.toSet != rnd1.toSet)        // rotates across draws
    assertThrows[IllegalArgumentException](
      Recipes.selectChunk(chunks, Selector.TemporalOffset(30), "s", 0))
  }

  // ---- partition invariance for the flagship (SURVEY §7.4 hard part) ----

  test("triplet batch is partition-count invariant") {
    val docs = Tables.load(spark, sfDir, "documents")
    val cfg = TripletConfig()
    val a = Triplets.tripletRows(docs.repartition(1), cfg).collect().map(_.toSeq).toSet
    val b = Triplets.tripletRows(docs.repartition(13), cfg).collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("decorated triplets and auto pairs are partition-count invariant") {
    val docs = Tables.load(spark, sfDir, "documents")
    val sampler = graft.functions.KvpPrefixSampler(0.5f, Seq(
      Seq(graft.functions.KvpField("lang", Seq("en", "de")))))
    def dec(parts: Int) = Triplets.tripletRowsDecorated(
      docs.repartition(parts), TripletConfig(), sampler, "r").collect().map(_.toSeq).toSet
    assert(dec(1) == dec(13) && dec(1).nonEmpty)
    def pairs(parts: Int) = Recipes.selectDistinctWindowPairs(
      graft.queries.RecipeQueries.contextChunks(docs.repartition(parts)), 2, "pi")
      .collect().map(_.toSeq).toSet
    assert(pairs(1) == pairs(13) && pairs(1).nonEmpty)
  }

  // ---- source-default recipes (csv_source.rs:368-409, file_source.rs:156-210,
  //      huggingface_source.rs:4605-4650) ----

  test("source defaults resolve only when config names no recipes") {
    val custom = Seq(TripletRecipe("mine", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle))
    assert(Recipes.resolve(custom, Recipes.csvDefaults(roleMode = true)) == custom)
    assert(Recipes.resolve(Nil, Recipes.csvDefaults(roleMode = true))
      == Recipes.csvDefaults(roleMode = true))
  }

  test("csv defaults: SimCSE text lane vs 0.75/0.25 role lanes") {
    val text = Recipes.csvDefaults(roleMode = false)
    assert(text.map(_.name) == Seq("csv_text_simcse_wrong_article"))
    assert(text.head.allowSameAnchorPositive && text.head.weight == 1.0f)
    val role = Recipes.csvDefaults(roleMode = true)
    assert(role.map(r => (r.name, r.weight)) == Seq(
      ("csv_anchor_positive_wrong_article", 0.75f),
      ("csv_anchor_anchor_wrong_article", 0.25f)))
    assert(role(1).negativeSelector == Selector.RoleAnchor)
  }

  test("file defaults: date-aware lanes rebalance the wrong-article weight") {
    val dated = Recipes.fileDefaults(includeDateAware = true)
    assert(dated.map(r => (r.name, r.weight)) == Seq(
      ("title_context_wrong_date", 0.30f),
      ("title_anchor_wrong_date", 0.10f),
      ("title_context_wrong_article", 0.35f),
      ("title_anchor_wrong_article", 0.25f)))
    assert(dated.take(2).forall(_.negative == NegativeStrategy.WrongPublicationDate))
    val plain = Recipes.fileDefaults(includeDateAware = false)
    assert(plain.map(r => (r.name, r.weight)) == Seq(
      ("title_context_wrong_article", 0.75f),
      ("title_anchor_wrong_article", 0.25f)))
  }

  // ---- epoch wrap tracking + reconcile (src/sampler/mod.rs:868-948,
  //      src/epoch.rs:187-229) ----

  test("source wrap tracking auto-advances the epoch when all sources wrapped") {
    val sources = Seq("a", "b")
    var st = SamplerState("s", 0L, Map.empty)
    st = Mixing.drawAndTrack(st, "a", 2, sources)
    st = Mixing.drawAndTrack(st, "a", 2, sources) // a completed its cycle
    assert(st.epoch == 0 && st.counter("wrapped:a") == 1)
    st = Mixing.drawAndTrack(st, "b", 3, sources)
    st = Mixing.drawAndTrack(st, "b", 3, sources)
    assert(st.epoch == 0, "b not wrapped yet")
    st = Mixing.drawAndTrack(st, "b", 3, sources) // all wrapped → auto-advance
    assert(st.epoch == 1)
    assert(st.counter("cursor:a") == 0 && st.counter("cursor:b") == 0)
    assert(st.counter("wrapped:a") == 0 && st.counter("wrapped:b") == 0)
    // resume mid-cycle continues the exact sequence (save/load at a draw)
    val resumed = SamplerState.fromJson(SamplerState.toJson(st)).get
    assert(Mixing.drawAndTrack(resumed, "a", 2, sources)
      == Mixing.drawAndTrack(st, "a", 2, sources))
  }

  test("reconcile: consumed ids sort after all unconsumed, orders preserved") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ordered = Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L))
      .toDF("id", "pos")
    val consumed = Seq(1L, 3L).toDF("id")
    val rec = Mixing.reconcile(ordered, consumed)
      .orderBy(col("consumed"), col("pos")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("consumed")))
    assert(rec.toSeq == Seq((2L, false), (4L, false), (1L, true), (3L, true)))
  }

  test("exhaustion retry: <=2 forced refreshes, then the error surfaces") {
    // success on the 3rd attempt consumes exactly 2 refreshes
    var refreshes = 0
    var attempts = 0
    val got = Exhaustion.withRetry[String]("triplet_recipes") { () =>
      attempts += 1
      if (attempts == 3) Some("batch") else None
    } { () => refreshes += 1 }
    assert(got == "batch" && attempts == 3 && refreshes == 2)
    // permanently exhausted: retries stop at the limit, no trailing refresh
    refreshes = 0
    val err = intercept[Exhaustion.Exhausted] {
      Exhaustion.withRetry[String]("text_recipes") { () => None } { () => refreshes += 1 }
    }
    assert(err.label == "text_recipes" && refreshes == Exhaustion.RetryLimit)
  }

  test("sampler-state json roundtrip survives control chars and braces in keys") {
    val st = SamplerState("se\ned", 3L,
      Map("k}v" -> 7L, "line\nbreak" -> 2L, "q\"uote\\" -> 1L))
    assert(SamplerState.fromJson(SamplerState.toJson(st)).contains(st))
  }

  test("hf defaults: SimCSE when no anchor columns, else 0.75/0.25 lanes") {
    assert(Recipes.hfDefaults(hasAnchorColumns = false).map(_.name)
      == Seq("huggingface_text_simcse_wrong_article"))
    assert(Recipes.hfDefaults(hasAnchorColumns = true).map(r => (r.name, r.weight)) == Seq(
      ("huggingface_anchor_context_wrong_article", 0.75f),
      ("huggingface_anchor_anchor_wrong_article", 0.25f)))
  }

  test("temporal neighbors: as-of argmin, id tiebreak, source-or-taxonomy arms") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // target = a.sec + 2 days. Candidates for record 1 (s0, t0, sec=0):
    //   id 2 (s0): |86400  - 172800| = 86400
    //   id 3 (s0): |259200 - 172800| = 86400   -> tie, smaller id (2) wins
    //   id 4 (s1, t0): exact hit but reachable only through the TAX arm
    //   id 5 (s1, t9): neither arm for record 1
    // Record 6 (s2, t9) has NO same-source candidate; its only arm is tax
    // (id 5, t9).
    val pool = Seq(
      (1L, "s0", 0L, "t0"), (2L, "s0", 86400L, "t1"), (3L, "s0", 259200L, "t2"),
      (4L, "s1", 172800L, "t0"), (5L, "s1", 999999L, "t9"), (6L, "s2", 500000L, "t9"))
      .toDF("id", "source", "sec", "tax")
    val forIds = Seq(1L, 6L).toDF("record_id")
    val got = Sampler.temporalNeighbors(pool, days = 2, forIds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // record 1: id 4 is an EXACT target hit via the tax arm (selkey 0+4)
    // beating the tied same-source pair (selkey 86400e7+2)
    assert(got == Map(1L -> 4L, 6L -> 5L))
    // without the tax column only the source arm exists: the tie between
    // 2 and 3 resolves to the smaller id; record 6 has no neighbor
    val gotSrc = Sampler.temporalNeighbors(pool.drop("tax"), days = 2, forIds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSrc == Map(1L -> 2L))
  }

  test("temporalNeighborsFull == pairwise batch form (adversarial fixtures, both arms)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4242)
    // adversarial shapes: clustered secs (duplicates => sec-group id2
    // paths), self-nearest targets (a record's own sec closest to its
    // target => self-exclusion must fall to the next rank), singleton
    // sources (tax-arm-only neighbors), huge ids (the exact case the old
    // 1e7-scalar key got wrong), negative offsets
    for ((days, trial) <- Seq((2, 1), (-3, 2), (0, 3))) {
      val n = 120
      val rows = (1 to n).map { i =>
        val id = if (i % 7 == 0) 20000000L + i else i.toLong // ids beyond 1e7
        val src = if (i <= 3) s"solo$i" else s"s${i % 5}"
        val sec = (rnd.nextInt(8) * 86400L) + (if (i % 11 == 0) days * 86400L else 0L)
        (id, src, sec, s"t${i % 3}")
      }
      val pool = rows.toDF("id", "source", "sec", "tax")
      val all = pool.select(col("id").as("record_id"))
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pairwise = toMap(Sampler.temporalNeighbors(pool, days, all))
      val full = toMap(Sampler.temporalNeighborsFull(pool, days))
      assert(full == pairwise, s"trial $trial (days=$days): staged map drifted")
      // source-only pools too
      val pw2 = toMap(Sampler.temporalNeighbors(pool.drop("tax"), days, all))
      val fl2 = toMap(Sampler.temporalNeighborsFull(pool.drop("tax"), days))
      assert(fl2 == pw2, s"trial $trial (days=$days, no tax)")
    }
  }

  test("neighbor-index-backed composed batch == derived (temporal config)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1 to 14).map(i =>
      (i.toLong, (s"head$i topic$i overview" +: (1 to 40).map(j => s"w${i}_$j")).mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = graft.queries.RecipeQueries.chunkTable(docs).cache()
    val pool = (1 to 14).map(i => (i.toLong, s"s${i % 3}",
        1700000000L + (i % 6) * 43200L, s"t${i % 2}"))
      .toDF("id", "source", "sec", "tax").cache()
    val recipes = Seq(
      TripletRecipe("tn_asof", Selector.TemporalOffset(2), Selector.RoleContext,
        NegativeStrategy.WrongArticle, weight = 0.5f),
      TripletRecipe("tn_plain", Selector.RoleAnchor, Selector.RoleContext,
        NegativeStrategy.WrongArticle, weight = 0.5f))
    val (ranks, stats) = PoolRankIndex.stage(pool)
    def batchOf(ni: Map[Int, org.apache.spark.sql.DataFrame]) =
      Sampler.nextBatch(spark, chunks, pool, recipes,
        SamplerState("tn", 0L, Map.empty), batch = 10, rankIndex = Some(ranks),
        srcStats = Some(stats), neighborIndex = ni)
    def rowsOf(nbrs: org.apache.spark.sql.DataFrame) =
      batchOf(Map(2 -> nbrs)).core.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // the parquet round-trip of the real staging vs the same map in memory
    val full = Sampler.temporalNeighborsFull(pool, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_nbr").toString + "/ix"
    full.repartitionByRange(4, col("record_id")).sortWithinPartitions("record_id")
      .write.parquet(dir)
    val staged = rowsOf(spark.read.parquet(dir))
    val derived = rowsOf(full)
    assert(staged.nonEmpty && staged == derived)
    // a temporal recipe without its staged offset fails at the call
    val e = intercept[IllegalArgumentException](batchOf(Map(3 -> full)))
    assert(e.getMessage.contains("TemporalOffset(2)"))
  }

  test("composed bm25 backend: disjoint vocab falls back to the rank pick, shared vocab diverges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def corpus(shared: Boolean) = {
      val mark = if (shared) "overview" else "solo"
      val docs = (1 to 12).map { i =>
        val m = if (shared) mark else s"$mark$i"
        (i.toLong, (s"head$i topic$i $m" +: (1 to 40).map(j => s"w${i}_$j")).mkString(" "))
      }.toDF("doc_id", "text")
      val chunks = graft.queries.RecipeQueries.chunkTable(docs)
      // btoks = FULL document tokens (the reference's BM25 index covers
      // record text, bm25_backend.rs ranked_candidates); the shared `mark`
      // token sits in the anchor section, so the anchor-chunk query
      // intersects candidates only in the shared case
      val pool = (1 to 12).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "source")
        .join(docs.select(col("doc_id").as("id"),
          graft.functions.TextFunctions.tokens(col("text")).as("btoks")), "id")
      (chunks, pool)
    }
    // triplets, or pairs: 16 pairs are the same 8 triplet draws
    def run(shared: Boolean, backend: graft.operators.NegativeBackend,
        pairs: Boolean = false) = {
      val (chunks, pool) = corpus(shared)
      val (ranks, stats) = PoolRankIndex.stage(pool)
      val bm25 = Some(Bm25PoolIndex.fromPool(pool))
      val recipes = Seq(TripletRecipe("bmf", Selector.RoleAnchor, Selector.RoleContext,
        NegativeStrategy.WrongArticle, negativeBackend = backend))
      val st = SamplerState("bmf", 0L, Map.empty)
      val b =
        if (pairs) Sampler.nextPairBatch(spark, chunks, pool, recipes, st, batch = 16,
          bm25Index = bm25, rankIndex = Some(ranks), srcStats = Some(stats))
        else Sampler.nextBatch(spark, chunks, pool, recipes, st, batch = 8,
          bm25Index = bm25, rankIndex = Some(ranks), srcStats = Some(stats))
      b.core.collect().map(_.toSeq).toSet
    }
    // every doc's context vocabulary is unique -> the scored intersection
    // is empty for every slot -> the bm25 backend delivers EXACTLY the
    // default backend's sequence (reference: bm25_backend.rs:157-174
    // fallback to deterministic random within the pool), for triplets and
    // for the pairs derived from them
    for (pairs <- Seq(false, true))
      assert(run(shared = false, NegativeBackend.Bm25, pairs)
        == run(shared = false, NegativeBackend.Default, pairs), s"pairs=$pairs")
    // a shared token gives a non-empty intersection -> the scored top-3
    // rotation must diverge from the rank pick somewhere in the batch
    for (pairs <- Seq(false, true))
      assert(run(shared = true, NegativeBackend.Bm25, pairs)
        != run(shared = true, NegativeBackend.Default, pairs), s"pairs=$pairs")
  }

  test("laneStats: the extended-metrics report aggregates the batch's own core rows") {
    val fx = new SmallComposed
    val recipes = Seq(TripletRecipe("lm", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle))
    val b = fx.triplets(recipes, SamplerState("lm", 0L, Map.empty), batch = 8)
    val stats = b.laneStats.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    // independent derivation from the same core rows
    val want = b.core.collect()
      .groupBy(r => (r.getAs[String]("recipe"), r.getAs[String]("reason"),
        r.getAs[String]("lane")))
      .view.mapValues(_.length.toLong).toMap
    assert(stats == want)
    assert(stats.values.sum == b.core.count())
    // the PAIR lane reports through its triplet core: one negative
    // dispatch per triplet draw, regardless of the 2-row pair explosion —
    // the same per-(recipe, reason, lane) counts as the triplet report
    // over the same seed/counters
    val pb = fx.pairs(recipes, SamplerState("lm", 0L, Map.empty), batch = 8)
    val pairStats = pb.laneStats.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(pairStats.nonEmpty)
    assert(pairStats.values.sum * 2 == pb.core.count(),
      "each reported triplet draw expands to exactly two pair rows")
  }

  test("ExtendedMetrics accumulates lifetime totals: two resumed half-batches == one batch") {
    val fx = new SmallComposed
    val recipes = Seq(TripletRecipe("xm", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle))
    // one 8-draw batch vs two resumed 4-draw batches (the q143 law
    // applied to the counters): the reference's running totals
    // (bm25_backend.rs:156-172) accumulate exactly like this
    val one = fx.triplets(recipes, SamplerState("xm", 0L, Map.empty), batch = 8)
    val oneTotals = new ExtendedMetrics().add(one).totals
    val h1 = fx.triplets(recipes, SamplerState("xm", 0L, Map.empty), batch = 4)
    val h2 = fx.triplets(recipes, h1.state, batch = 4)
    // `add` folds the already-collected core rows on the driver: a
    // listener sees no job in the group it runs under
    val run = Profile.jobsIn(spark.sparkContext, "em-add") {
      new ExtendedMetrics().add(h1).add(h2)
    }
    val m = run.result
    assert(run.jobs.isEmpty, s"ExtendedMetrics.add started ${run.jobs.size} Spark job(s)")
    assert(m.totals == oneTotals)
    assert(m.totals.values.sum == one.core.count())
  }

  test("serving draws leave the cache manager as they found it (triplet, pair, text)") {
    // the batch tail runs on the driver: drawing and collecting `rows`
    // caches nothing that no serving loop would ever release
    val fx = new SmallComposed
    val recipes = Seq(TripletRecipe("lk", Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle))
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // `numCachedEntries` is private[sql] in Scala but public in bytecode
    def entries = cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    val before = entries
    var st = SamplerState("lk", 0L, Map.empty)
    def draw(b: SamplerBatch): Unit = {
      assert(b.rows.collect().length == 8)
      st = b.state
    }
    (1 to 3).foreach(_ => draw(fx.triplets(recipes, st, 8)))
    (1 to 3).foreach(_ => draw(fx.pairs(recipes, st, 8)))
    (1 to 3).foreach(_ => draw(fx.texts(Recipes.derivedTextRecipes(recipes), st, 8)))
    assert(entries <= before, s"cache entries grew from $before to $entries")
  }

  test("padSlots: the driver pad equals Mixing.padToBatch at 0, 1, b-1, b and b+7 candidates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val batch = 16
    for (nc <- Seq(0, 1, batch - 1, batch, batch + 7)) {
      val seed = s"padlaw:$nc"
      val ids = (0 until nc).map(i => 1000L + 37L * i)
      val cands = ids.toDF("id")
      val want = Mixing.padToBatch(spark, cands, batch, seed).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      cands.unpersist()
      // the input order of the candidates cannot matter
      val got = Mixing.padSlots(ids.reverse, batch, seed)
      assert(got == want, s"nc=$nc: (i, id) pairs differ")
      // pad order: the plan's seeded order, cycled when short
      val ranked = cands.orderBy(graft.core.Determinism.seeded(seed, col("id")), col("id"))
        .collect().map(_.getLong(0)).toSeq
      assert(got == (if (nc == 0) Nil
        else (0 until batch).map(i => (i.toLong, ranked(i % nc)))), s"nc=$nc: pad order")
    }
  }

  test("composed temporal slots anchor on the neighbor's context chunk") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1 to 12).map(i =>
      (i.toLong, (s"head$i topic$i overview" +: (1 to 40).map(j => s"w${i}_$j")).mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = graft.queries.RecipeQueries.chunkTable(docs).cache()
    val pool = (1 to 12).map(i => (i.toLong, s"s${i % 2}", i.toLong * 86400L))
      .toDF("id", "source", "sec")
    val recipes = Seq(
      TripletRecipe("asof_only", Selector.TemporalOffset(1), Selector.RoleContext,
        NegativeStrategy.WrongArticle))
    val (ranks, stats) = PoolRankIndex.stage(pool)
    val out = Sampler.nextBatch(spark, chunks, pool, recipes,
      SamplerState("tn", 0L, Map.empty), batch = 6, rankIndex = Some(ranks),
      srcStats = Some(stats), neighborIndex = Map(1 -> Sampler.temporalNeighborsFull(pool, 1)))
    val core = out.core.collect()
    assert(core.nonEmpty)
    // sec = id days and offset = 1 day, so the as-of neighbor of record r
    // is exactly id r+1 when same-source (id r+2)... compute expected via
    // the operator's own record-level pick and cross-check the anchor HASH
    // against the neighbor's context chunks — proving the anchor text came
    // from the NEIGHBOR record, not the scheduled one.
    val nb = Sampler.temporalNeighbors(pool, 1,
        out.core.select(col("record_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ctxHashByRec = chunks.filter(col("role") === "context")
      .select(col("record_id"),
        graft.core.Determinism.portableHash(col("wtext")).as("h"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    core.foreach { r =>
      val rec = r.getAs[Long]("record_id"); val aHash = r.getAs[Long]("a_hash")
      val neighbor = nb(rec)
      assert(neighbor != rec)
      assert(ctxHashByRec(neighbor).contains(aHash),
        s"anchor hash of record $rec must come from neighbor $neighbor's context pool")
      assert(!ctxHashByRec(rec).contains(aHash) || ctxHashByRec(neighbor).contains(aHash))
    }
    chunks.unpersist()
  }
}
