package graft

import graft.core.{Determinism, Tables}
import graft.operators.{PoolRankIndex, Recipes, Sampler, SamplerState, TripletConfig, Triplets}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-level invariants, modeled on the reference's integration suite
  * (reference: tests/invariants.rs, tests/anchor_positive_swap.rs, and the
  * golden sequence hashes of src/sampler/tests.rs:17-50).
  */
class InvariantsSpec extends AnyFunSuite with GoldenHarness {

  protected lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Heavy soak lanes (reference-length 45-batch matrix, 2×30-batch
    * diversity) opt in via GRAFT_SOAK_TESTS=1 — same convention as the
    * cluster specs — so the default `sbt test` stays inside the round
    * driver's budget (round 16: the driver killed the suite mid-run). */
  private val soakTests = sys.env.get("GRAFT_SOAK_TESTS").contains("1")

  test("native portable_hash32 expression matches the composed built-in form") {
    import spark.implicits._
    val vals = (Seq("", "a", "hello world", "42:0", "unicode ✓ héllo") ++
      (0 until 200).map(i => s"doc:$i")).toDF("s")
    val diff = vals.select(
        Determinism.portableHash(col("s")).as("native"),
        Determinism.portableHashComposed(col("s")).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(diff.count() == 0)
    // codegen path and interpreted path agree (eval via filter + project)
    val one = vals.filter(col("s") === "hello world")
      .select(Determinism.portableHash(col("s"))).collect()(0).getLong(0)
    assert(one >= 0L && one < (1L << 32))
  }

  private def goldenDigest(df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect().map(_.toSeq.mkString("|")).sorted
    assert(rows.nonEmpty)
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("portable_hash32 registers on the SQL surface and matches the Column API") {
    graft.plans.GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT portable_hash32('graft:42') AS h").collect()(0).getLong(0)
    val viaCol = spark.range(1)
      .select(Determinism.portableHash(org.apache.spark.sql.functions.lit("graft:42")).as("h"))
      .collect()(0).getLong(0)
    assert(viaSql == viaCol)
  }

  test("curation functions register on the SQL surface and match the Column API") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.GraftFunctions.register(spark)
    val df = Seq(
      (1L, "The quick brown fox jumped. It ran 42 km for the win,  twice. "),
      (2L, "der und das ist nicht ein mit von zu der und"),
      (3L, "numbers 123 456 789 0 1 2 3 4 5")).toDF("id", "text")
    df.createOrReplaceTempView("gf_docs")
    val viaSql = spark.sql(
      """SELECT id, graft_quality_e6(text) AS q, graft_lang_id(text) AS l,
           graft_token_count(text) AS n, graft_normalize_ws(text) AS w,
           graft_tokens(text) AS t, graft_seeded('s', id) AS h
         FROM gf_docs""").collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val viaCol = df.select(col("id"),
        graft.operators.TextAnalysis.qualityE6(col("text")).as("q"),
        graft.operators.TextAnalysis.langId(
          graft.functions.TextFunctions.tokens(col("text"))).as("l"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n"),
        graft.functions.TextFunctions.normalizeWs(col("text")).as("w"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"),
        Determinism.seeded("s", col("id")).as("h"))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(viaSql == viaCol)
  }

  test("graft_dot_e3 registers on the SQL surface and matches the Column API") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.GraftFunctions.register(spark)
    val df = Seq((1L, Array(0.5f, -0.25f, 1f), Array(2f, 4f, -1f)),
      (2L, Array(0f, 0f, 0f), Array(1f, 1f, 1f))).toDF("id", "a", "b")
    df.createOrReplaceTempView("gd_vecs")
    val viaSql = spark.sql(
      "SELECT id, graft_dot_e3(a, b) AS d, graft_dot_e3(a, a) AS n FROM gd_vecs")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val viaCol = df.select(col("id"),
        graft.operators.Similarity.dotE3(col("a"), col("b")).as("d"),
        graft.operators.Similarity.normE3(col("a")).as("n"))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(viaSql == viaCol)
    assert(viaSql.head(1) == (500L * 2000) + (-250L * 4000) + (1000L * -1000))
  }

  test("golden sequence hashes: triplet/pair/text batches pinned per seed") {
    // the analogue of the reference's golden FNV pins
    // (src/sampler/tests.rs:17-50): any behavioral drift in the sampling
    // pipelines fails loudly. Re-pin ONLY for an intentional semantic change.
    val docs = Tables.load(spark, sfDir, "documents")
    val cfg = TripletConfig()
    assert(goldenDigest(Triplets.tripletRows(docs, cfg))
      == "9de53e550f648055ccbd40b11f394dcb", "triplet drift")
    assert(goldenDigest(Triplets.pairRows(docs, cfg))
      == "6bfc356cffd778343f213d3f1c53a4e9", "pair drift")
    assert(goldenDigest(Triplets.textRows(docs, cfg, 4))
      == "ff2b27c211f2a0c658bfdbd2ff939dba", "text drift")
  }

  // ---- golden multi-batch sequence (reference: src/sampler/tests.rs:17-50
  // 45-batch FNV pins; tests/invariants.rs:207-867 cycle-before-repeat) ----

  // goldenCorpus / goldenRecipes / seqDigest / runGolden / goldenMatrix /
  // MatrixPins live in [[GoldenHarness]] — shared with ClusterGoldenSpec,
  // which replays the same pins across real executor boundaries.

  test("golden multi-batch sequence: pinned hash, cycle-before-repeat, epoch wrap") {
    val (batches, core, endState) = runGolden(batch = 8, nBatches = 6, parts = 4)
    assert(batches.forall(_.length == 8), "every delivered batch is exactly batch-sized")
    assert(seqDigest(batches) == GoldenSeqHash, "golden sequence drift")
    // 48 draws over a 25-record pool: epoch advanced mid-batch exactly once
    assert(endState.epoch == 1L && endState.counter("cursor") == 23L
      && endState.counter("draw") == 48L)
    // cycle-before-repeat: within an epoch no record is drawn twice, and
    // epoch 0 served the full pool before the wrap
    val byEpoch = core.groupBy(_(1).asInstanceOf[Long])
    byEpoch.foreach { case (ep, rows) =>
      val recs = rows.map(_(3))
      assert(recs.distinct.size == recs.size, s"repeat within epoch $ep")
    }
    assert(byEpoch(0L).map(_(3)).toSet.size == 25, "epoch 0 served the whole pool")
    // recipe rotation reached both default lanes (fallback rows carry the
    // suffixed name — count base recipes)
    assert(core.map(_(2).asInstanceOf[String].stripSuffix(Recipes.FallbackSuffix))
      .distinct.size == goldenRecipes.size)
  }

  test("golden sequence: mid-sequence resume through persisted state matches the pin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden").toString
    val (batches, _, _) = runGolden(batch = 8, nBatches = 6, parts = 4,
      resumeAt = Some(3), stateDir = Some(dir))
    assert(seqDigest(batches) == GoldenSeqHash, "resume broke the sequence")
  }

  test("golden sequence: core draw stream is batch-size and partition invariant") {
    val (_, core8, _) = runGolden(batch = 8, nBatches = 6, parts = 1)
    val (_, core16, _) = runGolden(batch = 16, nBatches = 3, parts = 13)
    assert(core8.toSet == core16.toSet,
      "per-draw stream must not depend on batch grouping or partitioning")
  }

  test("golden matrix: 10-batch per-config pins at 13 partitions") {
    // The per-round default gate (round 17): one 10-batch run per config
    // at 13 partitions, digest-pinned against MatrixPins10 — the pins
    // were generated at 1 partition, so pin equality IS the partition-
    // invariance law, with no second run per config. 80 draws over the
    // 25-record pool wrap the epoch three times inside every pinned
    // window. The reference-length 45-batch matrix (MatrixPins — 14
    // wraps, every strategy delivered, the fallback row) moves behind
    // GRAFT_SOAK_TESTS=1 below: it alone cost ~16 min of the default
    // suite, which round 16's driver could not finish inside its budget.
    val lanes = Set.newBuilder[String]
    val got = goldenMatrix.map { case (cname, recipes, dated, dec) =>
      val (b13, core, end) = runGolden(batch = 8, nBatches = 10, parts = 13,
        recipes = recipes, seed = s"gm:$cname", dated = dated,
        cols = goldenCols :+ "reason", decoration = dec)
      assert(end.epoch == 3L && end.counter("draw") == 80L,
        s"$cname: expected 3 epoch wraps inside the pinned window")
      // the negative tier (`lane`) each delivered draw took
      val delivered = b13.flatten.map(_.getAs[Long]("draw")).toSet
      lanes ++= core.filter(c => delivered(c.head.asInstanceOf[Long])).map(_.last.toString)
      (cname, seqDigest(b13))
    }.toMap
    assert(got == MatrixPins10, s"golden matrix drift: $got")
    // the pins cover every branch of the negative dispatch
    assert(lanes.result() == Set("src", "sd", "wd", "fb", "bm25"), lanes.result())
    // decoration genuinely engaged: the same config without the sampler
    // yields a different sequence (prefix + budget fold into every hash)
    val (bPlain, _, _) = runGolden(batch = 8, nBatches = 10, parts = 13,
      seed = "gm:decorated", cols = goldenCols :+ "reason")
    assert(seqDigest(bPlain) != got("decorated"),
      "decorated pin indistinguishable from undecorated run")
    // bm25 backend genuinely engaged: the same recipes with the Default
    // backend diverge from the scored top-3 rotation within 80 draws
    val bmCfg = goldenMatrix.collect { case ("bm25", r, _, _) => r }.head
    val (bDef, _, _) = runGolden(batch = 8, nBatches = 10, parts = 13,
      recipes = bmCfg.map(_.copy(negativeBackend = graft.operators.NegativeBackend.Default)),
      seed = "gm:bm25", cols = goldenCols :+ "reason")
    assert(seqDigest(bDef) != got("bm25"),
      "bm25 pin indistinguishable from the default backend")
  }

  test("golden matrix soak: 45-batch reference-length pins (GRAFT_SOAK_TESTS=1)") {
    assume(soakTests, "set GRAFT_SOAK_TESTS=1 to run the reference-length matrix")
    val got = goldenMatrix.map { case (cname, recipes, dated, dec) =>
      val (b1, _, end1) = runGolden(batch = 8, nBatches = 45, parts = 1,
        recipes = recipes, seed = s"gm:$cname", dated = dated,
        cols = goldenCols :+ "reason", decoration = dec)
      // partition invariance: the first 10 batches re-run at 13 partitions
      val (b13, _, _) = runGolden(batch = 8, nBatches = 10, parts = 13,
        recipes = recipes, seed = s"gm:$cname", dated = dated,
        cols = goldenCols :+ "reason", decoration = dec)
      assert(seqDigest(b1.take(10)) == seqDigest(b13),
        s"$cname: sequence depends on partitioning")
      // 360 draws over 25 records: 14 epoch wraps inside the pinned window
      assert(end1.epoch == 14L && end1.counter("draw") == 360L,
        s"$cname: expected 14 epoch wraps inside the pinned window")
      // every declared strategy actually delivered rows
      val reasons = b1.flatten.map(_.getAs[String]("reason")).distinct.toSet
      assert(reasons == recipes.map(_.negative.reason).toSet,
        s"$cname: strategies delivered $reasons")
      // the singleton source forced at least one cross-split fallback row
      assert(b1.flatten.exists(
          _.getAs[String]("recipe").endsWith(Recipes.FallbackSuffix)),
        s"$cname: no fallback row in the pinned window")
      (cname, seqDigest(b1), seqDigest(b13))
    }
    assert(got.map(g => g._1 -> g._2).toMap == MatrixPins,
      s"golden matrix drift: ${got.map(g => g._1 -> g._2).toMap}")
    val got10 = got.map(g => g._1 -> g._3).toMap
    // decoration genuinely engaged: the same config without the sampler
    // yields a different sequence (prefix + budget fold into every hash)
    val (bPlain, _, _) = runGolden(batch = 8, nBatches = 10, parts = 1,
      seed = "gm:decorated", cols = goldenCols :+ "reason")
    assert(seqDigest(bPlain) != got10("decorated"),
      "decorated pin indistinguishable from undecorated run")
    // bm25 backend genuinely engaged: the same recipes with the Default
    // backend yield a different sequence (the scored top-3 rotation must
    // diverge from the rank pick somewhere in 80 draws)
    val bmCfg = goldenMatrix.collect { case ("bm25", r, _, _) => r }.head
    val (bDef, _, _) = runGolden(batch = 8, nBatches = 10, parts = 1,
      recipes = bmCfg.map(_.copy(negativeBackend = graft.operators.NegativeBackend.Default)),
      seed = "gm:bm25", cols = goldenCols :+ "reason")
    assert(seqDigest(bDef) != got10("bm25"),
      "bm25 pin indistinguishable from the default backend")
  }

  test("persisted pool-rank index: parquet-backed batches == in-memory staged batches") {
    // the PoolRankIndex contract (the Bm25PoolIndex sibling): a sidecar
    // built once per pool refresh and round-tripped through parquet must
    // deliver bit-identical sequences to the same derivation staged in
    // memory (PoolRankIndex.stage) — across the dated mixed-strategy config
    // (all three strategies, date tiers, the singleton-source fallback)
    // and the default config
    for ((cname, recipes, dated, dec) <- goldenMatrix.filter(c =>
        c._1 == "default" || c._1 == "mixed_strategy")) {
      val (bStaged, cStaged, _) = runGolden(batch = 8, nBatches = 6, parts = 4,
        recipes = recipes, seed = s"rix:$cname", dated = dated,
        cols = goldenCols :+ "reason", decoration = dec)
      val (bPersisted, cPersisted, _) = runGolden(batch = 8, nBatches = 6, parts = 4,
        recipes = recipes, seed = s"rix:$cname", dated = dated,
        cols = goldenCols :+ "reason", decoration = dec, persistIndex = true)
      assert(seqDigest(bPersisted) == seqDigest(bStaged),
        s"$cname: parquet-backed sequence diverged")
      assert(cPersisted.map(_.toString).sorted == cStaged.map(_.toString).sorted,
        s"$cname: parquet-backed core stream diverged")
    }
  }

  test("sparse sections: a record lacking the targeted section skips that recipe only") {
    // the reference's source-within-a-source contract (README "Sparse
    // sections"): a recipe targeting Selector::Paragraph(2) skips records
    // without a third section FOR THAT RECIPE ONLY — the record keeps
    // serving every other recipe, the slot drops, and pad_with_reuse
    // keeps the batch exactly batch-sized.
    import spark.implicits._
    import graft.operators.{NegativeStrategy, Selector, TripletRecipe}
    val chunks = (1 to 12).flatMap { i =>
      val base = Seq(
        (i.toLong, 0, "anchor", "window", 0L, 0, s"a$i title"),
        (i.toLong, 1, "context", "window", 0L, 0, s"c$i body one"),
        (i.toLong, 1, "context", "window", 1L, 0, s"c$i body two"))
      // only EVEN records carry the optional third section (transcript)
      val sparse = if (i % 2 == 0)
        Seq((i.toLong, 2, "extra", "window", 0L, 0, s"t$i transcript")) else Nil
      base ++ sparse
    }.toDF("record_id", "section_idx", "role", "view_kind",
      "window_index", "overlap", "wtext").repartition(4).cache()
    val pool = (1 to 12).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "source")
      .repartition(4).cache()
    val recipes = Seq(
      TripletRecipe("dense_cross_view", Selector.RoleAnchor, Selector.RoleContext,
        NegativeStrategy.WrongArticle, weight = 0.5f),
      TripletRecipe("sparse_transcript", Selector.RoleAnchor, Selector.Paragraph(2),
        NegativeStrategy.WrongArticle, weight = 0.5f))
    val (ranks, stats) = PoolRankIndex.stage(pool)
    var st = SamplerState("sparse", 0L, Map.empty)
    val rows = (0 until 4).flatMap { _ =>
      val out = Sampler.nextBatch(spark, chunks, pool, recipes, st, 8,
        rankIndex = Some(ranks), srcStats = Some(stats))
      val got = out.rows.select("recipe", "record_id").collect()
      assert(got.length == 8, "pad_with_reuse must keep the batch exact")
      st = out.state
      got.map(r => r.getString(0) -> r.getLong(1))
    }
    val sparseRecs = rows.collect { case ("sparse_transcript", id) => id }
    val denseRecs = rows.collect { case ("dense_cross_view", id) => id }
    assert(sparseRecs.nonEmpty && sparseRecs.forall(_ % 2 == 0),
      s"sparse recipe delivered a record without section 2: $sparseRecs")
    assert(denseRecs.exists(_ % 2 == 1),
      "records without the optional section must keep serving the dense recipe")
    chunks.unpersist(); pool.unpersist()
  }

  test("triplet diversity: 30 batches never collapse onto a few negatives (two seeds)") {
    assume(soakTests, "set GRAFT_SOAK_TESTS=1 to run the 2x30-batch diversity soak")
    // the reference's no-collapse contract (tests/triplet_diversity.rs:
    // 78-170): over 30 batches x 8 slots, anchors cover the pool broadly
    // and NO single record dominates the negative picks (max share <=
    // 0.15). Anchor coverage is structural here (cycle-before-repeat
    // serves every record each epoch); the negative-share bound is a
    // genuine statistical property of the rank-pick hash stream that a
    // biased pick (e.g. a modulo hot-spot) would break.
    import spark.implicits._
    val docs = (1 to 120).map(i =>
      (i.toLong, (s"head$i topic$i overview" +: (1 to 30).map(j => s"w${i}_$j")).mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = graft.queries.RecipeQueries.chunkTable(docs).cache()
    val pool = (1 to 120).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "source").cache()
    val recipes = Seq(graft.operators.TripletRecipe(
      "diversity_triplet", graft.operators.Selector.RoleAnchor,
      graft.operators.Selector.RoleContext,
      graft.operators.NegativeStrategy.WrongArticle, weight = 1.0f))
    val (ranks, stats) = PoolRankIndex.stage(pool)
    Seq("div:a", "div:b").foreach { seed =>
      var st = SamplerState(seed, 0L, Map.empty)
      val anchors = scala.collection.mutable.ArrayBuffer[Long]()
      val negatives = scala.collection.mutable.ArrayBuffer[Long]()
      (0 until 30).foreach { _ =>
        val out = Sampler.nextBatch(spark, chunks, pool, recipes, st, 8,
          rankIndex = Some(ranks), srcStats = Some(stats))
        val rows = out.rows.select("record_id", "nid").collect()
        anchors ++= rows.map(_.getLong(0)); negatives ++= rows.map(_.getLong(1))
        st = out.state
      }
      val total = negatives.size
      assert(anchors.distinct.size >= 120, s"$seed: anchors collapsed")
      assert(negatives.distinct.size >= 24,
        s"$seed: only ${negatives.distinct.size} unique negatives")
      val maxShare = negatives.groupBy(identity).values.map(_.size).max.toDouble / total
      assert(maxShare <= 0.15,
        s"$seed: max negative share $maxShare over $total triplets")
    }
    chunks.unpersist(); pool.unpersist()
  }

  test("persisted Bm25PoolIndex: parquet-backed batches == in-memory fromPool batches") {
    // the index staged in memory (Bm25PoolIndex.fromPool) and the same
    // index saved to parquet and loaded back must deliver the same
    // sequence — tf/df/stats and the staged wterm table survive the
    // round-trip bit-exactly — and both equal the golden bm25 pin
    val bmCfg = goldenMatrix.collect { case ("bm25", r, _, _) => r }.head
    val (staged, _, _) = runGolden(batch = 8, nBatches = 10, parts = 4,
      recipes = bmCfg, seed = "gm:bm25", cols = goldenCols :+ "reason")
    val (persisted, _, _) = runGolden(batch = 8, nBatches = 10, parts = 4,
      recipes = bmCfg, seed = "gm:bm25", cols = goldenCols :+ "reason",
      persistIndex = true)
    assert(seqDigest(staged) == MatrixPins10("bm25"), "in-memory bm25 index drifted from the pin")
    assert(seqDigest(persisted) == seqDigest(staged),
      "persisted bm25 pool index diverged after the parquet round-trip")
  }

  /** Re-pin ONLY for an intentional semantic change. */
  private val EntryMixPins = Seq(
    "74932834cf681d7208e4dc87130bace6",   // triplet batch
    "9114e33c32a8556e7d142d02d17accfa",   // pair batch
    "ccf702edddf3eb61fdb945d3f0c88f4c")   // text batch

  test("composed entry points share counters: triplet→pair→text pinned and resume-safe") {
    import graft.operators.Sampler
    val (chunks0, pool0) = goldenCorpus()
    val chunks = chunks0.repartition(4).cache()
    val pool = pool0.repartition(4).cache()
    val pairCols = Seq("slot", "pair_id", "recipe", "record_id", "nid",
      "label", "l_hash", "r_hash", "reason")
    val textCols = Seq("slot", "draw", "recipe", "record_id", "chunk_record",
      "t_sidx", "t_widx", "t_hash")
    val (ranks, stats) = PoolRankIndex.stage(pool)
    def pairs(st: SamplerState) = Sampler.nextPairBatch(spark, chunks, pool, goldenRecipes,
      st, 8, rankIndex = Some(ranks), srcStats = Some(stats))
    def texts(st: SamplerState) = Sampler.nextTextBatch(spark, chunks, pool,
      Recipes.derivedTextRecipes(goldenRecipes), st, 8,
      rankIndex = Some(ranks), srcStats = Some(stats))
    def run(st0: SamplerState) = {
      // one evolving state drives all three entry points — the reference
      // advances the same source cursors from every batch type
      val t = Sampler.nextBatch(spark, chunks, pool, goldenRecipes, st0, 8,
        rankIndex = Some(ranks), srcStats = Some(stats))
      val p = pairs(t.state)
      val x = texts(p.state)
      val ds = Seq(
        seqDigest(Seq(t.rows.select(goldenCols.head, goldenCols.tail: _*).collect())),
        seqDigest(Seq(p.rows.select(pairCols.head, pairCols.tail: _*).collect())),
        seqDigest(Seq(x.rows.select(textCols.head, textCols.tail: _*).collect())))
      (ds, t.state, x.state)
    }
    val (ds, afterTriplet, end) = run(SamplerState("emix", 0L, Map.empty))
    // 8 triplet + 4 pair-backing + 8 text draws share one cursor stream
    assert(end.counter("draw") == 20L && end.counter("cursor") == 20L && end.epoch == 0L)
    assert(ds == EntryMixPins, s"entry-mix drift: $ds")
    // resume: the pair+text tail re-run THROUGH a persisted state copy
    // reproduces the same batches
    val dir = java.nio.file.Files.createTempDirectory("graft_emix").toString
    SamplerState.save(afterTriplet, s"$dir/emix.json")
    val st1 = SamplerState.load(s"$dir/emix.json").get
    val p2 = pairs(st1)
    val x2 = texts(p2.state)
    assert(seqDigest(Seq(p2.rows.select(pairCols.head, pairCols.tail: _*).collect())) == ds(1)
      && seqDigest(Seq(x2.rows.select(textCols.head, textCols.tail: _*).collect())) == ds(2),
      "resume through persisted state broke the pair/text tail")
    chunks.unpersist(); pool.unpersist()
  }

  test("swap rate is ~50% and weights appear in both swap branches") {
    val docs = Tables.load(spark, sfDir, "documents")
    val t = Triplets.triplets(docs, TripletConfig())
      .select(col("swapped"), col("weight_e6")).collect()
    val rate = t.count(_.getBoolean(0)).toDouble / t.length
    assert(rate > 0.40 && rate < 0.60, s"swap rate $rate")
    // the weight formula never references the swap flag
    val swappedW = t.filter(_.getBoolean(0)).map(_.getLong(1)).toSet
    val unswappedW = t.filterNot(_.getBoolean(0)).map(_.getLong(1)).toSet
    assert((swappedW intersect unswappedW).nonEmpty)
  }

  test("negative is never the anchor record and never crosses splits") {
    val docs = Tables.load(spark, sfDir, "documents")
    val t = Triplets.triplets(docs, TripletConfig())
    assert(t.filter(col("aid") === col("nid")).count() == 0)
    // split isolation is structural: negative side carried nsplit == split
    assert(t.filter(col("split") =!= col("nsplit")).count() == 0)
  }

  test("auto-pair stages: anchor and positive always distinct, single-window records excluded") {
    val docs = Tables.load(spark, sfDir, "documents")
    val ctx = graft.queries.RecipeQueries.contextChunks(docs)
    val pairs = Recipes.selectDistinctWindowPairs(ctx, nDraws = 3, seed = "t")
    assert(pairs.filter(col("a_widx") === col("p_widx")).count() == 0)
    // Stage B: every selected record exposes >= 2 context windows
    val multi = ctx.groupBy(col("record_id")).count().filter(col("count") >= 2)
      .select(col("record_id")).collect().map(_.getLong(0)).toSet
    assert(pairs.select(col("record_id")).distinct()
      .collect().map(_.getLong(0)).toSet.subsetOf(multi))
  }

  test("epoch reshuffle: ticket order changes across epochs, tickets stable") {
    import graft.operators.{NegativeStrategy, Selector, TripletRecipe}
    val recipes = Seq("r1", "r2", "r3", "r4").map(n =>
      TripletRecipe(n, Selector.RoleAnchor, Selector.RoleContext,
        NegativeStrategy.WrongArticle, 1f))
    val orders = (0L until 6L).map(e => Recipes.ticketOrder(recipes, "seed", e))
    assert(orders.forall(_.toSet == orders.head.toSet)) // same tickets
    assert(orders.distinct.size > 1)                    // reshuffled
    assert(Recipes.ticketOrder(recipes, "seed", 0L) == orders.head) // stable
  }

  test("end-to-end: CSV source records flow into the triplet sampler") {
    import graft.sources.{CsvSource, CsvSourceConfig}
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e")
    val csv = dir.resolve("qa.csv")
    val rows = (0 until 40).map(i =>
      s"q$i what is topic$i about really,answer body for topic$i " +
        (0 until 20).map(j => s"w${i}_$j").mkString(" "))
    java.nio.file.Files.writeString(csv, "question,answer\n" + rows.mkString("\n"))
    val records = CsvSource.read(spark,
      CsvSourceConfig("e2e", csv.toString, anchorColumn = Some("question"),
        positiveColumn = Some("answer")))
    val trips = Triplets.recordTriplets(records, TripletConfig())
    val out = trips.collect()
    assert(out.nonEmpty)
    // deterministic across runs and partitionings
    val out2 = Triplets.recordTriplets(records.repartition(5), TripletConfig()).collect()
    assert(out.map(_.toSeq).toSet == out2.map(_.toSeq).toSet)
    // ids are the CSV stable ids
    assert(out.forall(_.getString(0).startsWith("e2e::row_")))
  }

  test("end-to-end: JSONL source records flow into the triplet sampler") {
    import graft.sources.{JsonlSource, JsonlSourceConfig}
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e_jsonl")
    val f = dir.resolve("qa.jsonl")
    val rows = (0 until 40).map(i =>
      s"""{"q": "q$i what is topic$i about really", "a": "answer body for topic$i """ +
        (0 until 20).map(j => s"w${i}_$j").mkString(" ") + "\"}")
    java.nio.file.Files.writeString(f, rows.mkString("\n"))
    val records = JsonlSource.read(spark, JsonlSourceConfig("je2e", f.toString,
      anchorField = Some("q"), contextField = Some("a")))
    val out = Triplets.recordTriplets(records, TripletConfig()).collect()
    assert(out.nonEmpty)
    val out2 = Triplets.recordTriplets(records.repartition(5), TripletConfig()).collect()
    assert(out.map(_.toSeq).toSet == out2.map(_.toSeq).toSet)
    assert(out.forall(_.getString(0).startsWith("je2e::qa::line_")))
  }

  test("seed sensitivity: same seed reproduces, different seed reshuffles") {
    val docs = Tables.load(spark, sfDir, "documents")
    def run(seed: String) = Triplets.tripletRows(docs, TripletConfig(seed = seed))
      .collect().map(_.toSeq).toSet
    val a = run("42")
    assert(a == run("42"))
    val b = run("43")
    assert(a != b)
    // seed 43 is a full reshuffle, not a perturbation: most triplets differ
    val overlap = a.intersect(b).size.toDouble / a.size
    assert(overlap < 0.5, s"suspiciously high overlap across seeds: $overlap")
  }

  test("swap patterns diverge across seeds even at identical splits") {
    // the reference pins that the anchor/positive swap derives from the
    // sampler SEED, not just the record (tests/anchor_positive_swap.rs:
    // 229-248 different_seeds_produce_different_swap_patterns). With
    // all-train ratios the split assignment is seed-independent, so any
    // divergence below comes from the seed-scoped roll streams alone.
    val docs = Tables.load(spark, sfDir, "documents")
    val allTrain = graft.core.SplitRatios(1.0, 0.0, 0.0)
    def swaps(seed: String) = Triplets
      .tripletRows(docs, TripletConfig(seed = seed, ratios = allTrain))
      .select(col("aid"), col("swapped")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val a = swaps("42"); val b = swaps("43")
    assert(a == swaps("42"), "same seed must reproduce the swap pattern")
    val common = a.keySet intersect b.keySet
    assert(common.nonEmpty && common.exists(k => a(k) != b(k)),
      "different seeds produced identical swap patterns")
  }

  test("instruction tuning: recipe instruction copied verbatim onto samples") {
    val docs = Tables.load(spark, sfDir, "documents")
    val cfg = TripletConfig(instruction = Some("Find the matching passage."))
    val t = Triplets.tripletRows(docs, cfg)
    assert(t.columns.contains("instruction"))
    assert(t.select("instruction").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("Find the matching passage."))
    // absent by default
    assert(!Triplets.tripletRows(docs, TripletConfig()).columns.contains("instruction"))
  }

  test("observe(): ingest telemetry rides the scan (refresh-stats analogue)") {
    // reference emits per-source refresh rows/ms (src/ingestion.rs:204-217);
    // the Spark-native form is observe() — metrics computed by the running
    // job itself, no second pass over the source
    val docs = Tables.load(spark, sfDir, "documents")
      .observe("ingest", count(lit(1)).as("rows"),
        sum(length(col("text"))).as("chars"))
    // collect() drives THIS dataset's own QueryExecution (count() would
    // plan a separate execution and leave these metrics empty)
    val n = docs.collect().length
    val metrics = docs.queryExecution.observedMetrics
    assert(metrics.contains("ingest"))
    assert(metrics("ingest").getAs[Long]("rows") == n.toLong)
  }

  test("bm25 negative backend: empty intersection falls back to the random rank-pick") {
    import spark.implicits._
    val cfg = TripletConfig()
    // 12 docs in one source with mutually disjoint vocabularies: no
    // anchor's query tokens appear in any candidate, so every triplet must
    // take the random_fallback lane (reference contract:
    // bm25_backend.rs:131-172 — None from the index → random negative)
    val disjoint = (0 until 12).map { i =>
      (i.toLong, "srcA", (0 until 20).map(j => s"w${i}_$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val fb = Triplets.tripletRowsBm25(disjoint, cfg, "bm25_wrong_article")
    assert(fb.count() > 0)
    assert(fb.select("lane").distinct().collect().map(_.getString(0)).toSet
      == Set("random_fallback"))
    // shared vocabulary: every anchor scores its pool, the bm25 lane fires
    val shared = (0 until 12).map { i =>
      (i.toLong, "srcA", ((0 until 20).map(j => s"common${j % 5}") :+ s"rare$i").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val bm = Triplets.tripletRowsBm25(shared, cfg, "bm25_wrong_article")
    assert(bm.count() > 0)
    assert(bm.select("lane").distinct().collect().map(_.getString(0)).toSet
      == Set("bm25"))
  }
}
