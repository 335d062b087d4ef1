package graft

import graft.operators.{Bm25PoolIndex, PoolRankIndex, Recipes, Sampler, SamplerState}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The composed-sampler golden harness (reference: src/sampler/tests.rs:
  * 17-50 45-batch FNV pins, tests/invariants.rs:207-867), shared between
  * [[InvariantsSpec]] (local[4] — the per-round gate) and
  * [[ClusterGoldenSpec]] (local-cluster[2,8,4096] — real executor
  * boundaries: separate JVMs, serialized closures, network-shipped
  * broadcasts and shuffle files). The pins are MASTER-INVARIANT by the
  * stateless-draw law, so the same digests gate both. */
trait GoldenHarness {

  protected def spark: SparkSession

  /** 25 records over 3 regular sources PLUS a singleton source (record 25
    * is the only `s9` record), so every configuration's pin contains the
    * cross-split fallback lane (`_fallback_same_split`-suffixed recipe)
    * whenever a negative strategy lands on it; context sections wide
    * enough for several windows so selector picks have real freedom.
    * `dated` adds the `date`
    * column WrongPublicationDate recipes need (4 date groups per source);
    * `timed` adds the `sec`/`tax` columns TemporalOffset recipes need
    * (seeded timestamps + 3 taxonomy keys crossing the sources, so both
    * arms of the reference's source-or-key disjunction fire); `lexical`
    * adds the `btoks` full-document-token column BM25-backend recipes
    * need (the reference's BM25 index covers record text; the shared
    * `overview` token gives every same-source pair a non-empty BM25
    * intersection, so the scored lane — not the fallback — is what the
    * pin captures). */
  protected def goldenCorpus(dated: Boolean = false, timed: Boolean = false,
      lexical: Boolean = false) = {
    val s = spark // stable identifier for the implicits import
    import s.implicits._
    val docs = (1 to 25).map(i =>
      (i.toLong, (s"head$i topic$i overview" +: (1 to 60).map(j => s"w${i}_$j")).mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = graft.queries.RecipeQueries.chunkTable(docs)
    val pool0 = (1 to 25).map(i => (i.toLong, if (i == 25) "s9" else s"s${i % 3}"))
      .toDF("id", "source")
    val pool1 = if (dated) pool0.withColumn("date",
      concat(lit("2025-03-0"), (pmod(col("id"), lit(4)) + 1).cast("string"))) else pool0
    val pool2 = if (timed) pool1
      .withColumn("sec",
        lit(1700000000L) + pmod(graft.core.Determinism.seeded("gsec", col("id")), lit(40)) * 43200L)
      .withColumn("tax", concat(lit("t"), pmod(col("id"), lit(3)).cast("string")))
    else pool1
    val pool = if (lexical) pool2.join(
      docs.select(col("doc_id").as("id"),
        graft.functions.TextFunctions.tokens(col("text")).as("btoks")), "id")
    else pool2
    (chunks, pool)
  }

  protected lazy val goldenRecipes =
    Recipes.resolve(Nil, Recipes.csvDefaults(roleMode = true))

  /** Order-preserving digest of the delivered sequence: batches in order,
    * rows by slot within each batch. */
  protected def seqDigest(batches: Seq[Array[org.apache.spark.sql.Row]]): String = {
    val lines = batches.zipWithIndex.flatMap { case (rows, b) =>
      rows.sortBy(_.getAs[Long]("slot")).map(r => s"$b|${r.toSeq.mkString("|")}")
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** One golden pin guards the whole composed pipeline: recipe rotation ×
    * interleave × mid-batch epoch wrap × dedup × pad. Re-pin ONLY for an
    * intentional semantic change. */
  protected val GoldenSeqHash = "302ffe9c63735e67ad028c7b4a106f9a"

  protected val goldenCols = Seq("slot", "draw", "recipe", "record_id",
    "a_widx", "a_hash", "p_widx", "p_hash", "nid", "n_hash")

  protected def runGolden(batch: Int, nBatches: Int, parts: Int,
      resumeAt: Option[Int] = None, stateDir: Option[String] = None,
      recipes: Seq[graft.operators.TripletRecipe] = goldenRecipes,
      seed: String = "gseq", dated: Boolean = false,
      cols: Seq[String] = goldenCols,
      decoration: Option[(graft.functions.KvpPrefixSampler, Int)] = None,
      persistIndex: Boolean = false) = {
    val days = recipes.flatMap(r => Seq(r.anchor, r.positive, r.negativeSelector))
      .flatMap(Sampler.temporalDays).distinct
    val lexical = recipes.exists(
      _.negativeBackend == graft.operators.NegativeBackend.Bm25)
    val (chunks0, pool0) = goldenCorpus(dated, days.nonEmpty, lexical)
    val chunks = chunks0.repartition(parts).cache()
    val pool = pool0.repartition(parts).cache()
    // every index the recipes need is staged ONCE per pool and reused by
    // every nextBatch call: in memory, or (persistIndex) round-tripped
    // through parquet like a long-lived deployment
    def ixDir(tag: String) =
      java.nio.file.Files.createTempDirectory(tag).toString + "/ix"
    val (rankIdx, stats) =
      if (!persistIndex) PoolRankIndex.stage(pool)
      else {
        val dir = ixDir("graft_rankix")
        PoolRankIndex.save(PoolRankIndex.build(pool), dir)
        (PoolRankIndex.load(spark, dir), PoolRankIndex.loadSrcStats(dir))
      }
    val bm25Idx = if (!lexical) None else Some {
      val ix = Bm25PoolIndex.fromPool(pool)
      if (!persistIndex) Bm25PoolIndex(ix.postings, ix.srcStats, ix.wterm.localCheckpoint())
      else {
        val dir = ixDir("graft_poolix")
        Bm25PoolIndex.save(ix, dir)
        Bm25PoolIndex.load(spark, dir)
      }
    }
    val neighbors = days.map { d =>
      val nb = Sampler.temporalNeighborsFull(pool, d)
      d -> (if (!persistIndex) nb.localCheckpoint() else {
        val dir = ixDir("graft_nbrix")
        nb.write.parquet(dir)
        spark.read.parquet(dir)
      })
    }.toMap
    var st = SamplerState(seed, 0L, Map.empty)
    val batches = Seq.newBuilder[Array[org.apache.spark.sql.Row]]
    val core = Seq.newBuilder[Seq[Any]]
    (0 until nBatches).foreach { b =>
      // mid-sequence persistence: save + reload THROUGH the json file
      if (resumeAt.contains(b)) {
        val p = s"${stateDir.get}/golden.json"
        SamplerState.save(st, p)
        st = SamplerState.load(p).get
      }
      val out = Sampler.nextBatch(spark, chunks, pool, recipes, st, batch,
        decoration, bm25Idx, Some(rankIdx), Some(stats), neighbors)
      batches += out.rows.select(cols.head, cols.tail: _*).collect()
      core ++= out.core.collect().map(_.toSeq)
      st = out.state
    }
    chunks.unpersist(); pool.unpersist()
    (batches.result(), core.result(), st)
  }

  // ---- golden matrix: one pin per feature-flag configuration (reference:
  // src/sampler/tests.rs:17-50 pins one FNV sequence per flag) ----

  /** Decoration config for the matrix's decorated lane: 50% dropout, two
    * variants, presence-1 fields (the column twin's domain). */
  protected val goldenDecoration = Some((graft.functions.KvpPrefixSampler(0.5f, Seq(
    Seq(graft.functions.KvpField("site", Seq("alpha", "beta")),
      graft.functions.KvpField("lang", Seq("en"))),
    Seq(graft.functions.KvpField("year", Seq("2024", "2025"))))), 24))

  /** Feature-flag matrix: (config, recipes, dated pool, decoration). 10
    * batches × 8 slots = 80 draws over the 25-record pool, so the epoch
    * wraps three times INSIDE the pinned window; digests include the
    * per-slot `reason` tag so strategy dispatch is part of the pin. */
  protected def goldenMatrix = {
    import graft.operators.{NegativeStrategy, Selector, TripletRecipe}
    Seq(
      // the default CSV role-mode lanes (WrongArticle only)
      ("default", goldenRecipes, false, None),
      // all three negative strategies in one ticket plan
      ("mixed_strategy", Seq(
        TripletRecipe("gm_wrong_article", Selector.RoleAnchor, Selector.RoleContext,
          NegativeStrategy.WrongArticle, weight = 0.5f),
        TripletRecipe("gm_wrong_date", Selector.RoleAnchor, Selector.RoleContext,
          NegativeStrategy.WrongPublicationDate, weight = 0.3f),
        TripletRecipe("gm_qa_mismatch", Selector.Paragraph(1), Selector.Random,
          NegativeStrategy.QuestionAnswerMismatch, weight = 0.2f,
          negativeSelector = Selector.RoleAnchor)), true, None),
      // skewed weights (3:1 ticket plan) + non-default negative selector
      ("weighted", Seq(
        TripletRecipe("gw_ctx", Selector.RoleAnchor, Selector.RoleContext,
          NegativeStrategy.WrongArticle, weight = 3f),
        TripletRecipe("gw_rand", Selector.RoleAnchor, Selector.Random,
          NegativeStrategy.WrongArticle, weight = 1f,
          negativeSelector = Selector.Random)), false, None),
      // KVP chunk decoration in the batch loop (prefix + token budget
      // fold into every slot hash; rejection compares decorated texts)
      ("decorated", goldenRecipes, false, goldenDecoration),
      // TemporalOffset anchor in the composed loop: the anchor chunk comes
      // from the as-of NEIGHBOR record (same source or leading taxonomy)
      ("temporal", Seq(
        TripletRecipe("gt_asof", Selector.TemporalOffset(2), Selector.RoleContext,
          NegativeStrategy.WrongArticle, weight = 0.5f),
        TripletRecipe("gt_plain", Selector.RoleAnchor, Selector.RoleContext,
          NegativeStrategy.WrongArticle, weight = 0.5f)), false, None),
      // BM25 negative backend in the composed loop: scored top-3 rotation
      // for gb_hard slots, the default rank pick for gb_plain
      ("bm25", Seq(
        TripletRecipe("gb_hard", Selector.RoleAnchor, Selector.RoleContext,
          NegativeStrategy.WrongArticle, weight = 0.5f,
          negativeBackend = graft.operators.NegativeBackend.Bm25),
        TripletRecipe("gb_plain", Selector.RoleAnchor, Selector.RoleContext,
          NegativeStrategy.WrongArticle, weight = 0.5f)), false, None))
  }

  /** Re-pin ONLY for an intentional semantic change. Each pin covers the
    * REFERENCE-length 45-batch sequence (src/sampler/tests.rs:17-50 pins
    * 45 batches per flag): 360 draws over the 25-record pool — the epoch
    * wraps 14 times inside every pinned window, and the singleton source
    * puts the cross-split fallback lane inside every pin. */
  /** 10-batch twins of [[MatrixPins]] for the per-round default gate
    * (generated at 1 partition; InvariantsSpec replays them at 13
    * partitions, so pin equality carries the partition-invariance law).
    * Re-pin ONLY together with [[MatrixPins]] for an intentional
    * semantic change. */
  protected val MatrixPins10 = Map(
    "default" -> "d111cfedc574f745f6be8847836ecfae",
    "mixed_strategy" -> "9b16d694137d384a318ee7f75b4bc531",
    "weighted" -> "ead948460c43225f48d9c0ee86b5c4b3",
    "decorated" -> "ab31b0f9a8a3cb609626f4f7298b078a",
    "temporal" -> "c4976c737a4c34a257f0cb03727e4bac",
    "bm25" -> "4c3c52c4f683c8e142332707952b3f53")

  protected val MatrixPins = Map(
    "default" -> "dff8181ef62deae98e62749d05123ce5",
    "mixed_strategy" -> "d56d294203aa1ec064d9693fb357f43d",
    "weighted" -> "aba410c200ee689f790fec8191768555",
    "decorated" -> "27dc98c9fb087d4264fea5ab5b8c6ec3",
    "temporal" -> "533eb142f9757fd6bc275978780ca5fd",
    "bm25" -> "7b9b847a03cf58786cbe4ee6c963a741")
}
