package graft

import graft.core.{Splits, Tables}
import graft.operators.{PoolRankIndex, Recipes, Sampler, SamplerState}
import graft.queries.RecipeQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runnable end-user demos — the twin of the reference's example apps
  * (reference: src/example_apps.rs — `run_multi_source_demo`
  * :554-1100, `run_estimate_capacity` :222-549): wire the multi-source
  * corpus through the composed sampler, draw batches, persist/resume the
  * sampler state across invocations, or print the metadata-only capacity
  * report.
  *
  * ```
  * sbt "runMain graft.Demo --mode triplet --batches 3 --state /tmp/demo_state.json"
  * sbt "runMain graft.Demo --mode pair"        # pair batches
  * sbt "runMain graft.Demo --mode text"        # text batches
  * sbt "runMain graft.Demo --mode capacity"    # estimate_capacity twin
  * sbt "runMain graft.Demo --mode curate"      # q111 curation funnel report
  * sbt "runMain graft.Demo --mode stats"       # sketch-backed corpus stats
  * sbt "runMain graft.Demo --mode tokenize"    # tokenizer trio side by side
  * sbt "runMain graft.Demo --mode ann"         # vector index fit/encode/search + recall
  * sbt "runMain graft.Demo --mode intake"      # streaming corpus intake + dedup funnel
  * sbt "runMain graft.Demo --mode crawl"       # WARC -> URL -> cap -> gate -> dedup funnel
  * sbt "runMain graft.Demo --reset ..."        # drop persisted state first
  * ```
  *
  * Flags: `--sf-dir` (default /root/testdata/sf0.001), `--batch N` (12),
  * `--batches K` (2), `--seed S` ("demo"), `--split train|validation|test`
  * (capacity table only — the sampler pool itself is the train split,
  * mirroring the demo CLI's `allowed_splits`), `--state PATH`, `--reset`.
  */
object Demo {

  case class DemoConfig(
      sfDir: String = "/root/testdata/sf0.001",
      mode: String = "triplet",
      batch: Int = 12,
      batches: Int = 2,
      seed: String = "demo",
      statePath: Option[String] = None,
      reset: Boolean = false)

  def parseArgs(args: Array[String]): DemoConfig = {
    def loop(cfg: DemoConfig, rest: List[String]): DemoConfig = rest match {
      case "--sf-dir" :: v :: t => loop(cfg.copy(sfDir = v), t)
      case "--mode" :: v :: t => loop(cfg.copy(mode = v), t)
      case "--batch" :: v :: t => loop(cfg.copy(batch = v.toInt), t)
      case "--batches" :: v :: t => loop(cfg.copy(batches = v.toInt), t)
      case "--seed" :: v :: t => loop(cfg.copy(seed = v), t)
      case "--state" :: v :: t => loop(cfg.copy(statePath = Some(v)), t)
      case "--reset" :: t => loop(cfg.copy(reset = true), t)
      case Nil => cfg
      case other :: _ => sys.error(s"unknown flag: $other")
    }
    loop(DemoConfig(), args.toList)
  }

  /** Reference format_u128_with_commas (example_apps uses it for the
    * capacity table; heuristics.rs:64-75). */
  def withCommas(v: Long): String =
    v.toString.reverse.grouped(3).mkString(",").reverse

  /** Reference format_replay_factor (heuristics.rs:77-84): how often a
    * shorter source replays relative to the longest. */
  def replayFactor(longest: Long, n: Long): String =
    if (longest == 0 || n == 0) "n/a" else f"${longest.toDouble / n}%.2fx"

  /** The demo's sampler inputs: the multi-source documents corpus staged
    * as (chunks, train-split pool) exactly like the composed-batch lanes. */
  def stagePool(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val docs = Tables.load(spark, sfDir, "documents")
    val chunks = RecipeQueries.chunkTable(docs)
    val pool = docs
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= RecipeQueries.MinToks)
      .filter(Splits.splitCol(col("doc_id"), "demo_split") === "train")
      .select(col("doc_id").as("id"), col("source"))
    (chunks, pool)
  }

  /** Draw `batches` batches of the requested kind, printing a compact
    * per-slot line, and return the end state (persisted by main). The
    * pool's rank index is staged once, in memory, and serves every batch
    * (its (id, source) columns are the pool). */
  def run(spark: SparkSession, cfg: DemoConfig, st0: SamplerState): SamplerState = {
    val (chunks, pool0) = stagePool(spark, cfg.sfDir)
    val (ranks, stats) = PoolRankIndex.stage(pool0)
    val pool = ranks.select(col("id"), col("source"))
    val recipes = Recipes.resolve(Nil, Seq(
      operators.TripletRecipe("demo_ctx", operators.Selector.RoleAnchor,
        operators.Selector.RoleContext, operators.NegativeStrategy.WrongArticle, 2f),
      operators.TripletRecipe("demo_rand", operators.Selector.RoleAnchor,
        operators.Selector.Random, operators.NegativeStrategy.QuestionAnswerMismatch, 1f)))
    var st = st0
    for (b <- 1 to cfg.batches) {
      val out = cfg.mode match {
        case "triplet" => Sampler.nextBatch(spark, chunks, pool, recipes, st, cfg.batch,
          rankIndex = Some(ranks), srcStats = Some(stats))
        case "pair" => Sampler.nextPairBatch(spark, chunks, pool, recipes, st, cfg.batch,
          rankIndex = Some(ranks), srcStats = Some(stats))
        case "text" => Sampler.nextTextBatch(spark, chunks, pool,
          Recipes.derivedTextRecipes(recipes), st, cfg.batch,
          rankIndex = Some(ranks), srcStats = Some(stats))
        case m => sys.error(s"unknown mode: $m")
      }
      val rows = out.rows.collect()
      println(s"-- ${cfg.mode} batch $b (epoch ${out.state.epoch}, " +
        s"draws ${out.state.counter("draw")}, ${rows.length} rows) --")
      rows.sortBy(_.getAs[Long]("slot")).take(6).foreach { r =>
        val cols = r.schema.fieldNames.take(7)
        println("  " + cols.map(c => s"$c=${r.getAs[Any](c)}").mkString(" "))
      }
      if (rows.length > 6) println(s"  … ${rows.length - 6} more")
      st = out.state
    }
    st
  }

  /** Metadata-only capacity report — the estimate_capacity app: counts
    * per (source, split) with raw-pair and effective capacities plus the
    * replay factor against the largest source (never reads record text
    * beyond the one aggregate). */
  def capacityReport(spark: SparkSession, cfg: DemoConfig): Seq[String] = {
    val rows = Tables.load(spark, cfg.sfDir, "documents")
      .select(col("source"), Splits.splitCol(col("doc_id"), "demo_split").as("split"))
      .groupBy("source", "split").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val longest = rows.groupBy(_._1).map(_._2.map(_._3).sum).maxOption.getOrElse(0L)
    val header = f"${"source"}%-12s ${"split"}%-11s ${"records"}%12s ${"raw_pairs"}%16s ${"effective"}%14s replay"
    header +: rows.map { case (src, split, n) =>
      val srcTotal = rows.filter(_._1 == src).map(_._3).sum
      f"$src%-12s $split%-11s ${withCommas(n)}%12s ${withCommas(n * (n - 1))}%16s " +
        f"${withCommas(n * 4)}%14s ${replayFactor(longest, srcTotal)}"
    }
  }

  /** The q111 pipeline as a user-facing report: per-source funnel with a
    * corpus-total footer — "what survives each curation stage and how
    * many training tokens come out the other end". */
  def curateReport(spark: SparkSession, cfg: DemoConfig): Seq[String] = {
    val rows = SparkEntry.queries("q111_pretraining_pipeline")(spark, cfg.sfDir)
      .collect().sortBy(_.getAs[String]("source"))
    val cols = Seq("n_docs", "n_quality", "n_lang", "n_dedup", "n_span",
      "n_decon", "n_lm", "n_selected", "tokens_selected")
    val header = f"${"source"}%-10s" + cols.map(c => f"${c.stripPrefix("n_")}%10s").mkString
    val body = rows.map { r =>
      f"${r.getAs[String]("source")}%-10s" +
        cols.map(c => f"${withCommas(r.getAs[Long](c))}%10s").mkString
    }
    val totals = cols.map(c => rows.map(_.getAs[Long](c)).sum)
    val footer = f"${"TOTAL"}%-10s" + totals.map(v => f"${withCommas(v)}%10s").mkString
    (header +: body.toSeq) :+ footer
  }

  /** Sketch-backed corpus stats — what a mixture designer reads before
    * setting source weights: per-source doc/token mass, HLL-estimated
    * distinct vocabulary (64 registers per source at any corpus size),
    * and the CMS-estimated counts of the corpus-wide top tokens. All
    * sketch arithmetic is the oracle-checked q113/q115 machinery. */
  def statsReport(spark: SparkSession, cfg: DemoConfig): Seq[String] = {
    import graft.operators.Sketches
    import graft.functions.TextFunctions
    // one tokenization pass feeds all four consumers (mass, HLL, CMS,
    // exact top tokens) — cache it for the report's lifetime
    val toksed = Tables.load(spark, cfg.sfDir, "documents")
      .select(col("source"), TextFunctions.tokens(col("text")).as("t"))
      .cache()
    try {
      val tokP = toksed.select(col("source").as("group"), explode(col("t")).as("elem"))
      val mass = toksed.groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(size(col("t"))).as("tokens"))
      // left join: a source whose docs all tokenize empty has no HLL row
      // but must still appear in the mixture-design view (vocab 0)
      val perSource = mass
        .join(Sketches.hllDistinct(tokP, "group", "elem")
          .withColumnRenamed("group", "source"), Seq("source"), "left")
        .select(col("source"), col("docs"), col("tokens"),
          coalesce(col("hll_est"), lit(0L)).as("hll_est"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val header = f"${"source"}%-12s ${"docs"}%10s ${"tokens"}%14s ${"~vocab(hll)"}%12s"
      val body = perSource.map { case (src, d, tk, v) =>
        f"$src%-12s ${withCommas(d)}%10s ${withCommas(tk)}%14s ${withCommas(v)}%12s"
      }
      val sketch = Sketches.cmsBuild(tokP.select(col("elem")), "elem")
      val top = tokP.groupBy(col("elem")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("elem")).limit(8)
      val est = top.join(Sketches.cmsEstimate(top.select(col("elem")), sketch, "elem"), "elem")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (-t._2, t._1))
      val topLines = "top tokens (exact vs cms-estimate):" +:
        est.toSeq.map { case (t, n, e) =>
          f"  $t%-16s ${withCommas(n)}%12s ${withCommas(e)}%12s" }
      (header +: body.toSeq) ++ topLines
    } finally toksed.unpersist()
  }

  /** `--mode ann`: the vector-index lifecycle end to end through the
    * MLlib facade — fit the residual IVF-PQ index, encode the corpus
    * (the persisted (cell, pq_codes) columns), run an ADC top-k search
    * for a few query vectors, and report recall@k against the exact
    * brute force so a user sees the nprobe/M accuracy dial. */
  def annReport(spark: SparkSession, cfg: DemoConfig): Seq[String] = {
    import graft.ml.{IvfPqIndexer, IvfPqModel}
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(spark, cfg.sfDir, "embeddings")
    val (k, nprobe, nQ) = (5, 2, 5L)
    val fitted = new IvfPqIndexer("vec_id", "embedding", 64, 8, 8, 8).fit(emb)
    // persist + reload — the full lifecycle: a trained index is reused
    // across sessions, never refit (FAISS write_index/read_index)
    val ixDir = java.nio.file.Files.createTempDirectory("graft_demo_ivfpq")
      .toString + "/index"
    fitted.save(spark, ixDir)
    val model = IvfPqModel.load(spark, ixDir)
    val encoded = model.transform(emb).cache()
    val nVec = encoded.count()
    val q = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val approx = model.search(encoded, q, "qid", "qemb", nprobe, k)
    val got = approx.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // exact truth for recall (same metric space: e3 squared L2)
    val withN = emb.withColumn("nrm", Similarity.normE3(col("embedding")))
    val qn = withN.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("nrm").as("qnrm"))
    val truth = withN.crossJoin(broadcast(qn)).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (col("qnrm") + col("nrm") - lit(2L) * Similarity.dotE3(col("qemb"), col("embedding")))
          .as("dist"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))).cast("long"))
      .filter(col("r") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    encoded.unpersist()
    val lines = got.toSeq.sortBy(_._1).map { case (qid, ids) =>
      val hits = ids.count(truth.getOrElse(qid, Set.empty).contains)
      f"  q$qid%-3d top-$k: ${ids.mkString(", ")}%-40s recall@$k = $hits/$k"
    }
    Seq(s"-- residual IVF-PQ over $nVec vectors (K=8 cells, M=8 x Ks=8 codes, " +
      s"nprobe=$nprobe; index persisted + reloaded before encode/search)") ++ lines
  }

  /** `--mode intake`: the continuous-corpus story end to end — stage the
    * sf documents as three arrival shards (with re-sent duplicates
    * planted in the later shards), stream them through
    * [[graft.streaming.CorpusStream.intake]], and report the per-batch
    * funnel plus the final store + BM25-index state a deployment would
    * hold. */
  def intakeReport(spark: SparkSession, cfg: DemoConfig): Seq[String] = {
    import graft.streaming.CorpusStream
    val docs = Tables.load(spark, cfg.sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_demo_intake").toString
    val srcDir = s"$root/arrivals"; val stateDir = s"$root/state"
    // three shards by doc_id band; shard 1 and 2 each re-send a slice of
    // shard 0 (the duplicate pressure a real feed has)
    val resend = docs.filter(pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") % 10 < 2)
    val shards = Seq(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0),
      docs.filter(pmod(col("doc_id"), lit(3)) === 1).unionByName(resend),
      docs.filter(pmod(col("doc_id"), lit(3)) === 2).unionByName(resend))
    new java.io.File(srcDir).mkdirs()
    shards.zipWithIndex.foreach { case (s, i) =>
      s.coalesce(1).write.mode("overwrite").parquet(s"$root/stage$i")
      val part = new java.io.File(s"$root/stage$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/shard$i.parquet"))
    }
    val sizes = shards.map(_.count())
    val q = CorpusStream.intake(spark, srcDir, docs.schema, stateDir)
    q.awaitTermination()
    val corpus = CorpusStream.corpus(spark, stateDir).get
    val perBatch = corpus.groupBy(input_file_name()).count()
      .collect().map(_.getLong(1)).sorted.reverse.toSeq
    val idx = CorpusStream.index(spark, stateDir).get
    val nDocs = corpus.count()
    val nPost = idx.postings.count()
    val header = Seq(
      s"-- streaming intake: ${sizes.sum} arrivals in 3 shards " +
        s"(${sizes.mkString(" + ")}, re-sent duplicates planted)",
      s"   survivors: $nDocs docs across ${perBatch.size} batch stores",
      s"   persisted BM25 index: ${withCommas(nPost)} postings " +
        s"(grown by per-batch deltas, never rebuilt)")
    header
  }

  /** `--mode tokenize`: the tokenizer trio side by side — train each
    * scheme from the corpus' capped word table, segment a sample of docs,
    * and print per-scheme piece counts plus one worked example so a user
    * can SEE how the schemes split differently. */
  def tokenizeReport(spark: SparkSession, cfg: DemoConfig): Seq[String] = {
    import graft.operators.{Bpe, Unigram, WordPiece}
    val docs = Tables.load(spark, cfg.sfDir, "documents")
    val wc = Bpe.wordCounts(docs, maxWords = 300)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val merges = Bpe.train(wc, nMerges = 60)
    val wpVocab = {
      import spark.implicits._
      WordPiece.vocabTable(wc.toDF("word", "cnt"), maxPieceLen = 8, topMulti = 200)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val ugVocab = Unigram.train(wc)
    def total(df: DataFrame): Long =
      df.agg(sum(col("n_pieces"))).head().getLong(0)
    val nBpe = total(Bpe.pieceCounts(spark, docs, merges))
    val nWp = total(WordPiece.segment(spark, docs, wpVocab, 8))
    val nUg = total(Unigram.segment(spark, docs, ugVocab))
    val nWords = docs.select(sum(
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))).head().getLong(0)
    val sample = wc.take(6).map(_._1)
    val ranks = Bpe.ranksOf(merges)
    val wpInit = wpVocab.collect { case (p, _) if !p.startsWith("##") => p }.toSet
    val wpCont = wpVocab.collect { case (p, _) if p.startsWith("##") => p.drop(2) }.toSet
    val ugCosts = ugVocab.toMap
    Seq(
      f"${"scheme"}%-10s ${"pieces"}%14s ${"pieces/word"}%12s",
      f"${"words"}%-10s ${withCommas(nWords)}%14s ${"1.00"}%12s",
      f"${"bpe"}%-10s ${withCommas(nBpe)}%14s ${f"${nBpe.toDouble / nWords}%.2f"}%12s",
      f"${"wordpiece"}%-10s ${withCommas(nWp)}%14s ${f"${nWp.toDouble / nWords}%.2f"}%12s",
      f"${"unigram"}%-10s ${withCommas(nUg)}%14s ${f"${nUg.toDouble / nWords}%.2f"}%12s",
      "sample segmentations (top corpus words):") ++
      sample.map { w =>
        val b = Bpe.encodeWord(w, ranks).mkString(" ")
        val p = WordPiece.encodeWord(w, wpInit, wpCont, 8).mkString(" ")
        val u = Unigram.viterbi(w, ugCosts, 6).getOrElse(Vector(Unigram.Unk)).mkString(" ")
        f"  $w%-14s bpe[$b]  wp[$p]  ug[$u]"
      }
  }

  /** `--mode crawl`: the web-crawl front door end to end — gzipped WARC
    * segments (a synthesized fixture crawl with planted spam domains,
    * short pages, and cross-page duplicates) → the real record walk →
    * URL normalization + registered domains → blocklist + per-domain
    * frequency cap → token-count quality gate → exact content dedup.
    * Prints the per-stage funnel and the kept-docs-per-domain head —
    * the report a crawl-curation operator reads first. */
  def crawlReport(spark: SparkSession, cfg: DemoConfig): Seq[String] = {
    import graft.sources.WarcSource
    import graft.sources.WarcSource.WarcRecord
    import graft.functions.UrlFunctions
    import graft.core.Determinism
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_crawl")
    val sfxs = Seq("com", "org", "co.uk")
    (0 until 3).foreach { s =>
      val recs = (0 until 60).map { i =>
        val id = s * 60 + i
        val h = Determinism.jvmHash(s"cw:$id")
        val dom = s"site${h % 12}." + sfxs((h % 3).toInt)
        val body =
          if (id % 7 == 0) "short" // fails the quality gate
          else if (id % 5 == 0)
            s"this duplicate body is shared verbatim across many pages ${h % 4}"
          else s"page $id body " +
            Seq.tabulate(30)(j => s"w${(h + j) % 97}").mkString(" ")
        WarcRecord("response", s"https://WWW.$dom/p$id/?utm_s=1&a=$id",
          "2025-06-01T00:00:00Z", s"<urn:uuid:$id>", 200, "text/html", body)
      }
      java.nio.file.Files.write(dir.resolve(s"seg$s.warc.gz"),
        WarcSource.gzip(WarcSource.encode(recs)))
    }
    val raw = WarcSource.readResponses(spark, dir.toString)
      .withColumn("norm_url", UrlFunctions.normalizeUrl(col("url")))
      .withColumn("dom",
        UrlFunctions.registeredDomain(UrlFunctions.hostOf(col("url"))))
      .cache()
    try {
      val n0 = raw.count()
      val afterBlock = raw.filter(!col("dom").isInCollection(Seq("site3.com")))
      val n1 = afterBlock.count()
      val capW = Window.partitionBy(col("dom"))
        .orderBy(Determinism.seeded("cwcap", col("norm_url")), col("norm_url"))
      val capped = afterBlock.withColumn("rk", row_number().over(capW))
        .filter(col("rk") <= 12)
      val n2 = capped.count()
      val gated = capped.filter(
        size(graft.functions.TextFunctions.tokens(col("body"))) >= 8)
      val n3 = gated.count()
      val dedW = Window.partitionBy(col("bh")).orderBy(col("norm_url"))
      val deduped = gated
        .withColumn("bh", Determinism.portableHash(col("body")))
        .withColumn("dk", row_number().over(dedW)).filter(col("dk") === 1)
      val n4 = deduped.count()
      val top = deduped.groupBy(col("dom")).agg(count(lit(1)).as("kept"))
        .orderBy(col("kept").desc, col("dom")).limit(5)
        .collect().map(r => f"  ${r.getString(0)}%-16s ${r.getLong(1)}%6d")
      Seq(
        f"responses        $n0%6d",
        f"after blocklist  $n1%6d",
        f"after domain cap $n2%6d",
        f"after quality    $n3%6d",
        f"after dedup      $n4%6d",
        "top kept domains:") ++ top
    } finally raw.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (cfg.mode == "capacity") {
        capacityReport(spark, cfg).foreach(println)
      } else if (cfg.mode == "curate") {
        curateReport(spark, cfg).foreach(println)
      } else if (cfg.mode == "stats") {
        statsReport(spark, cfg).foreach(println)
      } else if (cfg.mode == "tokenize") {
        tokenizeReport(spark, cfg).foreach(println)
      } else if (cfg.mode == "ann") {
        annReport(spark, cfg).foreach(println)
      } else if (cfg.mode == "intake") {
        intakeReport(spark, cfg).foreach(println)
      } else if (cfg.mode == "crawl") {
        crawlReport(spark, cfg).foreach(println)
      } else {
        val path = cfg.statePath.getOrElse("/tmp/graft_demo_state.json")
        if (cfg.reset) java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
        // seed-mismatch guard: resuming an existing state under a different
        // --seed must fail loudly (pass --reset to start over)
        val st0 = SamplerState.loadFor(path, cfg.seed)
          .fold(msg => sys.error(msg + "; pass --reset to start over"), identity)
          .getOrElse(SamplerState(cfg.seed, 0L, Map.empty))
        println(s"state: $path (epoch ${st0.epoch}, draws ${st0.counter("draw")})")
        val end = run(spark, cfg, st0)
        SamplerState.save(end, path)
        println(s"saved: epoch ${end.epoch}, draws ${end.counter("draw")}")
      }
    } finally spark.stop()
  }
}
