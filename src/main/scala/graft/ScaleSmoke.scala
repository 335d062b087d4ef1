package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decade-up scale smoke: generate an sf1-equivalent corpus (10× the
  * sf0.1 documents/embeddings) and run the heavy dedup/ANN/pipeline
  * family at both scales in ONE session, pinning wall-time growth.
  *
  * The 100-TB posture otherwise extrapolates from sf0.1 alone; this run
  * puts a measured decade of scaling behind it: a banded/bucketed plan
  * should grow ≈ linearly in rows (wall ratio well under the 12× bound
  * for a 10× corpus — fixed driver constants amortize), while an
  * accidental all-pairs or collect-driven step would blow past it.
  *
  * Synthesis keeps sf0.1's per-replica structure instead of inventing a
  * new distribution: replica k of a document remaps ids by `k·maxId` and
  * suffixes every token with `_k`, so replicas are DISJOINT in token
  * space (10 independent sf0.1-shaped corpora over the same source set —
  * shingle/minhash/simhash workloads scale in rows without pathological
  * 10-wide duplicate clusters that would measure cluster blowup, not
  * scaling). Embeddings rotate each vector k positions (norm-preserving
  * dimension permutation — per-replica cosine structure identical,
  * cross-replica pairs decorrelated). Other tables copy through
  * unchanged. Output lands under target/ (never committed).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleSmoke"
  *
  * Prints one JSON line: per-query small/big walls + ratios, the bound,
  * and pass/fail. Recorded in COVERAGE.md (decade-up row).
  */
object ScaleSmoke {

  /** Every member reads ONLY documents/embeddings (the tables `generate`
    * scales); the rest of the corpus passes through unchanged, so a query
    * touching e.g. lineitem would measure nothing. Spans the distinct
    * heavy plan shapes: MinHash+LSH clustering, curation funnel,
    * embedding near-dup, duplicate-span scan, end-to-end pipeline,
    * composed index build, prefix-sum sentence split, BM25 postings
    * build+refresh, link-graph centrality iteration, banding recall
    * audit (shingle-inverted truth join), and IVF-bounded SemDeDup. */
  private val Family = Seq(
    "q93_dedup_clusters", "q94_corpus_curation",
    "q95_embedding_dedup_clusters", "q106_duplicate_spans",
    "q111_pretraining_pipeline", "q145_composed_index_build",
    "q47_sentence_split", "q116_bm25_index_refresh",
    "q134_domain_centrality", "q149_banded_dedup_recall",
    "q152_semdedup", "q27_neardup_same_bucket",
    "q28_simhash_neardup_pairs",
    // round-16 second widening: winnowing, packing, budget mixing,
    // incremental span dedup, perceptual image dedup (the 16-bit band
    // dial rides toward its documented ~1M cliff here — watch its
    // ratio), DSIR, hybrid RRF (BM25 + ANN fused), bitext margin mining
    "q36_winnowing_fingerprints", "q99_sequence_packing",
    "q108_budget_selection", "q109_incremental_span_dedup",
    "q124_image_dhash_neardup", "q147_dsir_importance_resampling",
    "q119_rrf_hybrid_fusion", "q138_margin_mining")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/sf1smoke")
    val bound = sys.env.getOrElse("SPARK_GRAFT_SCALE_BOUND", "12").toDouble
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    try {
      generate(spark, sfDir, outDir, factor)
      // same steady-state methodology as Bench: one untimed pass
      // (codegen/footers), then a fresh plan timed
      def time(name: String, dir: String): Double = {
        SparkEntry.queries(name)(spark, dir).count()
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); System.gc()
        dt
      }
      val rows = Family.map { name =>
        val small = time(name, sfDir)
        val big = time(name, outDir)
        val ratio = big / math.max(small, 1e-9)
        println(f"SCALE $name%-32s small=$small%7.3f s  big=$big%7.3f s  ratio=$ratio%5.2f")
        (name, small, big, ratio)
      }
      val worst = rows.maxBy(_._4)
      val pass = rows.forall(_._4 <= bound)
      val qs = rows.map { case (n, s, b, r) =>
        f""""${n.takeWhile(_ != '_')}":{"small":$s%.3f,"big":$b%.3f,"ratio":$r%.2f}"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"scale_smoke","factor":$factor,"bound":$bound,""" +
        f""""worst":"${worst._1}","worst_ratio":${worst._4}%.2f,""" +
        s""""pass":$pass,"queries":$qs,"small_dir":"$sfDir","big_dir":"$outDir"}""")
      if (!pass) sys.exit(1)
    } finally spark.stop()
  }

  /** Build the synthetic decade-up corpus once (fingerprinted on the
    * source dir + factor; rebuilt only when either changes). */
  private def generate(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Unit = {
    val out = java.nio.file.Paths.get(outDir)
    val fpFile = out.resolve("_graft_scale_fp")
    val fp = s"$sfDir#$factor"
    if (java.nio.file.Files.isRegularFile(fpFile) &&
      new String(java.nio.file.Files.readAllBytes(fpFile), "UTF-8") == fp) return
    graft.operators.Staging.rmTree(out)
    java.nio.file.Files.createDirectories(out)
    val reps = explode(sequence(lit(0), lit(factor - 1))).as("k")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val bigText = when(col("k") === 0, col("text")).otherwise(
      array_join(transform(split(col("text"), " "),
        t => concat(t, lit("_"), col("k"))), " "))
    docs.select(col("*"), reps)
      .select(
        (col("doc_id") + col("k") * maxDoc).as("doc_id"),
        bigText.as("text"), col("lang"),
        col("source"),
        length(bigText).cast("long").as("n_chars"))
      .repartition(32)
      .write.parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val d = size(col("embedding"))
    // rotate k (mod dim) positions: norm-preserving dimension permutation
    // (modulo keeps slice bounds valid at factors above the dimension;
    // replicas at k ≡ 0 (mod dim) repeat the base orientation, which just
    // hands the near-dup lanes a few genuine clusters to chew on)
    val rot = pmod(col("k"), d)
    emb.select(col("*"), reps)
      .select(
        (col("vec_id") + col("k") * maxVec).as("vec_id"),
        when(rot === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), rot + 1, d - rot),
          slice(col("embedding"), lit(1), rot))).as("embedding"),
        col("label"))
      .repartition(8)
      .write.parquet(s"$outDir/embeddings.parquet")

    // the rest of the tables pass through unchanged (the family above
    // only reads documents/embeddings, but Tables.load must find a
    // complete directory)
    val src = java.nio.file.Paths.get(sfDir)
    graft.core.Tables.names.filterNot(n => n == "documents" || n == "embeddings")
      .foreach { n =>
        val from = src.resolve(s"$n.parquet")
        if (java.nio.file.Files.exists(from))
          java.nio.file.Files.copy(from, out.resolve(s"$n.parquet"))
      }
    java.nio.file.Files.write(fpFile, fp.getBytes("UTF-8"))
  }
}
