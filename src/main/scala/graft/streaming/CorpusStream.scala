package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Determinism
import graft.functions.TextFunctions
import graft.operators.{Bm25, Bm25Index, Dedup}

/** Continuous corpus intake — the Structured-Streaming composition of the
  * incremental curation operators (reference: the ingestion refresh loop,
  * src/ingestion.rs:462-506, grown to the corpus-maintenance pipeline a
  * 100 TB deployment runs on arrival, not nightly).
  *
  * Each micro-batch of documents is
  *   1. EXACT-deduped: the standing corpus wins over an arrival by
  *      doc_id first (records are immutable by contract — a known id is
  *      a re-send even when its text mutated in transit), then by
  *      content hash, with min-doc_id-per-hash inside the batch (q20
  *      semantics) — the reference's standing-pool-first contract. The
  *      arrivals left after the two anti-joins are collected once and
  *      the per-hash pick runs on the driver ([[keepMinPerHash]]);
  *   2. NEAR-dup checked with the incremental MinHash band index
  *      ([[Dedup.incrementalCandidatePairs]], the q68 shape): candidate
  *      cost ∝ |batch| × in-bucket collisions, never |corpus|²; candidates
  *      verify by signature agreement ≥ `minAgree` of `numPerms`. The
  *      verified pairs are collected once and the drops decided on the
  *      driver ([[nearDupDrops]]): a new doc that verifies against a
  *      RETAINED doc drops, and new–new clusters resolve keep-min (the
  *      set [[Dedup.connectedComponents]], q93's operator, labels);
  *   3. appended: survivors land in batch-keyed stores (`corpus/b<id>`,
  *      `hashes/b<id>`, `sigs/b<id>`) and the persisted BM25 index grows
  *      by the batch's postings delta (`bm25/b<id>` — the
  *      [[Bm25Index.refresh]] union law made durable: the index IS the
  *      union of per-batch deltas).
  *
  * Exactly-once without a commit log: every per-batch store is written
  * with `overwrite` to a path keyed by the micro-batch id, and the batch
  * transition is a pure function of (STRICTLY-PRIOR stores, batch rows)
  * — the batch's own subdirectories are excluded from the standing
  * reads, so a replay after a partial publish recomputes byte-identical
  * frames into the same paths and heals whatever the crash skipped.
  * No meta file can get out of sync because there is none.
  *
  * Blank documents (no tokens) produce no signature rows (the
  * [[Dedup.minhashSignatures]] contract) and therefore skip the near-dup
  * stage; identical blanks still collapse through the exact lane.
  *
  * Scale shape: the only corpus-sized frames touched per batch are the
  * NARROW hash/signature stores (one long, resp. `numPerms` longs per
  * doc); corpus text is write-only. The driver holds at most one
  * batch: the exact lane's rows (≤ |batch|, text included) and the
  * verified pairs, which number at most |batch| × in-bucket collisions
  * because the band self-join is driven by the new side. The drop
  * decisions run over them in plain Scala; survivors are the exact
  * rows minus the drop set, so the survivor count needs no job, and
  * the corpus, hashes and BM25 publishes read a driver-local relation.
  *
  * Keeping these batch-bounded frames off Spark also keeps the distinct
  * generated classes one batch compiles (about 60) well under Spark's
  * codegen cache (`spark.sql.codegen.cache.maxEntries`, 100 by
  * default). At about 90 the cache's LRU segments overflowed in some
  * JVMs and not in others, depending on the order AQE stages compiled
  * in, and an overflowing JVM recompiled 18-29 classes on every batch.
  */
object CorpusStream {

  /** @param numPerms    MinHash permutations per signature
    * @param shingleSize shingle width (tokens)
    * @param numBands    LSH bands (numBands × rowsPerBand == numPerms)
    * @param rowsPerBand rows per band
    * @param minAgree    verified near-dup = signatures agree on ≥ this
    *                    many of the `numPerms` permutations */
  case class IntakeConfig(
      numPerms: Int = 8,
      shingleSize: Int = 3,
      numBands: Int = 4,
      rowsPerBand: Int = 2,
      minAgree: Int = 6) {
    require(numBands * rowsPerBand == numPerms,
      s"bands ($numBands) x rows ($rowsPerBand) must equal perms ($numPerms)")
    require(minAgree >= 1 && minAgree <= numPerms,
      s"minAgree must be in [1, $numPerms]")
  }

  private def hashSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("content_hash", LongType)))
  private def sigSchema(cfg: IntakeConfig) = StructType(
    StructField("doc_id", LongType) +:
      (0 until cfg.numPerms).map(j => StructField(s"mh$j", LongType)))

  /** Existing per-batch store subdirs under `root` (absent root → none).
    * `exclude` drops that batch's own subdir: a crash-REPLAY of batch b
    * must never see b's own partially-published stores as "standing"
    * state — with them visible, the replay's arrivals would drop against
    * their own hashes, survivors would come out empty, and any store the
    * crash skipped (e.g. the BM25 delta) would silently stay missing. */
  private def batchDirs(root: String, exclude: Option[Long] = None): Seq[String] = {
    val d = new java.io.File(root)
    val skip = exclude.map(b => s"b$b")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("b") &&
        !skip.contains(f.getName))
      .map(_.getPath).toSeq.sorted
  }

  private def readStore(spark: SparkSession, root: String,
      schema: StructType, exclude: Option[Long]): DataFrame = {
    val dirs = batchDirs(root, exclude)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** The standing corpus (union of survivor batches); None before any
    * batch has landed. */
  def corpus(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val dirs = batchDirs(s"$stateDir/corpus")
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** The persisted BM25 index: the union of per-batch postings deltas —
    * bit-identical to [[Bm25Index.build]] over [[corpus]] (the refresh
    * law, pinned in CorpusStreamSpec). */
  def index(spark: SparkSession, stateDir: String): Option[Bm25Index] = {
    val dirs = batchDirs(s"$stateDir/bm25")
    if (dirs.isEmpty) None
    else Some(Bm25Index(
      spark.read.parquet(dirs.map(_ + "/postings"): _*),
      spark.read.parquet(dirs.map(_ + "/doclens"): _*)))
  }

  /** One micro-batch transition — a pure function of (stores, batch),
    * idempotent on replay (overwrite into batch-keyed paths). Returns the
    * survivor count (diagnostic). `batch` must carry `doc_id` (long) and
    * `textCol`; passthrough columns persist into the corpus store. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, cfg: IntakeConfig = IntakeConfig(),
      textCol: String = "text"): Long = {
    val prevHashes = readStore(spark, s"$stateDir/hashes", hashSchema, Some(batchId))
    val prevSigs = readStore(spark, s"$stateDir/sigs", sigSchema(cfg), Some(batchId))

    // 1. exact lane (q20 semantics): the standing corpus wins over
    // arrivals — by doc_id FIRST (records are immutable by contract, so a
    // known id is a re-send even when its text mutated in transit;
    // admitting it would duplicate the id in the store), then by content
    // hash. The two anti-joins keep the corpus-sized store on the
    // executors; the arrivals left are batch-bounded, collected once, and
    // min doc_id per content hash survives on the driver ([[keepMinPerHash]];
    // a known hash drops its whole group, so picking before or after the
    // hash anti-join keeps the same rows)
    val hashed = batch.withColumn("content_hash",
      Determinism.portableHash(TextFunctions.normalizeWs(col(textCol))))
    val exactRows = keepMinPerHash(hashed
      .join(prevHashes.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(prevHashes.select(col("content_hash")), Seq("content_hash"), "left_anti")
      .select(hashed.columns.toSeq.map(col): _*)
      .collect().toSeq)
    def local(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, hashed.schema)

    // 2. near-dup lane: incremental candidates (new side drives the band
    // join), verified by signature agreement
    val newSigs = Dedup.minhashSignatures(
        local(exactRows), "doc_id", textCol, cfg.numPerms, cfg.shingleSize)
      .localCheckpoint(eager = false)
    val allSigs = prevSigs.withColumn("is_new", lit(false))
      .unionByName(newSigs.withColumn("is_new", lit(true)))
    val cand = Dedup.incrementalCandidatePairs(
      allSigs, "doc_id", "is_new", cfg.numBands, cfg.rowsPerBand)
    val mhCols = (0 until cfg.numPerms).map(j => s"mh$j")
    val sa = col("doc_id").as("aid") +: col("is_new").as("a_new") +:
      mhCols.map(c => col(c).as(s"a_$c"))
    val sb = col("doc_id").as("bid") +: col("is_new").as("b_new") +:
      mhCols.map(c => col(c).as(s"b_$c"))
    val agree = mhCols.map(c =>
      when(col(s"a_$c") === col(s"b_$c"), 1L).otherwise(0L)).reduce(_ + _)
    // collected once (≤ |new| × in-bucket collisions rows); the drops
    // are decided on the driver
    val verified = cand
      .join(allSigs.select(sa: _*), col("a") === col("aid"))
      .join(allSigs.select(sb: _*), col("b") === col("bid"))
      .filter(agree >= cfg.minAgree)
      .select(col("a"), col("a_new"), col("b"), col("b_new"))
      .collect().toSeq
      .map(r => VerifiedPair(r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))
    val dropSet = nearDupDrops(verified)
    val drops = spark.createDataFrame(dropSet.toSeq.sorted.map(Row(_)).asJava,
      StructType(Seq(StructField("doc_id", LongType))))
    val survivorRows = exactRows.filterNot(r => dropSet(r.getAs[Long]("doc_id")))

    // 3. publish: batch-keyed overwrites (idempotent replays), BM25 delta
    // per the refresh union law. A survivor-less batch writes nothing —
    // a replay recomputes the same empty set and skips identically, and
    // the store readers never meet a schema-less empty directory.
    if (survivorRows.nonEmpty) {
      val b = s"b$batchId"
      val survivors = local(survivorRows).coalesce(1) // one file per store
      survivors.drop("content_hash").write.mode("overwrite")
        .parquet(s"$stateDir/corpus/$b")
      survivors.select(col("doc_id"), col("content_hash")).write.mode("overwrite")
        .parquet(s"$stateDir/hashes/$b")
      newSigs.join(broadcast(drops), Seq("doc_id"), "left_anti") // newSigs ⊆ exact
        .write.mode("overwrite").parquet(s"$stateDir/sigs/$b")
      val postings = s"$stateDir/bm25/$b/postings"
      val tf = Bm25.termFrequencies(survivors, "doc_id", textCol)
      tf.write.mode("overwrite").parquet(postings)
      // the lengths sum the postings just written, so the shard is
      // tokenized once; the known schema (no footer-reading job) and one
      // partition (no exchange) keep the read-back to one job
      Bm25.docLengths(spark.read.schema(tf.schema).parquet(postings).coalesce(1))
        .write.mode("overwrite").parquet(s"$stateDir/bm25/$b/doclens")
    }
    survivorRows.size.toLong
  }

  /** Min doc_id per content hash (ties on the id broken by the whole
    * row, so the pick never depends on collect order), in doc_id order. */
  def keepMinPerHash(rows: Seq[Row]): Seq[Row] =
    rows.groupBy(_.getAs[Any]("content_hash")).values
      .map(_.minBy(r => (r.getAs[Long]("doc_id"), r.toString)))
      .toSeq.sortBy(r => (r.getAs[Long]("doc_id"), r.toString))

  /** A verified near-dup pair `a < b`, each endpoint flagged new (this
    * batch) or standing. */
  case class VerifiedPair(a: Long, aNew: Boolean, b: Long, bNew: Boolean)

  /** The batch's near-dup drop set — a pure, order-independent function
    * of its verified pairs. A pair with exactly one new endpoint drops
    * that endpoint (the standing corpus wins). New–new pairs between docs
    * not dropped that way keep the minimum id per component (a doc
    * dropped against the standing corpus cannot take its new–new
    * neighbours with it): the union-find links the larger root under the
    * smaller, so every key of `parent` is a non-minimum member — the
    * keep-min set [[Dedup.connectedComponents]] labels. */
  def nearDupDrops(pairs: Seq[VerifiedPair]): Set[Long] = {
    val vsOld = pairs.collect {
      case VerifiedPair(a, true, _, false) => a
      case VerifiedPair(_, false, b, true) => b
    }.toSet
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.contains(r)) r = parent(r)
      var y = x // path compression
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    pairs.foreach { p =>
      if (p.aNew && p.bNew && !vsOld(p.a) && !vsOld(p.b)) {
        val (ra, rb) = (find(p.a), find(p.b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
    }
    vsOld ++ parent.keySet
  }

  /** The streaming wrapper: a file-source stream over `sourceDir` driving
    * [[applyBatch]] per micro-batch. `maxFilesPerTrigger = 1` keeps each
    * landed shard its own batch (the reference's shard-arrival grain). */
  def intake(spark: SparkSession, sourceDir: String, schema: StructType,
      stateDir: String, cfg: IntakeConfig = IntakeConfig(),
      textCol: String = "text"): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$stateDir/checkpoint")
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(spark, b, id, stateDir, cfg, textCol); ()
      }
      .start()
}
