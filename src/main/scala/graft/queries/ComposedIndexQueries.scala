package graft.queries

import graft.{QueryDef, QueryModule}
import graft.core.Determinism
import graft.functions.TextFunctions
import graft.operators.{Bm25PoolIndex, PoolRankIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Load-or-build glue between the composed serving lanes and the two
  * persisted sampler sidecars ([[graft.operators.PoolRankIndex]] /
  * [[graft.operators.Bm25PoolIndex]]): the reference stages its negative
  * pools once per source REFRESH (src/sampler/mod.rs:994-1151) and serves
  * every batch from that staging; these wrappers make the staging durable
  * across driver sessions. First call builds from the live pool and
  * persists; every later call — in this JVM or the next — serves the
  * persisted index, so the corpus tokenize+filter+rank pass runs once per
  * corpus generation, not once per batch.
  *
  * Freshness: each index carries a `_graft_fp` fingerprint — a hash of
  * the corpus parquet's file listing (relative path, size, mtime), the
  * pool tag, and [[DefVersion]]. A corpus rewrite changes the listing →
  * rebuild; a pool-DEFINITION change must bump [[DefVersion]] (the
  * definitions live in one block, RecipeQueries "composed pools", so the
  * bump is part of that edit). The fingerprint is written AFTER the
  * temp-then-move publish, so a crash mid-build leaves either the old
  * generation (old fp, still self-consistent) or a fp-less dir (rebuilt
  * on next touch) — never a torn index.
  *
  * Values are bit-identical to the in-plan derivation by construction
  * (the index IS the derivation persisted — PoolRankIndex/Bm25PoolIndex
  * scaladoc, pinned by InvariantsSpec), so parquet-backed batches equal
  * in-memory staged batches row for row and the lanes' oracles replay
  * the derivation.
  */
object ComposedIndexQueries extends QueryModule {

  /** Bump on ANY composed-pool definition change (RecipeQueries
    * mixPool/tmpPool/bmxPool/fbPool/prPool/txPool or their WHEREs) —
    * the ranks bake in the pool's id order and the fallback order bakes
    * in its source set, so a stale index desyncs silently otherwise. */
  // v2: Bm25PoolIndex stages the wterm table
  // v3: PoolRankIndex persists driver-side per-source stats (contents of
  //     the rank table unchanged; bumped so pre-v3 caches regenerate with
  //     the stats sidecar present)
  // v4: rank sidecar gains `er0` — the epoch-0 interleave rank staged at
  //     refresh (the per-batch rank window disappears for the
  //     whole first epoch); pre-v4 caches lack the column
  private val DefVersion = "v4"

  private val CacheRoot: Path = Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", "/tmp/graft_composed_index"))

  /** One cache namespace per corpus dir (sf0.001 / sf0.01 / … never
    * collide). */
  private def cacheDir(dir: String): Path = CacheRoot.resolve(
    java.lang.Long.toHexString(
      Determinism.jvmHash("dir:" + Paths.get(dir).toAbsolutePath.toString)))

  /** Corpus generation id: the documents parquet's file listing — cheap
    * filesystem metadata, no data scan on the validation path. */
  private def corpusFingerprint(dir: String, tag: String): String =
    tableFingerprint(dir, "documents", tag)

  /** [[corpusFingerprint]] generalized to any testdata table (the ANN
    * indexes derive from `embeddings`, not `documents`). */
  private def tableFingerprint(dir: String, table: String, tag: String): String = {
    val root = Paths.get(dir).resolve(s"$table.parquet")
    import scala.jdk.CollectionConverters._
    val entries: Seq[String] =
      if (Files.isDirectory(root)) {
        val walk = Files.walk(root)
        try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .map(p => s"${root.relativize(p)}:${Files.size(p)}:" +
            s"${Files.getLastModifiedTime(p).toMillis}")
          .toList.sorted
        finally walk.close()
      } else if (Files.isRegularFile(root))
        List(s".:${Files.size(root)}:${Files.getLastModifiedTime(root).toMillis}")
      else List("missing")
    java.lang.Long.toHexString(
      Determinism.jvmHash(s"$DefVersion:$tag:" + entries.mkString("\n")))
  }

  /** Paths already fingerprint-validated in this JVM — one filesystem
    * stat pass per (index, generation) per session, zero per batch.
    * Concurrent-read-safe so validated lookups never block behind a
    * build of an UNRELATED index (per-path monitors below carry the
    * build serialization). */
  private val validated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One monitor per index path: two JVM threads ensuring the SAME index
    * serialize; threads ensuring different indexes proceed in parallel
    * (the old object-wide `synchronized` stalled every lookup behind one
    * build). */
  private val pathMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Loaded staged relations per (session, path, generation). A serving
    * deployment loads its relations ONCE and holds them for the session
    * (exactly what `RecipeQueries.mixServing` hands the trainer), but
    * the standalone query surface re-called `spark.read.parquet` per
    * invocation — a schema/footer job per staged relation per call,
    * 4–6 pure-overhead jobs on every composed batch query. DataFrames
    * are immutable plans, so sharing one per (session, path,
    * generation) changes no value; the generation in the key reloads on
    * corpus regeneration, and the WeakHashMap drops entries with their
    * stopped sessions. */
  private val loadedBySession =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()
  private def loaded[T <: AnyRef](s: SparkSession, path: Path, fp: String)(load: => T): T = {
    val m = loadedBySession.synchronized {
      loadedBySession.computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap[String, AnyRef]())
    }
    m.computeIfAbsent(s"$path#$fp", _ => load).asInstanceOf[T]
  }

  private def ensure(path: Path, fp: String)(build: => Unit): Unit = {
    val key = s"$path#$fp"
    if (validated.contains(key)) return
    val mon = pathMonitors.computeIfAbsent(path.toString, _ => new Object)
    mon.synchronized {
      if (validated.contains(key)) return
      val fpFile = path.resolve("_graft_fp")
      def fresh = Files.isRegularFile(fpFile) &&
        new String(Files.readAllBytes(fpFile), StandardCharsets.UTF_8) == fp
      if (!fresh) {
        Files.createDirectories(path.getParent)
        // cross-PROCESS publish guard (the monitor covers only this JVM):
        // two concurrent drivers (sbt test + bench — a pitfall this box
        // hits routinely) must not both build and rmTree+move the same
        // target out from under each other's lazy readers. FileChannel
        // lock on a sidecar lockfile + a freshness RE-CHECK inside the
        // lock: the loser of the race finds the winner's publish and
        // loads it instead of rebuilding. Staging dirs are already
        // per-process (`.tmp-<pid>`), so even a non-POSIX fs where the
        // lock is advisory-only cannot tear a half-written staging.
        val lockFile = path.getParent.resolve(s".${path.getFileName}.lock")
        val ch = java.nio.channels.FileChannel.open(lockFile,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lk = ch.lock()
          try {
            if (!fresh) {
              graft.operators.Staging.sweepStale(path)
              build
              Files.write(fpFile, fp.getBytes(StandardCharsets.UTF_8))
            }
          } finally lk.release()
        } finally ch.close()
        // lockfile cleanup (they accumulated forever otherwise). Deleting
        // AFTER the fp publish is race-free for the guarded action: any
        // process that subsequently locks either the deleted inode or a
        // recreated lockfile re-checks `fresh` inside its lock and finds
        // the fp we just wrote, so it skips the build — the classic
        // unlink-lockfile double-entry hazard needs a stale fp on both
        // sides, which the publish-before-delete ordering rules out.
        try Files.deleteIfExists(lockFile)
        catch { case _: java.io.IOException => () }
      }
      validated.add(key)
    }
  }

  /** The persisted [[PoolRankIndex]] for `pool`, rebuilt iff the corpus
    * generation (or [[DefVersion]]) moved. `pool` must be the SAME frame
    * the serving lane would otherwise derive in-plan (the shared
    * RecipeQueries pool definitions). */
  def rankIndex(s: SparkSession, dir: String, tag: String, pool: DataFrame): DataFrame =
    rankIndexAndStats(s, dir, tag, pool)._1

  /** [[rankIndex]] plus the persisted per-source stats — the pair the
    * serving lanes hand to [[graft.operators.Sampler.nextBatch]] (zero
    * Spark jobs for the stats: a driver-side metadata file written at
    * build). Always `Some`: every cache at the current [[DefVersion]]
    * carries the stats, and loading one without them fails. */
  def rankIndexAndStats(s: SparkSession, dir: String, tag: String,
      pool: DataFrame): (DataFrame, Option[Seq[(String, Long)]]) = {
    val path = cacheDir(dir).resolve(s"rank_$tag")
    val fp = corpusFingerprint(dir, s"rank:$tag")
    ensure(path, fp) {
      PoolRankIndex.save(PoolRankIndex.build(pool), path.toString)
    }
    loaded(s, path, fp)(
      (PoolRankIndex.load(s, path.toString), Some(PoolRankIndex.loadSrcStats(path.toString))))
  }

  /** The persisted CHUNK TABLE for a composed corpus slice — the last
    * corpus-scale derivation left on the batch path. The serving lanes
    * restrict the chunk table to the batch's record ids (an isin
    * PREDICATE), but the table itself was still a tokenize→explode→
    * window PLAN re-optimized and re-executed inside every batch's a/p/n
    * pick jobs — per-batch work ∝ plan size, plus Catalyst time on a big
    * subtree, twice per batch (chunksAP + chunksN). The window layout is
    * a pure per-record function (reference: the sampler chunks records
    * ONCE per refresh into its in-memory pool, src/sampler/mod.rs:
    * 994-1151; chunking src/chunking.rs), so it stages exactly like the
    * rank sidecar: built once per corpus generation, served as a parquet
    * leaf. Written range-partitioned + sorted on `record_id` so the
    * per-batch id restriction prunes row groups via min/max stats — the
    * local analogue of the record-id-bucketed chunk store a 1000-executor
    * deployment would use. Values are bit-identical by construction (the
    * index IS the [[RecipeQueries.chunkTable]] plan executed once);
    * ComposedPoolIndexSpec pins index ≡ derivation row for row. */
  def chunkIndex(s: SparkSession, dir: String, tag: String,
      chunks: => DataFrame): DataFrame = {
    val path = cacheDir(dir).resolve(s"chunks_$tag")
    val fp = corpusFingerprint(dir, s"chunks:$tag")
    ensure(path, fp) {
      val tmp = graft.operators.Staging.stagingFor(path.toString)
      graft.operators.Staging.rmTree(tmp)
      // file count follows the session's shuffle parallelism (the
      // deployment dial) — a fixed count would cap read parallelism at
      // cluster scale; range partitioning keeps per-file record_id
      // min/max tight so the batch restriction skips whole files
      val nPart = math.max(8, s.sessionState.conf.numShufflePartitions)
      chunks.repartitionByRange(nPart, col("record_id"))
        .sortWithinPartitions("record_id")
        .write.mode("overwrite").parquet(tmp.toString)
      graft.operators.Staging.rmTree(path)
      Files.move(tmp, path)
    }
    loaded(s, path, fp)(s.read.parquet(path.toString))
  }

  /** The persisted as-of NEIGHBOR MAP for a temporal pool —
    * [[graft.operators.Sampler.temporalNeighborsFull]] staged per
    * (pool tag, day offset): the neighbor is a pure (pool, days)
    * function, so a refresh computes every record's neighbor once with
    * the O(n log n) sort-based build and serving batches read an
    * id-pruned slice of the record_id-sorted parquet — the temporal
    * lane's per-batch pool-wide candidate stream deleted, the same move
    * as the rank/chunk staging. Values equal the in-plan batch join by
    * the lexicographic-key law (StateAndRecipesSpec pins full == pairwise
    * and index-backed batches == derived). */
  def neighborIndex(s: SparkSession, dir: String, tag: String, days: Int,
      pool: => DataFrame): DataFrame = {
    val path = cacheDir(dir).resolve(s"nbr_${tag}_$days")
    val fp = corpusFingerprint(dir, s"nbr:$tag:$days")
    ensure(path, fp) {
      val tmp = graft.operators.Staging.stagingFor(path.toString)
      graft.operators.Staging.rmTree(tmp)
      val nPart = math.max(8, s.sessionState.conf.numShufflePartitions)
      graft.operators.Sampler.temporalNeighborsFull(pool, days)
        .repartitionByRange(nPart, col("record_id"))
        .sortWithinPartitions("record_id")
        .write.mode("overwrite").parquet(tmp.toString)
      graft.operators.Staging.rmTree(path)
      Files.move(tmp, path)
    }
    loaded(s, path, fp)(s.read.parquet(path.toString))
  }

  /** The persisted [[Bm25PoolIndex]] (postings + per-source stats) for
    * the bmx pool — same lifecycle as [[rankIndex]]. */
  def bm25Index(s: SparkSession, dir: String, pool: DataFrame): Bm25PoolIndex = {
    val path = cacheDir(dir).resolve("bm25_bmx")
    val fp = corpusFingerprint(dir, "bm25:bmx")
    ensure(path, fp) {
      Bm25PoolIndex.save(Bm25PoolIndex.fromPool(pool), path.toString)
    }
    loaded(s, path, fp)(Bm25PoolIndex.load(s, path.toString))
  }

  /** The persisted trained-ANN relations over the embeddings corpus —
    * the FAISS "train once, search many" lifecycle for the ANN lanes
    * (IVFADC's centroids / residual codebook / cell-carrying codes,
    * PQ-ADC's codebook / codes). All of one index's relations publish as
    * ONE unit (single staging dir, one move — a mixed-generation index
    * would score silently wrong, the Bm25PoolIndex discipline). A search
    * session loads the parquet leaves and runs only the query-side work;
    * training reruns only when the embeddings generation moves. The
    * `train` closure picks each relation's on-disk layout (coalesce the
    * broadcast-sized tables, range-partition + sort the corpus-scale
    * code tables so restricted reads prune row groups). Values are
    * bit-identical to the in-plan derivation by construction (floats
    * round-trip parquet exactly; the training picks are seeded-hash
    * deterministic) — AnnIndexSpec pins index-backed == derived. */
  def annRelations(s: SparkSession, dir: String, tag: String,
      names: Seq[String])(train: => Seq[DataFrame]): Seq[DataFrame] = {
    val path = cacheDir(dir).resolve(s"ann_$tag")
    val fp = tableFingerprint(dir, "embeddings", s"ann:$tag")
    ensure(path, fp) {
      val tmp = graft.operators.Staging.stagingFor(path.toString)
      graft.operators.Staging.rmTree(tmp)
      val rels = train
      require(rels.size == names.size, "annRelations: names/relations arity mismatch")
      names.zip(rels).foreach { case (n, df) =>
        df.write.parquet(tmp.resolve(n).toString) }
      graft.operators.Staging.rmTree(path)
      Files.move(tmp, path)
    }
    // fold the names list into the memo key: two callers sharing a tag
    // but asking for different relation lists must not alias each other
    loaded(s, path, s"$fp#${names.mkString(",")}")(
      names.map(n => s.read.parquet(path.resolve(n).toString)))
  }

  // ---- q145: the index-build row ----
  // One row per composed pool: builds (or validates) every persisted
  // sidecar and reports its row count — the rank index has exactly one
  // row per pool record, so the oracle is the pool-count replay. This is
  // the REFRESH step made visible: running it front-loads the builds so
  // every serving lane afterwards is pure index reads.
  private def poolDefs(s: SparkSession, dir: String): Seq[(String, DataFrame)] = Seq(
    ("bmx", RecipeQueries.bmxPool(s, dir)),
    ("fbk", RecipeQueries.fbPool(s, dir)),
    ("mix", RecipeQueries.mixPool(s, dir)),
    ("prx", RecipeQueries.prPool(s, dir)),
    ("tmp", RecipeQueries.tmpPool(s, dir)),
    ("txx", RecipeQueries.txPool(s, dir)))

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q145_composed_index_build",
      // The oracle pins the index CONTENTS, not just cardinality:
      // per-tag integer checksums bind each pool record's id to its
      // per-source rank (chk_rank), its source's seeded fallback rank
      // (chk_src), and — for dated pools — its date-group rank
      // (chk_date); DuckDB replays all three rank assignments from the
      // pool definition. A drifted rank, a reordered fallback, or a
      // date-group split lands on a different sum.
      (s, dir) => {
        import s.implicits._
        val rows = poolDefs(s, dir).map { case (tag, pool) =>
          val ix = rankIndex(s, dir, tag, pool)
          val hasD = ix.columns.contains("drnk")
          val r = ix.agg(
            count(lit(1)).cast("long"),
            sum(col("id") * (col("rn") + 1)).cast("long"),
            sum(col("id") * (col("srnk") + 1)).cast("long"),
            (if (hasD) sum(col("id") * (col("drnk") + 1)) else sum(col("id")))
              .cast("long")).collect()(0)
          (tag, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
        // the bm25 sidecar shares the bmx pool; build it here too so the
        // refresh step covers BOTH sidecars (its postings/wterm values
        // stay pinned by q58's oracle and the InvariantsSpec round-trip)
        bm25Index(s, dir, RecipeQueries.bmxPool(s, dir))
        // and the staged chunk tables — every lane's per-batch chunk
        // source (values pinned by the lanes' own oracles + the
        // ComposedPoolIndexSpec index≡derivation row equality)
        Seq("bmx" -> RecipeQueries.BmxWhere, "fbk" -> RecipeQueries.FbWhere,
          "mix" -> RecipeQueries.MixWhere, "prx" -> RecipeQueries.PrWhere,
          "tmp" -> RecipeQueries.TmpWhere, "txx" -> RecipeQueries.TxWhere)
          .foreach { case (tag, where) => RecipeQueries.stagedChunks(s, dir, tag, where) }
        // and the tmp lane's as-of neighbor map (nbr_tmp_<days>)
        neighborIndex(s, dir, "tmp", RecipeQueries.TmpDays, RecipeQueries.tmpPool(s, dir))
        // and the ANN serving indexes (embeddings-generation keyed): the
        // refresh step fronts their training too, so a serving session's
        // first search after a generation move is query-side only
        // (values pinned by the q118/q122 oracles + AnnIndexSpec)
        SimilarityQueries.ivfadcRelations(s, dir)
        SimilarityQueries.pqRelations(s, dir)
        rows.toDF("tag", "n_rows", "chk_rank", "chk_src", "chk_date")
      },
      Some {
        val h = Determinism.duckSeeded _
        // dated pools carry the id-pure day3 date (RecipeQueries.day3Date)
        val day3 = s"'2025-03-0' || CAST(${h("day3", "doc_id")} % 3 + 1 AS VARCHAR)"
        val defs = Seq( // (tag, where, dated) — same sorted order as Spark
          ("bmx", RecipeQueries.BmxWhere, false),
          ("fbk", RecipeQueries.FbWhere, true),
          ("mix", RecipeQueries.MixWhere, true),
          ("prx", RecipeQueries.PrWhere, false),
          ("tmp", RecipeQueries.TmpWhere, false),
          ("txx", RecipeQueries.TxWhere, false))
        val arms = defs.map { case (tag, w, dated) =>
          val dateSel = if (dated) s", $day3 AS pdate" else ""
          val drnk1 =
            if (dated) "dense_rank() OVER (PARTITION BY p.source ORDER BY p.pdate)"
            else "1"
          s"""SELECT '$tag' AS tag, CAST(count(*) AS BIGINT) AS n_rows,
            CAST(SUM(id * rn1) AS BIGINT) AS chk_rank,
            CAST(SUM(id * srnk1) AS BIGINT) AS chk_src,
            CAST(SUM(id * drnk1) AS BIGINT) AS chk_date
          FROM (
            SELECT p.id, s.srnk1,
              row_number() OVER (PARTITION BY p.source ORDER BY p.id) AS rn1,
              $drnk1 AS drnk1
            FROM (SELECT doc_id AS id, source$dateSel FROM f WHERE $w) p
            JOIN (SELECT source,
                row_number() OVER (ORDER BY ${h("fsord", "source")}, source) AS srnk1
              FROM (SELECT DISTINCT source FROM f WHERE $w)) s USING (source)
          )"""
        }.mkString("\n          UNION ALL ")
        s"""WITH d0 AS (
            SELECT doc_id, source, ${TextFunctions.duckTokens("text")} AS toks
            FROM documents
          ), f AS (
            SELECT doc_id, source FROM d0 WHERE len(toks) >= ${RecipeQueries.MinToks}
          )
          $arms"""
      }))
}
