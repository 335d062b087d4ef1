package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed sampler's pool-rank sidecar as a STAGED index — the
  * input every [[Sampler]] batch serves its record and negative picks
  * from (the [[Bm25PoolIndex]] sibling: same lifecycle, same
  * torn-publish discipline). The reference stages its negative pools
  * once per source REFRESH (src/sampler/mod.rs:994-1151) and serves
  * every batch from that staging; this index is that staging: narrow
  * (id, source, ranks, group sizes, fallback order) columns — no text —
  * built once per refresh, read by every batch. A long-lived deployment
  * persists it (`save`/`load`); a one-off caller stages it in memory
  * (`stage`).
  *
  * Both stagings are [[Sampler.rankSidecar]] executed once, so they serve
  * identical batches row for row — pinned by InvariantsSpec. Rebuild on
  * ANY pool change: the ranks bake in the pool's id order and the
  * fallback order bakes in its source set.
  */
object PoolRankIndex {

  /** Derive the sidecar for a pool carrying `(id, source[, date])` —
    * [[Sampler.rankSidecar]] with the per-source stats collected here
    * (one #sources-bounded job). */
  def build(pool: DataFrame): DataFrame = {
    val srcCounts = pool.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    require(srcCounts.nonEmpty, "empty pool")
    Sampler.rankSidecar(pool, srcCounts)
  }

  /** Stage in memory: [[build]] materialized once (an eager local
    * checkpoint), plus its per-source stats — the `(rankIndex, srcStats)`
    * pair [[Sampler.nextBatch]] serves from, for a caller that does not
    * persist the index. */
  def stage(pool: DataFrame): (DataFrame, Seq[(String, Long)]) = {
    val ranks = build(pool).localCheckpoint()
    (ranks, srcStatsOf(ranks))
  }

  /** Per-source stats of a built sidecar: each source's `nsrc`. */
  private def srcStatsOf(ranks: DataFrame): Seq[(String, Long)] =
    ranks.select(col("source"), col("nsrc")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** Persist across sampler sessions. Repartitioned by `source` on
    * write — the key every dispatch lookup restricts on. Temp-then-move
    * publish: a crash mid-write leaves the previous generation intact.
    * Staging is per-process (`.tmp-<pid>`) so two concurrent drivers
    * (sbt test + bench) never tear each other's half-written staging —
    * publish serialization is the caller's lock
    * ([[graft.queries.ComposedIndexQueries]] `ensure`). */
  def save(ranks: DataFrame, dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    Staging.sweepStale(Paths.get(dir))
    val tmp = Paths.get(dir + ".tmp-" + ProcessHandle.current().pid())
    rmTree(tmp)
    // sorted by (source, rn) within the source partitions so the
    // per-batch pick filters (rn / rank-window targets) prune row groups
    // via min/max stats once per-source row counts outgrow one group —
    // the layout a position-addressed pool read needs at corpus scale
    ranks.repartition(col("source")).sortWithinPartitions(col("source"), col("rn"))
      .write.mode("overwrite").parquet(tmp.toString)
    // per-source stats as DRIVER-SIDE index metadata (`_`-prefixed files
    // are invisible to parquet readers, like `_SUCCESS`): serving batches
    // read them with zero Spark jobs — the per-batch pool-scan collect
    // disappears. Derived from the JUST-WRITTEN parquet (2 narrow
    // columns), so the stats are exactly the persisted generation's.
    // Written into the staging dir, so they publish atomically with it.
    val stats = srcStatsOf(ranks.sparkSession.read.parquet(tmp.toString))
    val enc = java.util.Base64.getEncoder
    val lines = stats.map { case (src, n) =>
      s"${enc.encodeToString(src.getBytes("UTF-8"))} $n" }
    Files.write(tmp.resolve(StatsFile),
      lines.mkString("\n").getBytes("UTF-8"))
    rmTree(Paths.get(dir))
    Files.move(tmp, Paths.get(dir))
  }

  private val StatsFile = "_graft_srcstats"

  def load(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** The persisted per-source stats, written by `save` into the same
    * publish as the ranks. */
  def loadSrcStats(dir: String): Seq[(String, Long)] = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(dir).resolve(StatsFile)
    require(Files.isRegularFile(p), s"rank index at $dir has no $StatsFile; rebuild it")
    val dec = java.util.Base64.getDecoder
    new String(Files.readAllBytes(p), "UTF-8").split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(b64, n) = line.split(" ", 2)
        (new String(dec.decode(b64), "UTF-8"), n.toLong)
      }
  }
}
