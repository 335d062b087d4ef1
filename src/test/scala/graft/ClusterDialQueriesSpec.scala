package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The round-16 scale-dial queries replayed across REAL executor
  * boundaries. The dials (planes95 buckets, derived simhash width, √n
  * SemDeDup cells) are count-derived Scala literals baked into the plan,
  * so the interesting cluster surface is everything around them:
  * closures with the derived constants serialize to separate executor
  * JVMs, the centroid/bucket frames broadcast over the wire, the
  * banded/celled self-joins shuffle files across processes, and q95's
  * min-label propagation runs its multi-round join loop with a
  * localCheckpoint per round on executor block stores.
  *
  * No pinned digests: the spec runs each query on `local-cluster[2,8,
  * 4096]`, stops that context, reruns on `local[8]` in the same JVM and
  * compares canonical row sets — a divergence isolates an
  * executor-boundary defect with no committed constant to go stale.
  *
  * Env-gated like [[ClusterGoldenSpec]] (it must own the JVM's single
  * SparkContext — run it alone):
  *
  *   GRAFT_CLUSTER_TESTS=1 SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     sbt "testOnly graft.ClusterDialQueriesSpec"
  *
  * The recorded run lives in COVERAGE.md (local-cluster row).
  */
class ClusterDialQueriesSpec extends AnyFunSuite {

  private val enabled = sys.env.get("GRAFT_CLUSTER_TESTS").contains("1") &&
    sys.env.contains("SPARK_HOME")

  private val SfDir = "/root/testdata/sf0.01"
  private val Queries = Seq(
    "q27_neardup_same_bucket", "q28_simhash_neardup_pairs",
    "q95_embedding_dedup_clusters", "q152_semdedup")

  private def session(master: String): SparkSession = {
    val classes = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    Sessions.local(8, Map(
      "spark.master" -> master,
      "spark.app.name" -> "graft-cluster-dials",
      "spark.executor.extraClassPath" -> classes,
      "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse_cluster"))
  }

  /** Canonical, ordering-free view of a result: every row rendered on
    * the DRIVER (same toString code path for both masters), sorted. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("dial queries agree row-for-row between local-cluster and local masters") {
    assume(enabled, "set GRAFT_CLUSTER_TESTS=1 and SPARK_HOME to run")
    val onCluster = {
      val s = session("local-cluster[2,8,4096]")
      try Queries.map(q => q -> canon(SparkEntry.queries(q)(s, SfDir)))
      finally s.stop()
    }
    // same JVM, fresh local context: the comparison baseline runs the
    // identical code with no executor boundary
    val local = {
      val s = session("local[8]")
      try Queries.map(q => q -> canon(SparkEntry.queries(q)(s, SfDir))).toMap
      finally s.stop()
    }
    onCluster.foreach { case (q, rows) =>
      assert(rows.nonEmpty, s"$q returned no rows on local-cluster")
      assert(rows == local(q),
        s"$q diverged across the executor boundary " +
          s"(${rows.size} cluster rows vs ${local(q).size} local)")
    }
  }
}
