package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The composed-sampler golden matrix replayed across REAL executor
  * boundaries — `local-cluster[2,8,4096]` launches two separate executor
  * JVMs, so closures genuinely serialize, broadcasts ship over the wire,
  * and shuffle files cross processes: the behaviors a single-JVM
  * `local[n]` run can never exercise. The pins are the SAME committed
  * digests [[InvariantsSpec]] gates on (the stateless-draw law makes the
  * sequence master-invariant), so any divergence here isolates an
  * executor-boundary defect, not a semantic one.
  *
  * Env-gated (`GRAFT_CLUSTER_TESTS=1`) because local-cluster forks
  * executor JVMs from a full Spark distribution (`SPARK_HOME` must point
  * at one) and must own the JVM's single SparkContext — run it alone.
  * `SPARK_SCALA_VERSION` is required too: the binary dist normally sets
  * it in load-spark-env.sh, which an in-JVM worker never runs — without
  * it the executor launcher dies with "Cannot find any build
  * directories":
  *
  *   GRAFT_CLUSTER_TESTS=1 SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     sbt "testOnly graft.ClusterGoldenSpec"
  *
  * The recorded run lives in COVERAGE.md (local-cluster row).
  */
class ClusterGoldenSpec extends AnyFunSuite with GoldenHarness {

  private val enabled = sys.env.get("GRAFT_CLUSTER_TESTS").contains("1") &&
    sys.env.contains("SPARK_HOME")

  protected lazy val spark: SparkSession = {
    // executors are fresh JVMs built from SPARK_HOME's classpath: the
    // application classes (graft + this test harness) ship via
    // extraClassPath, exactly like --jars on a real cluster submit
    val classes = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    Sessions.local(8, Map(
      "spark.master" -> "local-cluster[2,8,4096]",
      "spark.app.name" -> "graft-cluster-golden",
      "spark.executor.extraClassPath" -> classes,
      "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse_cluster"))
  }

  test("golden matrix: all six 45-batch pins hold across executor boundaries") {
    assume(enabled, "set GRAFT_CLUSTER_TESTS=1 and SPARK_HOME to run")
    val got = goldenMatrix.map { case (cname, recipes, dated, dec) =>
      val (b1, _, end1) = runGolden(batch = 8, nBatches = 45, parts = 4,
        recipes = recipes, seed = s"gm:$cname", dated = dated,
        cols = goldenCols :+ "reason", decoration = dec)
      assert(end1.epoch == 14L && end1.counter("draw") == 360L,
        s"$cname: expected 14 epoch wraps inside the pinned window")
      cname -> seqDigest(b1)
    }.toMap
    assert(got == MatrixPins, s"cluster-mode golden matrix drift: $got")
  }

  test("persisted indexes deliver identical sequences across executor boundaries") {
    assume(enabled, "set GRAFT_CLUSTER_TESTS=1 and SPARK_HOME to run")
    // rank-index-backed and bm25-index-backed runs (parquet sidecars read
    // by executor JVMs) against the same committed pins
    val (bRank, _, _) = runGolden(batch = 8, nBatches = 45, parts = 4,
      seed = "gm:default", cols = goldenCols :+ "reason", persistIndex = true)
    assert(seqDigest(bRank) == MatrixPins("default"),
      "rank-index-backed sequence diverged on local-cluster")
    val bmCfg = goldenMatrix.collect { case ("bm25", r, _, _) => r }.head
    val (bBm, _, _) = runGolden(batch = 8, nBatches = 45, parts = 4,
      recipes = bmCfg, seed = "gm:bm25", cols = goldenCols :+ "reason",
      persistIndex = true)
    assert(seqDigest(bBm) == MatrixPins("bm25"),
      "bm25-index-backed sequence diverged on local-cluster")
  }

  test("q145 composed index build + a served batch run on local-cluster") {
    assume(enabled, "set GRAFT_CLUSTER_TESTS=1 and SPARK_HOME to run")
    val dir = "/root/testdata/sf0.001"
    // the refresh step: build/validate every persisted sidecar with
    // executor-side parquet writes
    val built = SparkEntry.queries("q145_composed_index_build")(spark, dir)
      .collect()
    assert(built.length == 6, s"expected 6 pool index rows, got ${built.length}")
    // one served batch over the staged mix bundle — staged-index reads,
    // broadcasts, and the batch plan all cross the executor boundary
    val (chunks, pool, recipes, ridx, stats) =
      graft.queries.RecipeQueries.mixServing(spark, dir)
    val b = graft.operators.Sampler.nextBatch(spark, chunks, pool, recipes,
      graft.operators.SamplerState(graft.queries.RecipeQueries.MixSeed, 0L, Map.empty),
      graft.queries.RecipeQueries.MixBatch, rankIndex = Some(ridx), srcStats = stats)
    assert(b.rows.collect().length == graft.queries.RecipeQueries.MixBatch)
  }
}
