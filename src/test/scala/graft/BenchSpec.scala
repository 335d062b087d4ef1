package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile.sinkRun]], the one way a query is timed, and
  * [[Bench.measure]], the protocol around it: the fingerprint means what
  * `perfbench.Fingerprint.ofFrame` means, the sink keeps the whole plan,
  * and a result that varies between runs fails instead of timing. */
class BenchSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private val SfDir = "/root/testdata/sf0.001"

  private def fixed: DataFrame = Seq(
    (1L, "alpha", Seq(1, 2), 0.5),
    (2L, null, Seq.empty[Int], -0.0),
    (3L, "gamma", Seq(3), 1e300)).toDF("id", "name", "xs", "x")

  /** `fixed`'s wrapped hash sum, as `perfbench.Fingerprint.ofFrame` gives it. */
  private val FixedSum = 8869660173223379861L

  /** Runs `df` through the sink and returns the execution that wrote it. */
  private def sinkExecution(df: DataFrame): QueryExecution = {
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Profile.sinkRun(df)
      Iterator.continually(Option(seen.poll(30, TimeUnit.SECONDS))
          .getOrElse(fail("the sink's execution was never reported")))
        .find(_.optimizedPlan.exists(_.isInstanceOf[CollectMetrics])).get
    } finally spark.listenerManager.unregister(listener)
  }

  private def expressionCount(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum

  test("the fingerprint ignores row order, partitioning and column order; a changed or duplicated row moves it") {
    val base = (1 to 200).map(i => (i.toLong, s"w${i % 17}", i % 3 == 0)).toDF("id", "word", "flag")
    val fp = Profile.sinkRun(base)
    assert(fp.rows == 200L)
    assert(Profile.sinkRun(base.repartition(7).orderBy(desc("id"))) == fp)
    assert(Profile.sinkRun(base.coalesce(1).select("flag", "word", "id")) == fp)
    val changed = base.withColumn("word",
      when(col("id") === 42L, lit("w99")).otherwise(col("word")))
    assert(Profile.sinkRun(changed).rows == 200L)
    assert(Profile.sinkRun(changed) != fp)
    val duplicated = Profile.sinkRun(base.union(base.filter(col("id") === 7L)))
    assert(duplicated.rows == 201L)
    assert(duplicated.sum != fp.sum)
    assert(Profile.sinkRun(base.limit(0)) == Profile.Fingerprint(0L, 0L))
  }

  test("the fingerprint of a fixed frame is pinned (perfbench's Fingerprint.ofFrame agrees)") {
    assert(Profile.sinkRun(fixed) == Profile.Fingerprint(3L, FixedSum))
  }

  test("a map column is hashed by its entries in key order") {
    val m = Profile.sinkRun(spark.sql("select 1 as k, map('x', 1, 'y', 2) as m"))
    assert(Profile.sinkRun(spark.sql("select 1 as k, map('y', 2, 'x', 1) as m")) == m)
    assert(Profile.sinkRun(spark.sql("select 1 as k, map('x', 1, 'y', 3) as m")) != m)
  }

  test("the sink executes every output attribute of q31 and q148, and keeps a query's Sort") {
    assume(Files.isDirectory(Paths.get(SfDir)), s"$SfDir is missing")
    Seq("q31", "q148").foreach { key =>
      val name = SparkEntry.queries.keys.find(_.takeWhile(_ != '_') == key).get
      val df = SparkEntry.queries(name)(spark, SfDir)
      val written = sinkExecution(df).optimizedPlan
        .collectFirst { case c: CollectMetrics => c.child }.get
      assert(written.output.map(_.name) == df.columns.toSeq, name)
      assert(expressionCount(written) == expressionCount(df.queryExecution.optimizedPlan), name)
    }
    val sorted = spark.range(0, 1000, 1, 4).toDF().orderBy(desc("id"))
    assert(collect(sinkExecution(sorted).executedPlan) { case s: SortExec => s }.nonEmpty)
  }

  test("a frame whose result varies between runs is a FingerprintMismatch, not a time") {
    val varying = Bench.measure(spark, () => spark.range(200).select(rand().as("r")))
    assert(varying.error.contains("FingerprintMismatch"))
    assert(varying.runs.isEmpty)
    val steady = Bench.measure(spark, () => fixed)
    assert(steady.error.isEmpty)
    assert(steady.runs.size == Bench.TimedRuns)
    assert(steady.fingerprint.contains(Profile.Fingerprint(3L, FixedSum)))
  }
}
