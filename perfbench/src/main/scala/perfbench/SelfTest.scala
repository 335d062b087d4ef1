package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Self-tests for the harness's helpers: `python3 perfbench/run.py --selftest`.
  * Prints one PASS/FAIL line per check and exits non-zero on any failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    check("median: odd count, with its sample count") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), (2.0, 3))
    }
    check("median: even count takes the midpoint") {
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), (2.5, 4))
    }
    check("median: no samples is an error") {
      eq(scala.util.Try(Stats.median(Nil)).isFailure, true)
    }
    check("interval union: overlap, nesting, touching, clipping") {
      eq(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L), 25L)
      eq(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0L, 100L), 10L)
      eq(Stats.unionLength(Seq((5L, 10L), (0L, 5L)), 0L, 100L), 10L)
      eq(Stats.unionLength(Seq((-5L, 5L), (8L, 20L)), 0L, 10L), 7L)
      eq(Stats.unionLength(Nil, 0L, 10L), 0L)
    }
    check("driver gap: op wall minus the job union") {
      eq(Stats.driverGap(100L, 200L, Seq((110L, 120L), (115L, 130L), (150L, 160L))), 70L)
      eq(Stats.driverGap(100L, 200L, Nil), 100L)
      eq(Stats.driverGap(100L, 200L, Seq((90L, 210L))), 0L)
    }
    check("warm-up has levelled off once its last op is within 20% of the window's median") {
      eq(Workload.levelled(Seq(6.3, 5.0, 4.1), 3.3), false)
      eq(Workload.levelled(Seq(6.3, 5.0, 3.8), 3.3), true)
      eq(Workload.levelled(Seq(), 3.3), false)
    }
    check("fingerprint of driver rows ignores order, sees a changed or repeated row") {
      val rows = Seq(Row(1L, "a", Seq(1, 2)), Row(2L, "b", Seq(3)), Row(3L, null, Seq()))
      val f = Fingerprint.ofRows(rows)
      eq(Fingerprint.ofRows(rows.reverse), f)
      eq(Fingerprint.ofRows(Seq(rows(1), rows(2), rows(0))), f)
      eq(Fingerprint.ofRows(rows.updated(1, Row(2L, "c", Seq(3)))) == f, false)
      eq(Fingerprint.ofRows(rows :+ rows(0)) == f, false)
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      check("fingerprint of a frame ignores row order, partitioning and column order") {
        val df = spark.range(0, 500).select(col("id"), (col("id") % 7).as("k"),
          concat(lit("t"), col("id").cast("string")).as("s"))
        val f = Fingerprint.ofFrame(df)
        eq(f.rows, 500L)
        eq(Fingerprint.ofFrame(df.repartition(5).orderBy(col("id").desc)), f)
        eq(Fingerprint.ofFrame(df.select("s", "id", "k")), f)
        eq(Fingerprint.ofFrame(df.filter(col("id") =!= 7)) == f, false)
        eq(Fingerprint.ofFrame(df.union(df.limit(1))) == f, false)
      }
      check("jobs from concurrent producer threads are attributed to their own op") {
        val l = new JobListener
        spark.sparkContext.addSparkListener(l)
        val tr = new Tracer(enabled = true, spark.sparkContext)
        spark.range(10).collect() // before any op: unattributed
        val threads = (0 until 4).map { k =>
          val t = new Thread(() => tr.op(s"op-$k", "x") {
            (0 to k).foreach(_ => spark.range(100 * (k + 1)).collect())
            // a thread the op spawns inherits the op's job group
            val child = new Thread(() => spark.range(5).collect())
            child.start(); child.join()
          })
          t.start(); t
        }
        threads.foreach(_.join())
        l.quiesce()
        (0 until 4).foreach(k => eq(l.jobsOf(s"op-$k").size, k + 2))
        eq(l.jobs.values.toArray.count(_.asInstanceOf[JobRec].group == null), 1)
        val ops = (0 until 4).map { k =>
          val js = l.jobsOf(s"op-$k")
          Layers.OpWindow(s"op-$k", js.map(_.start).min, js.map(_.end).max)
        }
        val m = Layers.spark(l, ops, 0L, Long.MaxValue).toMap
        eq(m("spark.jobs"), (2 + 3 + 4 + 5) / 4.0)
        eq(m("spark.unattributed_jobs"), 1.0)
      }
    } finally spark.stop()
    println(if (failures == 0) "SELFTEST OK" else s"SELFTEST FAILED ($failures)")
    if (failures > 0) sys.exit(1)
  }
}
