package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every main and test harness
  * asks for `local(cpus, overrides)`.
  *
  * Precedence, highest first: a `spark.*` JVM system property (which
  * `SparkConf` loads on its own, so `-Dspark.sql.adaptive.enabled=false`
  * or `-Dspark.master=local[2]` on any main needs no extra knob), then the
  * caller's `overrides`, then [[defaults]]. `SPARK_GRAFT_CPUS` sizes the
  * session when the caller does not.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, or 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** The keys every session shares. Shuffle partitions follow the core
    * count; 'simple' explain mode skips the formatted-mode annotation pass
    * the SQL listener would otherwise run per AQE stage update on the big
    * composed plans. */
  def defaults(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.ui.explainMode" -> "simple",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")

  /** `base` (by default Spark's own load of the `spark.*` system
    * properties) with every default and override it does not already set. */
  def conf(cpus: Int, overrides: Map[String, String],
      base: SparkConf = new SparkConf()): SparkConf = {
    (defaults(cpus) ++ overrides).foreach { case (k, v) => base.setIfMissing(k, v) }
    base
  }

  def local(cpus: Int = Sessions.cpus, overrides: Map[String, String] = Map.empty): SparkSession =
    SparkSession.builder().config(conf(cpus, overrides)).getOrCreate()
}
