package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4, Map(
    "spark.app.name" -> "graft-tests",
    // FAIR so IngestionSpec's per-source refresh pools genuinely share
    // the cluster (pools not in an allocation file get default settings)
    "spark.scheduler.mode" -> "FAIR"))
}
