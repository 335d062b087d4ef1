package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The mix lane's serving constants and its two staging calls, exactly as
  * [[RecipeQueries.mixServing]] makes them, exposed so the benchmark can
  * time chunk staging and rank staging as separate calls. */
object PerfbenchAccess {
  val MixSeed: String = RecipeQueries.MixSeed
  val MixBatch: Int = RecipeQueries.MixBatch

  def stageChunks(s: SparkSession, dir: String): DataFrame =
    RecipeQueries.stagedChunks(s, dir, "mix", RecipeQueries.MixWhere)

  def stageRanks(s: SparkSession, dir: String): (DataFrame, Option[Seq[(String, Long)]]) =
    ComposedIndexQueries.rankIndexAndStats(s, dir, "mix", RecipeQueries.mixPool(s, dir))
}
