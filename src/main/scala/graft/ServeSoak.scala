package graft


/** Multi-process serving soak — one trainer-shaped serving session as a
  * standalone main, designed to run CONCURRENTLY with itself from
  * several JVMs against the SAME staged index namespace:
  *
  * ```
  * SPARK_GRAFT_INDEX_DIR=/tmp/soak_ns sbt "runMain graft.ServeSoak /root/testdata/sf0.01 6" &
  * SPARK_GRAFT_INDEX_DIR=/tmp/soak_ns sbt "runMain graft.ServeSoak /root/testdata/sf0.01 6" &
  * ```
  *
  * Both processes race the mix bundle's load-or-build: the per-path
  * FileChannel lock in [[graft.queries.ComposedIndexQueries]] serializes
  * the build cross-process, the loser re-checks the published
  * fingerprint inside its lock and LOADS instead of rebuilding, and
  * `.tmp-<pid>` staging keeps a non-POSIX fs from tearing a half-written
  * publish. Each process then draws `n` sequential state-threaded
  * batches and prints a content digest over the delivered core rows —
  * two processes printing the SAME digest proves concurrent
  * load-or-build + serve end-to-end (same staged generation, same
  * stateless-draw stream).
  *
  * Output: one line `SOAK {"digest":"…","batches":n,"rows":N}`.
  */
object ServeSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val n = args.lift(1).map(_.toInt).getOrElse(6)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (chunks, pool, recipes, ridx, stats) =
        graft.queries.RecipeQueries.mixServing(spark, sfDir)
      val batch = graft.queries.RecipeQueries.MixBatch
      var st = graft.operators.SamplerState(
        graft.queries.RecipeQueries.MixSeed, 0L, Map.empty)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var rows = 0L
      (0 until n).foreach { _ =>
        val b = graft.operators.Sampler.nextBatch(spark, chunks, pool, recipes,
          st, batch, rankIndex = Some(ridx), srcStats = stats)
        val core = b.core
          .select("draw", "epoch", "recipe", "record_id", "a_hash", "p_hash", "nid", "n_hash")
          .collect()
          .map(_.toString).sorted
        core.foreach(s => md.update(s.getBytes("UTF-8")))
        rows += core.length
        st = b.state
      }
      val digest = md.digest().map(b => f"$b%02x").mkString.take(32)
      println(s"""SOAK {"digest":"$digest","batches":$n,"rows":$rows}""")
    } finally spark.stop()
  }
}
