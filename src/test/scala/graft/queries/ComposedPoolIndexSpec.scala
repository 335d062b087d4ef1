package graft.queries

import graft.TestSpark
import graft.operators.{Bm25PoolIndex, PoolRankIndex, Sampler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Builder↔server parity for EVERY composed pool the serving lanes
  * reconstitute from a persisted index (the round-11 refactor): for each
  * of mix/tmp/bmx/fbk/prx/txx, the parquet-round-tripped
  * [[PoolRankIndex]] must equal the in-plan [[Sampler.rankSidecar]]
  * derivation row for row, and the pool the lane rebuilds FROM the index
  * (id-pure columns reattached — tmp's `tmpAttach`, mix/fbk's date) must
  * equal the pool it was built from. Any builder/server definition drift
  * breaks here before it breaks an oracle hash.
  */
class ComposedPoolIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def roundTrip(build: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cpx").toString + "/idx"
    PoolRankIndex.save(PoolRankIndex.build(build), dir)
    PoolRankIndex.load(spark, dir)
  }

  private def derived(pool: DataFrame): DataFrame = {
    val srcCounts = pool.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    Sampler.rankSidecar(pool, srcCounts)
  }

  private val pools: Seq[(String, DataFrame)] = {
    val s = spark
    Seq(
      "mix" -> RecipeQueries.mixPool(s, sfDir),
      "tmp" -> RecipeQueries.tmpPool(s, sfDir),
      "bmx" -> RecipeQueries.bmxPool(s, sfDir),
      "fbk" -> RecipeQueries.fbPool(s, sfDir),
      "prx" -> RecipeQueries.prPool(s, sfDir),
      "txx" -> RecipeQueries.txPool(s, sfDir))
  }

  test("all six pools: parquet-round-tripped rank index == in-plan sidecar") {
    pools.foreach { case (tag, pool) =>
      val ix = roundTrip(pool)
      val dv = derived(pool)
      assert(ix.columns.sorted.sameElements(dv.columns.sorted), s"$tag columns")
      val got = rows(ix.select(dv.columns.map(col).toSeq: _*))
      val want = rows(dv)
      assert(got.nonEmpty, s"$tag empty")
      assert(got == want, s"$tag rank index != derived sidecar")
    }
  }

  test("index-reconstituted pools == definition pools (incl. tmpAttach and dates)") {
    // exactly the reconstruction each serving lane performs
    def recon(tag: String, ix: DataFrame): DataFrame = tag match {
      case "mix" | "fbk" => ix.select(col("id"), col("source"), col("date"))
      case "tmp" => RecipeQueries.tmpAttach(ix.select(col("id"), col("source")))
      case _ => ix.select(col("id"), col("source"))
    }
    pools.foreach { case (tag, pool) =>
      val ix = roundTrip(pool)
      val want = rows(pool.drop("btoks")) // bmx: btoks live in the bm25 sidecar
      val got = rows(recon(tag, ix))
      assert(got == want, s"$tag reconstituted pool != definition pool")
    }
  }

  test("bmx: parquet-round-tripped Bm25PoolIndex == in-plan derivation") {
    val pool = RecipeQueries.bmxPool(spark, sfDir)
    val dv = Bm25PoolIndex.fromPool(pool)
    val dir = java.nio.file.Files.createTempDirectory("graft_cpx_bm").toString + "/idx"
    Bm25PoolIndex.save(dv, dir)
    val ix = Bm25PoolIndex.load(spark, dir)
    assert(rows(ix.postings.select(dv.postings.columns.map(col).toSeq: _*))
      == rows(dv.postings))
    assert(rows(ix.srcStats.select(dv.srcStats.columns.map(col).toSeq: _*))
      == rows(dv.srcStats))
    assert(rows(ix.wterm.select(dv.wterm.columns.map(col).toSeq: _*)) == rows(dv.wterm))
    // a generation without the staged wterm table cannot serve
    graft.operators.Staging.rmTree(java.nio.file.Paths.get(s"$dir/wterm"))
    intercept[IllegalArgumentException](Bm25PoolIndex.load(spark, dir))
  }

  test("ComposedIndexQueries load-or-build: build then warm-load, both == derived") {
    // a spec-only tag so this never collides with the serving lanes'
    // cache entries under the shared /tmp root
    val pool = RecipeQueries.prPool(spark, sfDir)
    val a = ComposedIndexQueries.rankIndex(spark, sfDir, "spec_prx", pool)
    val b = ComposedIndexQueries.rankIndex(spark, sfDir, "spec_prx", pool)
    assert(rows(a) == rows(b))
    assert(rows(a) == rows(derived(pool)))
  }

  test("rank index without srcStats fails at the call") {
    import spark.implicits._
    // the sampler serves only from a staging: the rank sidecar and its
    // per-source stats come together, so a rank index without its stats
    // (or stats without a rank index) is refused before any job runs
    val docs = (1 to 12).map(i =>
      (i.toLong, (s"head$i topic$i overview" +: (1 to 40).map(j => s"w${i}_$j")).mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = RecipeQueries.chunkTable(docs)
    val pool = (1 to 12).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "source")
    val (ridx, stats) = PoolRankIndex.stage(pool)
    val recipes = Seq(graft.operators.TripletRecipe("dg",
      graft.operators.Selector.RoleAnchor, graft.operators.Selector.RoleContext,
      graft.operators.NegativeStrategy.WrongArticle))
    def batch(ranks: Option[DataFrame], st: Option[Seq[(String, Long)]]) =
      Sampler.nextBatch(spark, chunks, pool, recipes,
        graft.operators.SamplerState("dg", 0L, Map.empty), batch = 4,
        rankIndex = ranks, srcStats = st)
    val noStats = intercept[IllegalArgumentException](batch(Some(ridx), None))
    assert(noStats.getMessage.contains("srcStats is required"))
    val noRanks = intercept[IllegalArgumentException](batch(None, Some(stats)))
    assert(noRanks.getMessage.contains("rankIndex is required"))
    // the complete staging serves
    assert(batch(Some(ridx), Some(stats)).core.count() > 0)
  }

  test("all six lanes: staged chunk index == in-plan chunkTable derivation") {
    Seq("mix" -> RecipeQueries.MixWhere, "tmp" -> RecipeQueries.TmpWhere,
      "bmx" -> RecipeQueries.BmxWhere, "fbk" -> RecipeQueries.FbWhere,
      "prx" -> RecipeQueries.PrWhere, "txx" -> RecipeQueries.TxWhere)
      .foreach { case (tag, where) =>
        val dv = RecipeQueries.chunkTable(
          RecipeQueries.composedDocs(spark, sfDir, where))
        val ix = RecipeQueries.stagedChunks(spark, sfDir, tag, where)
        assert(ix.columns.sameElements(dv.columns), s"$tag chunk columns")
        // parquet reads are nullable-by-default; names+types must match
        assert(ix.schema.map(f => (f.name, f.dataType))
          == dv.schema.map(f => (f.name, f.dataType)),
          s"$tag chunk schema (types must round-trip)")
        val got = rows(ix)
        assert(got.nonEmpty, s"$tag chunk index empty")
        assert(got == rows(dv), s"$tag staged chunks != derived chunk table")
      }
  }
}
