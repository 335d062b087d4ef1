package graft

import graft.operators.Dedup
import graft.streaming.CorpusStream
import graft.streaming.CorpusStream.{IntakeConfig, VerifiedPair}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Laws for the intake's driver-side decisions (the exact lane's
  * [[CorpusStream.keepMinPerHash]] and the near-dup
  * [[CorpusStream.nearDupDrops]]) and the Spark work one
  * [[CorpusStream.applyBatch]] leaves: the rule cases need no Spark; the
  * comparison cases run [[Dedup.connectedComponents]] on the same
  * graphs. */
class IntakeDecisionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def newNew(edges: Seq[(Long, Long)]) =
    edges.map { case (a, b) => VerifiedPair(a, true, b, true) }

  /** The keep-min drop set the Spark operators give: pairs with exactly
    * one new endpoint drop it, then `connectedComponents` over the
    * new–new edges between the remaining new docs drops every
    * non-minimum member. */
  private def viaComponents(pairs: Seq[VerifiedPair]): Set[Long] = {
    import spark.implicits._
    val vsOld = pairs.collect {
      case VerifiedPair(a, true, _, false) => a
      case VerifiedPair(_, false, b, true) => b
    }.toSet
    val edges = pairs.filter(p => p.aNew && p.bNew && !vsOld(p.a) && !vsOld(p.b))
      .map(p => (p.a, p.b))
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val comps = Dedup.connectedComponents(nodes.toDF("id"), edges.toDF("a", "b"))
    vsOld ++ comps.filter(col("id") =!= col("cluster")).collect().map(_.getLong(0))
  }

  test("keepMinPerHash == row_number keep-min per content hash, in any input order") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    val ids = rnd.shuffle((1L to 300L).toList)
    // hashes from a small range, so groups collide; every 17th is null
    val rows = ids.map(id => (id, if (id % 17 == 0) None else Some(rnd.nextInt(60).toLong), s"t$id"))
    val df = rows.toDF("doc_id", "content_hash", "text")
    val viaWindow = df
      .withColumn("rk", row_number().over(Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
      .filter(col("rk") === 1).select(col("doc_id")).as[Long].collect().sorted.toSeq
    val collected = df.collect().toSeq
    val picked = CorpusStream.keepMinPerHash(collected).map(_.getAs[Long]("doc_id"))
    assert(picked == viaWindow)
    assert(CorpusStream.keepMinPerHash(rnd.shuffle(collected)) == CorpusStream.keepMinPerHash(collected))
    assert(CorpusStream.keepMinPerHash(Seq.empty).isEmpty)
  }

  test("nearDupDrops == connectedComponents keep-min: chain, cliques, stars, duplicates, empty") {
    val chain = (1L until 200L).map(i => (i, i + 1))
    val cliques = for {
      base <- Seq(1000L, 2000L); i <- 0L until 6L; j <- (i + 1) until 6L
    } yield (base + i, base + j)
    val stars = (1L to 12L).map(i => (3000L + i, 3000L)) ++ (1L to 5L).map(i => (4000L, 4000L + i))
    // the same edges again, reversed and duplicated
    val noisy = (cliques ++ stars).flatMap { case (a, b) => Seq((a, b), (b, a), (a, b)) }
    for ((name, edges) <- Seq("chain" -> chain, "cliques" -> cliques, "stars" -> stars,
        "noisy" -> noisy, "chain reversed" -> chain.reverse.map(_.swap))) {
      val pairs = newNew(edges)
      assert(CorpusStream.nearDupDrops(pairs) == viaComponents(pairs), name)
    }
    assert(CorpusStream.nearDupDrops(newNew(chain)) == (2L to 200L).toSet)
    assert(CorpusStream.nearDupDrops(Nil).isEmpty)
  }

  test("nearDupDrops == connectedComponents keep-min on random graphs with standing docs") {
    val rng = new scala.util.Random(20261019L)
    (0 until 8).foreach { g =>
      val n = 10 + rng.nextInt(40)
      val isNew = (0 until n).map(_ => rng.nextInt(5) > 0)
      val pairs = (0 until rng.nextInt(3 * n)).flatMap { _ =>
        val (x, y) = (rng.nextInt(n), rng.nextInt(n))
        // candidates always touch a new doc (the new side drives the join)
        if (x == y || !(isNew(x) || isNew(y))) None
        else Some(VerifiedPair(x.toLong, isNew(x), y.toLong, isNew(y)))
      }
      val got = CorpusStream.nearDupDrops(pairs)
      assert(got == viaComponents(pairs), s"graph $g")
      // order-independent: the same pairs shuffled decide the same drops
      assert(CorpusStream.nearDupDrops(rng.shuffle(pairs)) == got, s"graph $g shuffled")
    }
  }

  test("a doc dropped against the standing corpus cannot take its new–new neighbour with it") {
    // old X=1 – new Y=5, new Y=5 – new Z=9: Y drops vs X; Z, whose only
    // new–new edge is to a dropped doc, stays
    val pairs = Seq(VerifiedPair(1L, false, 5L, true), VerifiedPair(5L, true, 9L, true))
    assert(CorpusStream.nearDupDrops(pairs) == Set(5L))
    assert(CorpusStream.nearDupDrops(pairs.reverse) == Set(5L))
    // the kept-min of a new–new component is still kept when a larger
    // member drops vs old: {3, 5, 9} minus 5 (vs old) leaves 3 and 9 apart
    val tri = pairs :+ VerifiedPair(3L, true, 5L, true)
    assert(CorpusStream.nearDupDrops(tri) == Set(5L))
    assert(CorpusStream.nearDupDrops(tri :+ VerifiedPair(3L, true, 9L, true)) == Set(5L, 9L))
  }

  // 24-token texts; a "2" variant differs only in the final token and
  // verifies against its base at the 6/8 bar (CorpusStreamSpec's fixture
  // sanity test asserts these same texts)
  private def long24(ts: Seq[String]) = { require(ts.size == 24); ts.mkString(" ") }
  private val greek = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
    "pi", "rho", "sigma", "tau", "upsilon", "phi", "chi", "psi")
  private val colors = Seq("red", "orange", "yellow", "green", "blue", "indigo",
    "violet", "umber", "sepia", "ochre", "teal", "cyan", "magenta", "maroon",
    "olive", "navy", "coral", "ivory", "beige", "plum", "mint", "rose", "jade")
  private val dirs = Seq("north", "south", "east", "west", "up", "down",
    "left", "right", "fore", "aft", "port", "starboard", "windward",
    "leeward", "inboard", "outboard", "ahead", "astern", "above", "below",
    "inside", "outside", "across")
  private val nums = Seq("one", "two", "three", "four", "five", "six", "seven",
    "eight", "nine", "ten", "eleven", "twelve", "thirteen", "fourteen",
    "fifteen", "sixteen", "seventeen", "eighteen", "nineteen", "twenty",
    "thirty", "forty", "fifty", "sixty")

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("applyBatch on a standing state with new–new and new–old near-dups starts ≤ 24 jobs") {
    val cfg = IntakeConfig()
    val stateDir = Files.createTempDirectory("graft_intake_jobs").toString
    CorpusStream.applyBatch(spark, df(Seq(1L -> long24(greek :+ "omega"),
      4L -> long24(nums), 12L -> long24(colors :+ "gold"))), 0L, stateDir, cfg)
    // 11 near-dup of standing 1; 22 near-dup of standing 12; 20/21 a
    // new–new pair (keep 20); 30 an exact dup of standing 1
    val batch = df(Seq(11L -> long24(greek :+ "digamma"), 20L -> long24(dirs :+ "beyond"),
      21L -> long24(dirs :+ "between"), 22L -> long24(colors :+ "silver"),
      30L -> long24(greek :+ "omega")))
    val run = Profile.jobsIn(spark.sparkContext, "intake-apply") {
      CorpusStream.applyBatch(spark, batch, 1L, stateDir, cfg)
    }
    assert(CorpusStream.corpus(spark, stateDir).get.select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L, 12L, 20L))
    assert(run.result == 1L)
    val jobs = run.jobs.size
    info(s"applyBatch started $jobs Spark jobs")
    assert(jobs <= 24, s"applyBatch started $jobs Spark jobs")
  }
}
