package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def eval1(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).collect()(0).get(0)

  test("normalizeWs collapses runs and trims") {
    assert(eval1(TextFunctions.normalizeWs(lit("  a \t b\n\nc "))) == "a b c")
  }

  test("tokens of blank text is empty; tokenCount matches") {
    assert(eval1(size(TextFunctions.tokens(lit("   ")))) == 0)
    assert(eval1(TextFunctions.tokenCount(lit("one  two\tthree"))) == 3)
  }

  test("digit/alpha counts and ratio") {
    assert(eval1(TextFunctions.digitCount(lit("a1b22"))) == 3)
    assert(eval1(TextFunctions.alphaCount(lit("a1b22"))) == 2)
    assert(eval1(TextFunctions.digitRatio(lit("!!!"))) == 0.0)
    assert(eval1(TextFunctions.digitRatio(lit("a1"))) == 0.5)
  }

  test("sentence mark count") {
    assert(eval1(TextFunctions.sentenceMarkCount(lit("Hi. There! Ok? end."))) == 4)
  }

  test("shingles: 3-grams, or whole text when short") {
    val toks = TextFunctions.tokens(lit("a b c d"))
    assert(eval1(Dedup.shingles(toks, 3)) == Seq("a b c", "b c d"))
    val short = TextFunctions.tokens(lit("a b"))
    assert(eval1(Dedup.shingles(short, 3)) == Seq("a b"))
  }

  test("langId picks dominant stopword profile, first profile wins ties") {
    assert(eval1(TextAnalysis.langId(TextFunctions.tokens(lit("the cat and the dog")))) == "en")
    assert(eval1(TextAnalysis.langId(TextFunctions.tokens(lit("der hund ist nicht da")))) == "de")
    assert(eval1(TextAnalysis.langId(TextFunctions.tokens(lit("zzz qqq www")))) == "und")
  }

  test("cosine of identical vectors is ~1e6 and symmetric bounds hold") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, -0.25f, 0.125f)), (2L, Array(0.5f, -0.25f, 0.125f)),
      (3L, Array(-0.5f, 0.25f, -0.125f))).toDF("id", "emb")
    val a = df.filter(col("id") === 1).select(col("emb").as("a"))
    val b = df.filter(col("id") === 2).select(col("emb").as("b"))
    val c = df.filter(col("id") === 3).select(col("emb").as("c"))
    val cosSame = a.crossJoin(b).select(
      Similarity.cosE6(Similarity.dotE3(col("a"), col("b")),
        Similarity.normE3(col("a")), Similarity.normE3(col("b"))).as("v"))
      .collect()(0).getLong(0)
    assert(cosSame >= 999999L && cosSame <= 1000000L)
    val cosOpp = a.crossJoin(c).select(
      Similarity.cosE6(Similarity.dotE3(col("a"), col("c")),
        Similarity.normE3(col("a")), Similarity.normE3(col("c"))).as("v"))
      .collect()(0).getLong(0)
    assert(cosOpp <= -999999L)
  }

  test("simhash and minhash signatures are partition-invariant") {
    import spark.implicits._
    val docs = (1 to 50).map(i => (i.toLong, (1 to 20).map(j => s"tok${(i * j) % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    def run(parts: Int) = {
      val sig = Dedup.simhashSignature(docs.repartition(parts), "doc_id", "text", 16)
      val mh = Dedup.minhashSignatures(docs.repartition(parts), "doc_id", "text", 4, 3)
      (sig.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq,
        mh.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
    }
    assert(run(1) == run(7))
  }

  test("connected components resolve pair edges into min-id clusters, partition-invariant") {
    import spark.implicits._
    // 10 nodes; edges form {1,2,3} (chain), {4,5}, {7,8,9} (chain through 8);
    // 6 and 10 are singletons
    val nodes = (1L to 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (8L, 7L), (8L, 9L)).toDF("a", "b")
    def run(parts: Int) =
      Dedup.connectedComponents(nodes.repartition(parts), edges.repartition(parts))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val got = run(1)
    assert(got == run(13))
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 10L))
    assert(got.map(_._2).distinct.size == 5) // cluster count stable
  }

  test("pointer jumping resolves a 200-node chain in O(log diameter) rounds") {
    import spark.implicits._
    // worst case for plain hash-min: one long path (each near-dup pair
    // chains to the next), diameter 199 — hash-min alone would need ~200
    // rounds and would hit maxIter; the jump halves the remaining path
    // per round, so the whole chain must collapse to cluster 1 in <= 10
    val n = 200L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(nodes, edges)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), "every chain node joins cluster 1")
    assert(rounds <= 10, s"log-convergence law: $rounds rounds for diameter ${n - 1}")
  }

  test("native dot_e3 matches the composed higher-order form") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 100).map { i =>
      (i.toLong,
        Array.fill(16)((rnd.nextFloat() - 0.5f) * 4f),
        Array.fill(16)((rnd.nextFloat() - 0.5f) * 4f))
    } :+ ((101L, Array.empty[Float], Array.empty[Float]))
    val cmp = rows.toDF("id", "a", "b").select(
      Similarity.dotE3(col("a"), col("b")).as("n"),
      Similarity.dotE3Composed(col("a"), col("b")).as("c"),
      Similarity.normE3(col("a")).as("nn"),
      Similarity.normE3Composed(col("a")).as("cc"))
    assert(cmp.filter(col("n") =!= col("c") || col("nn") =!= col("cc")).count() == 0)
    assert(cmp.filter(col("n").isNull || col("nn").isNull).count() == 0)
    // exact float tie 0.0625*1000 = 62.5 rounds AWAY FROM ZERO both ways
    // (Math.round would give -62 for the negative side)
    val tie = Seq((Array(-0.0625f, 0.0625f), Array(1f, 1f))).toDF("a", "b")
    val t = tie.select(Similarity.dotE3(col("a"), col("b")).as("n"),
      Similarity.dotE3Composed(col("a"), col("b")).as("c")).head()
    assert(t.getLong(0) == 0L && t.getLong(1) == 0L) // -63000 + 63000
    // unequal lengths: both forms yield null
    val uneq = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    val u = uneq.select(Similarity.dotE3(col("a"), col("b")),
      Similarity.dotE3Composed(col("a"), col("b"))).head()
    assert(u.isNullAt(0) && u.isNullAt(1))
  }

  test("incrementalCandidatePairs = full candidate pairs minus old-old") {
    import spark.implicits._
    // identical docs within each i%5 group so LSH genuinely collides
    val docs = (1L to 30L).map(i => (i, s"shared common prefix tokens g${i % 5} " * 3))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
      .withColumn("is_new", col("doc_id") % 3 === 0)
    val full = Dedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.incrementalCandidatePairs(sigs, "doc_id", "is_new", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
    assert(inc.nonEmpty && inc == expected)
  }

  test("incremental refresh reproduces the full-recompute clusters") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, s"shared common prefix tokens g${i % 5} " * 3))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
      .withColumn("is_new", col("doc_id") % 3 === 0)
    val nodes = docs.select(col("doc_id").as("id"))
    val full = Dedup.lshCandidatePairs(sigs, "doc_id", 4, 2).cache()
    // the standing index only stored old-old pairs; the refresh unions
    // them with the incremental scan — clusters must equal a recompute
    val oldPairs = full.filter(col("a") % 3 =!= 0 && col("b") % 3 =!= 0)
    val inc = Dedup.incrementalCandidatePairs(sigs, "doc_id", "is_new", 4, 2)
    def cl(edges: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(nodes, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cl(oldPairs.union(inc)) == cl(full))
    full.unpersist()
  }

  test("lloydStep: exact per-dim integer means, then a fixpoint") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f)), (4L, Array(0f, 0.1f, 0.9f, 0f)))
      .toDF("vec_id", "embedding")
    val c0 = Seq((0L, Array(1.0f, 0f, 0f, 0f)), (1L, Array(0f, 0f, 1.0f, 0f)))
      .toDF("cid", "cemb")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getSeq[Float](1).map(x => math.round(x * 1000)).toList, r.getLong(2)))).toMap
    val c1 = Similarity.lloydStep(emb, "vec_id", "embedding", c0)
    // vecs 1,2 -> cell 0 and 3,4 -> cell 1; means on the e3 lattice
    assert(asMap(c1) == Map(
      0L -> ((List(950L, 50L, 0L, 0L), 2L)),
      1L -> ((List(0L, 50L, 950L, 0L), 2L))))
    // the refined codebook reassigns identically -> exact fixpoint
    val c2 = Similarity.lloydStep(emb, "vec_id", "embedding",
      c1.select(col("cid"), col("cemb")))
    assert(asMap(c2) == asMap(c1))
  }

  test("normalizeUrl: each rule pinned") {
    import graft.functions.UrlFunctions
    def n(u: String) = eval1(UrlFunctions.normalizeUrl(lit(u)))
    // case + default port + trailing slash + tracking params + fragment
    assert(n("HTTPS://WWW.Site5.Co.UK:443/a/b/?utm_source=x&b=2&a=1#frag")
      == "https://www.site5.co.uk/a/b?a=1&b=2")
    // non-default port survives; param order sorts bytewise
    assert(n("http://h.com:8080/p?z=1&a=2") == "http://h.com:8080/p?a=2&z=1")
    // default http port drops, https :80 does NOT (not the default)
    assert(n("http://h.com:80/p") == "http://h.com/p")
    assert(n("https://h.com:80/p") == "https://h.com:80/p")
    // root path collapses; all-tracking query drops the '?'
    assert(n("https://h.io/") == "https://h.io")
    assert(n("https://h.io/x?utm_a=1&utm_b=2&fbclid=z&gclid=q") == "https://h.io/x")
    // utm must be a PREFIX of the param, not a substring
    assert(n("http://h.com/p?xutm_a=1") == "http://h.com/p?xutm_a=1")
    // bare authority, no path/query
    assert(n("http://H.com") == "http://h.com")
  }

  test("registeredDomain: longest-suffix rule") {
    import graft.functions.UrlFunctions
    def r(h: String) = eval1(UrlFunctions.registeredDomain(lit(h)))
    assert(r("cdn.a.site5.co.uk") == "site5.co.uk") // two-level suffix -> 3 labels
    assert(r("www.site5.com") == "site5.com") // top-level suffix -> 2 labels
    assert(r("site5.io") == "site5.io")
    assert(r("internal-host") == "internal-host") // no dot: pass through
    assert(r("co.uk") == "co.uk") // the bare suffix has no registrable label
    assert(r("site5.example") == "site5.example") // unknown TLD: pass through
    assert(eval1(UrlFunctions.registeredDomain(
      UrlFunctions.hostOf(lit("https://WWW.Site5.AC.uk:443/p?q=1#f"))))
      == "site5.ac.uk")
  }

  test("distinctTokens == array_distinct(tokens(...)), control chars and all") {
    // leading/trailing control chars below U+0020 that are not \s: Java's
    // String.trim would strip them, Spark's trim keeps them in the token
    val texts = Seq("\u0001abc def\u0001", " \t lead", "trail \n", "", "   ", null,
      "a a b a", "x\u00a0y z", "\u001fz\u001c", "tab\tsep", "multi   space",
      "\u000bvt\u000b", "\r\n crlf \r\n", "w1 w2 w1 \u0000 w3", "\u2003em\u2003space")
    val s = spark
    import s.implicits._
    val viaSpark = texts.toDF("t")
      .select(array_distinct(TextFunctions.tokens(col("t")))).collect()
      .map(r => if (r.isNullAt(0)) Nil else r.getSeq[String](0))
    assert(viaSpark.toSeq == texts.map(TextFunctions.distinctTokens))
    assert(TextFunctions.distinctTokens("\u0001abc def\u0001") == Seq("\u0001abc", "def\u0001"))
  }
}
