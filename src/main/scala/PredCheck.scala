import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Exhaustive corpus check that `TextFunctions.hasMinTokens(text, n)` and
  * `size(TextFunctions.tokens(text)) >= n` agree on EVERY document of the
  * given data dirs, for every n used as a raw-text gate in the query
  * surface. Zero mismatches is the bar — the predicate swap is only valid
  * as a proven equivalence, not an argued one.
  *
  * Usage: sbt "runMain PredCheck /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1"
  */
object PredCheck extends App {
  val spark = graft.Sessions.local()
  spark.sparkContext.setLogLevel("ERROR")
  import spark.implicits._
  val ns = Seq(1, 2, 3, 9, 12, 13, 15)
  // synthetic edge rows: null, empty, all-ws, leading/trailing ws, tabs and
  // newlines as separators, a single long token, exact n-1/n/n+1 boundaries
  val edges = (Seq(null, "", "   ", "\t\n  \t", "x", "  x  ", "x" * 4096) ++
    ns.flatMap(n => Seq(n - 1, n, n + 1)).filter(_ > 0).distinct
      .flatMap(k => Seq(Seq.fill(k)("tok").mkString(" "),
        "  " + Seq.fill(k)("t" * 7).mkString("\t \n") + " ")))
    .toDF("text")
  var bad = 0L
  for (dir <- args) {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select(col("text"))
      .unionByName(edges)
    for (n <- ns) {
      // hasMinTokens(null) is null (treated false in a Filter) and the
      // size form is null too — compare null-safely via coalesce on BOTH
      val mm = docs.filter(
        coalesce(TextFunctions.hasMinTokens(col("text"), n), lit(false)) =!=
          coalesce(size(TextFunctions.tokens(col("text"))) >= n, lit(false)))
        .count()
      bad += mm
      println(s"dir=$dir n=$n mismatches=$mm")
    }
  }
  println(if (bad == 0) "PREDCHECK OK: 0 mismatches" else s"PREDCHECK FAIL: $bad")
  spark.stop()
  if (bad != 0) sys.exit(1)
}
