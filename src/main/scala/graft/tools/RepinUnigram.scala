package graft.tools

/** Regenerates the [[graft.operators.PinnedVocabData]] literal from the
  * sf0.001 corpus with the trainer defaults — run after an intentional
  * trainer change, paste the output over the object body, and re-run the
  * full oracle gate (UnigramSpec asserts the pin matches a retrain). */
object RepinUnigram {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val wc = graft.operators.Bpe.wordCounts(docs, maxWords = 300)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    def dump(tag: String, vocab: Seq[(String, Long)]): Unit = {
      println(s"// $tag: ${vocab.size} pieces")
      println(vocab.map { case (p, c) =>
        "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\" -> " + c + "L"
      }.grouped(4).map(_.mkString(", ")).mkString(",\n    "))
    }
    dump("hard", graft.operators.Unigram.train(wc))
    dump("soft", graft.operators.Unigram.trainSoft(wc))
    spark.stop()
  }
}
