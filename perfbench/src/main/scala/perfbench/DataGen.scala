package perfbench

/** Workload inputs, a pure function of the workload seed. Written before
  * any timing starts; the program only ever sees the written files. */
object DataGen {

  /** The 31-word vocabulary of the sf0.1 `documents` table. */
  val SfVocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** A fixed 4096-word vocabulary of pronounceable tokens (2–4 syllables)
    * for the varied text of intake arrivals. */
  val WideVocab: Seq[String] = {
    val on = Seq("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "")
    val nu = Seq("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val syl = for (o <- on; n <- nu) yield o + n // 128 syllables
    (0 until 4096).map { i =>
      val k = 2 + (i % 3)
      (0 until k).map(j => syl((i * 31 + j * 97 + (i >> 5) * j) % syl.size)).mkString + (i % 7)
    }
  }

  private val Langs = Seq("en", "en", "en", "zh", "es", "fr", "de")

  /** Write `rows` as one parquet file with Spark's bundled parquet writer:
    * input generation needs no Spark session, so it warms nothing the
    * timed set-up would otherwise pay for. */
  private def writeParquet(path: String, schema: String, rows: Iterator[Seq[Any]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val names = (0 until mt.getFieldCount).map(mt.getFieldName)
    val groups = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path)).withType(mt)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      names.zip(r).foreach {
        case (n, v: Long)   => g.append(n, v)
        case (n, v: String) => g.append(n, v)
        case (n, v)         => sys.error(s"unsupported value $v for $n")
      }
      w.write(g)
    } finally w.close()
  }

  /** A `documents` table (doc_id, text, lang, source, n_chars) of `n` rows
    * in one parquet file under `dir/documents.parquet`, drawn from the sf0.1
    * vocabulary. Text length is uniform in [10, 100] tokens, tokens are
    * uniform over the vocabulary. */
  def documents(seed: Long, n: Long, dir: String): Unit = {
    val out = java.nio.file.Paths.get(dir, "documents.parquet")
    java.nio.file.Files.createDirectories(out)
    val schema = "message documents { required int64 doc_id; required binary text (UTF8); " +
      "required binary lang (UTF8); required binary source (UTF8); required int64 n_chars; }"
    val rows = (0L until n).iterator.map { id =>
      val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
      val len = 10 + r.nextInt(91)
      val text = Iterator.fill(len)(SfVocab((r.nextDouble() * SfVocab.size).toInt)).mkString(" ")
      Seq[Any](id, text, Langs(r.nextInt(Langs.size)), s"src${id % 20}", text.length.toLong)
    }
    writeParquet(out.resolve("part-00000.parquet").toString, schema, rows)
  }

  /** Shares of one intake shard, per 106 rows as in `IntakeSoak.arrivals`:
    * fresh documents, id re-sends of the previous shard, exact content
    * duplicates of it and one-token near-duplicates of it. */
  final case class Mix(fresh: Int, resends: Int, exactDups: Int, nearDups: Int) {
    def rows(shard: Int): Int = if (shard == 0) fresh else fresh + resends + exactDups + nearDups
  }
  def mix(scale: Int): Mix = Mix(80 * scale, 10 * scale, 10 * scale, 6 * scale)

  private def freshText(seed: Long, id: Long): Array[String] = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ id)
    Array.fill(30)(WideVocab(r.nextInt(WideVocab.size)))
  }

  /** `shards` intake shards, one parquet file each under `dir/shard=<k>`,
    * with columns (doc_id, text). */
  def intakeShards(seed: Long, m: Mix, shards: Int, dir: String): Unit = {
    val schema = "message arrivals { required int64 doc_id; required binary text (UTF8); }"
    (0 until shards).foreach { k =>
      val base = k * 1000000L
      val prev = (k - 1) * 1000000L
      val fresh = (0 until m.fresh).iterator.map(i =>
        Seq[Any](base + i, freshText(seed, base + i).mkString(" ")))
      val rest = if (k == 0) Iterator.empty else {
        val resends = (0 until m.resends).iterator.map(i =>
          Seq[Any](prev + i, s"mutated in transit ${prev + i}"))
        val exact = (0 until m.exactDups).iterator.map { i =>
          Seq[Any](base + 900000L + i, freshText(seed, prev + m.resends + i).mkString(" ")) }
        val near = (0 until m.nearDups).iterator.map { i =>
          val t = freshText(seed, prev + m.resends + m.exactDups + i)
          t(t.length - 1) = "changed"
          Seq[Any](base + 950000L + i, t.mkString(" ")) }
        resends ++ exact ++ near
      }
      val d = java.nio.file.Paths.get(dir, s"shard=$k")
      java.nio.file.Files.createDirectories(d)
      writeParquet(d.resolve("part-00000.parquet").toString, schema, fresh ++ rest)
    }
  }
}
