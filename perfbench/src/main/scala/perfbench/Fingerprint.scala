package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive fingerprint of a set of rows: the row count plus the
  * wrapping 64-bit sum of one hash per row. Row order, partitioning and
  * file layout cannot move it; a changed, lost or duplicated row does. */
final case class Fingerprint(rows: Long, sum: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, sum + o.sum)
  def hex: String = f"$rows%d:$sum%016x"
}

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0L, 0L)

  /** Driver-side rows (a collected batch): SHA-256 of each row's rendered
    * values, first 8 bytes as the row hash. */
  def ofRows(rows: Iterable[Row]): Fingerprint =
    rows.foldLeft(Empty)((f, r) => f + Fingerprint(1L, rowHash(r)))

  def rowHash(r: Row): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(render(r).getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  private def render(v: Any): String = v match {
    case null                 => "\u0000"
    case r: Row               => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", "\u0001", "}")
    case b: Array[Byte]       => b.map(x => f"$x%02x").mkString
    case x                    => x.toString
  }

  /** Executor-side frame: one aggregate job, xxhash64 over every column
    * (columns in name order, so a column reorder does not count as a
    * change), summed exactly as decimal and wrapped to 64 bits. */
  def ofFrame(df: DataFrame): Fingerprint = byKey(df, lit(0)).getOrElse(0, Empty)

  /** [[ofFrame]] per value of the int column `key` (computed from the
    * frame, not hashed with it), in the same single job. */
  def byKey(df: DataFrame, key: Column): Map[Int, Fingerprint] = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    df.select(key.cast("int").as("k"), xxhash64(cols.toIndexedSeq: _*).as("h"))
      .groupBy("k").agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().map(r => r.getInt(0) ->
        Fingerprint(r.getLong(1), r.getDecimal(2).toBigInteger.longValue)).toMap
  }
}
