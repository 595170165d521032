package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive output fingerprint: row count plus the sum of a
  * per-row hash (a multiset hash, so row order and partitioning do not
  * matter but every row and its multiplicity do). */
final case class Gate(rows: Long, hash: String) {
  def json: String = s"""{"rows":$rows,"hash":"$hash"}"""
}

object Gate {
  /** Computed in Spark: count and the decimal sum of xxhash64 over all columns. */
  def of(df: DataFrame): Gate = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    Gate(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Computed on the driver for small outputs that are compared against
    * DuckDB: each row is its values joined by tabs; the row hash is the
    * first 15 hex digits of its md5 (perfbench/oracle.py does the same). */
  def md5Rows(rows: Array[Row]): Gate = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = BigInt(0)
    rows.foreach { r =>
      val s = r.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("\t")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      sum += BigInt(hex.substring(0, 15), 16)
    }
    Gate(rows.length.toLong, sum.toString)
  }

  private val Re = """\{"rows":(\d+),"hash":"([^"]*)"\}""".r

  def parse(s: String): Gate = s.trim match {
    case Re(r, h) => Gate(r.toLong, h)
    case other => sys.error(s"unreadable gate: $other")
  }
}
