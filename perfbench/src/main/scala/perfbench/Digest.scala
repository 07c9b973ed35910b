package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digests of operation outputs. Doubles are
  * rounded to 4 decimals first, so a different summation order cannot
  * change a digest; row order never does.
  */
object Digest {

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 4))
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }

  /** Digest computed inside Spark: one aggregation job over `df`, which
    * also forces its evaluation. Returns (row count, digest).
    */
  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType)): _*)
    val r = named.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(2147483647L)))).head()
    val n = r.getLong(0)
    (n, if (n == 0) "0" else s"$n:${r.getLong(1)}:${r.getLong(2)}")
  }

  private def value(v: Any): String = v match {
    case null => "~"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"${math.round(d * 1e4) / 1e4}%.4f"
    case f: Float => value(f.toDouble)
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }
      .sorted.mkString("{", ",", "}")
    case s: collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  /** Digest of rows already collected to the driver. */
  def rows(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    var x = 0L
    var s = 0L
    rows.foreach { r =>
      val b = md.digest(value(r).getBytes(StandardCharsets.UTF_8))
      val h = java.nio.ByteBuffer.wrap(b).getLong
      x ^= h
      s += h >>> 33
    }
    if (rows.isEmpty) "0" else s"${rows.length}:$x:$s"
  }
}
