package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive table digest: (row count, wrapping sum of per-row
  * 64-bit hashes, as hex). Each row hashes a canonical text of its
  * columns taken in name order. Floating-point values print rounded to
  * 9 significant digits (and magnitudes below 1e-300, -0.0 included, as
  * 0), so last-bit drift between runs of a multi-partition computation
  * cannot change the digest.
  */
object Digest {

  private def appendDouble(b: StringBuilder, d: Double): Unit =
    if (d.isNaN || d.isInfinite) b.append(d)
    else if (math.abs(d) < 1e-300) b.append('0')
    else {
      var e = math.floor(math.log10(math.abs(d))).toInt
      var m = math.round(d * math.pow(10, 8 - e))
      // Rounding 999999999.5 carries into a tenth digit: renormalize.
      if (math.abs(m) >= 1000000000L) { m /= 10; e += 1 }
      b.append(m).append('e').append(e)
    }

  private def append(b: StringBuilder, v: Any): Unit = v match {
    case null => b.append("\\N")
    case d: Double => appendDouble(b, d)
    case f: Float => appendDouble(b, f.toDouble)
    case r: Row => b.append('{'); r.toSeq.foreach { x => append(b, x); b.append(',') }; b.append('}')
    case xs: scala.collection.Seq[_] => b.append('['); xs.foreach { x => append(b, x); b.append(',') }; b.append(']')
    case other => b.append(other)
  }

  def apply(df: DataFrame): (Long, String) = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, sum) = df.rdd.mapPartitions { rows =>
      val b = new StringBuilder
      var n = 0L
      var sum = 0L
      rows.foreach { r =>
        b.clear()
        order.foreach { i => append(b, r.get(i)); b.append('\u0001') }
        val s = b.toString
        sum += (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
          (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)
        n += 1
      }
      Iterator((n, sum))
    }.collect().foldLeft((0L, 0L)) { case ((a, x), (b, y)) => (a + b, x + y) }
    (n, java.lang.Long.toHexString(sum))
  }
}
