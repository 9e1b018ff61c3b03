package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order statistics and the order-independent result hash. */
object Stats {

  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** The highest whole percentile with at least ten samples above it,
    * or None when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      Some(p -> quantile(xs, p / 100.0))
    }

  // ------------------------------------------------------------------ hash

  /** Canonical text of one value, shared with `pin_answers.py`: numbers
    * that are whole and below 2^53 print as integers (so INT and DOUBLE
    * columns of equal value agree across engines), other doubles as
    * their IEEE bits, timestamps as epoch microseconds. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "t" else "f"
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case f: Float => canonDouble(f.toDouble)
    case d: Double => canonDouble(d)
    case d: java.math.BigDecimal => canonDouble(d.doubleValue)
    case d: scala.math.BigDecimal => canonDouble(d.toDouble)
    case s: String => s
    case t: java.sql.Timestamp =>
      val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
      micros.toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case other => other.toString
  }

  private def canonDouble(d0: Double): String = {
    val d = if (d0 == 0.0) 0.0 else d0 // -0.0 == 0.0
    if (d.isNaN) "nan"
    else if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15) d.toLong.toString
    else "x%016x".format(java.lang.Double.doubleToLongBits(d))
  }

  /** (row count, hash) with columns taken in name order and row hashes
    * summed mod 2^64, so neither row nor column order matters. */
  def resultHash(schema: StructType, rows: Iterator[Row]): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("\u001f")
      val h = md.digest(text.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    (n, "%016x".format(sum))
  }
}
