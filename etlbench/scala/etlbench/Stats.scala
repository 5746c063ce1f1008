package etlbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order statistics and the order-independent result digest. */
object Stats {

  /** Linear-interpolation percentile (p in [0, 100]) over unsorted values:
    * the value at rank p/100 * (n - 1), the convention of numpy's default.
    * NaN for an empty sample. */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(p >= 0.0 && p <= 100.0, s"percentile out of range: $p")
    if (values.isEmpty) Double.NaN
    else {
      val xs = values.sorted
      val rank = p / 100.0 * (xs.length - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      xs(lo) + (xs(hi) - xs(lo)) * (rank - lo)
    }
  }

  def median(values: Seq[Double]): Double = percentile(values, 50.0)

  /** The three quartiles exactly as Python's
    * `statistics.quantiles(values, n=4)` (method "exclusive") computes
    * them, so a run's own quartiles match those `spread.py` reports.
    * Needs at least two values. */
  def quartiles(values: Seq[Double]): (Double, Double, Double) = {
    require(values.length >= 2, "quartiles need at least two values")
    val xs = values.sorted
    val ld = xs.length
    val m = ld + 1
    val q = (1 to 3).map { i =>
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (xs(j - 1) * (4 - delta) + xs(j) * delta) / 4.0
    }
    (q(0), q(1), q(2))
  }

  /** The highest of `candidates` (percentiles, ascending) that leaves at
    * least `minBeyond` of `n` samples above it; None when even the first
    * does not. */
  def highestSupportedPercentile(n: Int, candidates: Seq[Double],
      minBeyond: Int = 10): Option[Double] =
    candidates.filter(p => n * (100.0 - p) / 100.0 >= minBeyond).lastOption

  // ---- digest --------------------------------------------------------------

  /** Canonical text of one value. Floating point is cut to nine significant
    * digits (and |x| < 1e-9 to zero) so a different summation order —
    * another partition count — cannot flip the digest; arrays and maps are
    * sorted, because collect_set and friends have no defined order. */
  def canonical(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canonicalDouble(d)
    case f: Float => canonicalDouble(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canonical(b.bigDecimal)
    case bs: Array[Byte] => bs.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).sorted.mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonicalDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (math.abs(d) < 1e-9) "0"
    else String.format(java.util.Locale.ROOT, "%.8e", Double.box(d))

  private def rowHash(r: Row): Long = {
    val md = MessageDigest.getInstance("MD5")
      .digest(canonical(r).getBytes(StandardCharsets.UTF_8))
    var h = 0L
    for (i <- 0 until 8) h = (h << 8) | (md(i) & 0xffL)
    h
  }

  /** Multiset digest of rows: count plus the wrapping sum of per-row
    * hashes, so neither row order nor partitioning can change it while a
    * duplicated, lost or altered row does. */
  def digestRows(rows: Iterator[Row]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    f"$n:$sum%016x"
  }

  def digest(df: DataFrame): String = digestRows(df.collect().iterator)
}
