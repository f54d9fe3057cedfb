package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** The benchmark's pure logic: sample statistics, the seeded call order
  * and result signatures. Nothing here touches a Spark session.
  */
object Logic {

  /** Median of a sample; of an even-sized sample the LOWER middle value,
    * so a single slow sample can never be the reported median of two.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    s((s.length - 1) / 2)
  }

  /** Nearest-rank percentile `p` (0 < p <= 100) of a sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(p, s.length) - 1)
  }

  private def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p / 100 * n - 1e-9).toInt))

  /** Candidate tail percentiles, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** The highest candidate percentile that has at least ten samples
    * beyond it, or None when the sample is too small for any.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailPercentiles.find(p => n - rank(p, n) >= 10)

  /** Share of attempted calls that threw or failed the output check. */
  def failedFrac(failed: Int, attempted: Int): Double = {
    require(attempted > 0 && failed >= 0 && failed <= attempted,
      s"failed=$failed attempted=$attempted")
    failed.toDouble / attempted
  }

  /** Call order of one pass: the op names shuffled by a generator seeded
    * from (seed, pass). Names are sorted first, so the order depends on
    * nothing but the seed, the pass and the set of names.
    */
  def callOrder(ops: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops.sorted)

  /** Row count plus an order-insensitive content hash. */
  final case class Sig(rows: Long, hash: String)

  /** Signature of a result: columns are taken in name order and every
    * value normalised as tools/check.py does (doubles, floats and
    * decimals rounded to 6 places, NaN as a token, structs and maps as
    * name-sorted entries); each row's canonical text is hashed and the
    * row hashes summed, so row order does not matter but multiplicity
    * does. The sorted column names are part of the hash.
    */
  def signature(columns: Seq[String], rows: Iterator[Row]): Sig = {
    val order = columns.indices.sortBy(columns(_))
    var n = 0L
    var sum = hash64(order.map(columns(_)).mkString("\u0001"))
    rows.foreach { r =>
      n += 1
      sum += hash64(order.map(i => norm(r.get(i))).mkString("\u0001"))
    }
    Sig(n, f"$sum%016x")
  }

  /** Canonical text of one value (recursively for nested values).
    * Strings are quoted, so no string reads as a null or a number.
    */
  def norm(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: JBigDecimal => double(d.doubleValue)
    case d: BigDecimal => double(d.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (k, i) => k + "=" + norm(r.get(i)) }
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "=" + norm(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Round half-even to 6 places on the exact binary value (what
    * Python's round(v, 6) does). BigDecimal has no minus zero, so -0.0
    * and tiny negatives print as zero, as check.py compares them.
    */
  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).toPlainString

  private def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }
}
