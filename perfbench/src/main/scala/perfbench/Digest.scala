package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Output digests. A digest is `count:hex`, where hex is the sum (mod 2^64)
  * of a 64-bit hash per item, so it ignores order. `inputs.py` and
  * `oracle_check.py` compute the same digest in Python, and the latter
  * canonicalises DuckDB rows exactly as [[canonicalRow]] does, so the two
  * engines' digests of the same result are equal.
  */
object Digest {

  def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Order-insensitive accumulator. */
  final class Bag {
    private var n = 0L
    private var sum = 0L
    def add(item: String): Unit = { n += 1; sum += hash64(item) }
    def count: Long = n
    def digest: String = f"$n%d:$sum%016x"
  }

  private val ctx = new MathContext(10, RoundingMode.HALF_EVEN)

  /** Numbers keep 10 significant digits, so a last-ulp difference between
    * two engines' float sums does not change the digest.
    */
  private def num(b: JBigDecimal): String = {
    val r = b.round(ctx)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  /** `yyyy-MM-dd HH:mm:ss`, plus `.ffffff` when the microseconds are not 0. */
  private def ts(t: java.time.Instant): String = {
    val base = java.time.LocalDateTime.ofEpochSecond(t.getEpochSecond, 0, java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ')
    val secs = if (base.length == 16) base + ":00" else base
    val micros = t.getNano / 1000
    if (micros == 0) secs else f"$secs.$micros%06d"
  }

  def canonical(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NULL" else num(new JBigDecimal(d))
    case f: Float => if (f.isNaN) "NULL" else num(new JBigDecimal(f.toDouble))
    case b: java.math.BigDecimal => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case i @ (_: Int | _: Long | _: Short | _: Byte) => i.toString
    case b: Boolean => b.toString
    case s: String => s
    case t: java.sql.Timestamp => ts(t.toInstant)
    case t: java.time.Instant => ts(t)
    case t: java.time.LocalDateTime => ts(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canonical).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Columns in name order, so the digest does not depend on how either
    * engine orders its output columns.
    */
  def canonicalRow(names: Seq[String], r: Row): String =
    names.zipWithIndex.sortBy(_._1).map { case (_, i) => canonical(r.get(i)) }.mkString("\u0001")
}
