package graft.claims

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DateType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The two per-field kernels of claims normalization ([[Normalize]]).
  * Each is one pass over the value's UTF-8 bytes, written once as a static
  * method that the interpreted and the generated path both call, so whole-
  * stage codegen keeps them inline. Neither is registered as a SQL
  * function.
  */

/** `nullif(btrim(s, Normalize.Whitespace), '')` in one scan: strips the
  * 12-character set from both ends; an all-whitespace or empty value
  * becomes null.
  */
case class StripToNull(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    StripToNull.strip(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.claims.StripToNull.strip($s);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(c: Expression): StripToNull =
    copy(child = c)
}

object StripToNull {

  /** Bytes of the strip-set character that starts at byte `i` of a value
    * `n` bytes long, or 0. The set is 0x09-0x0D, 0x1C-0x20 and the two-byte
    * U+0085 (`C2 85`) and U+00A0 (`C2 A0`).
    */
  private def widthAt(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    val b = Platform.getByte(base, off + i)
    if ((b >= 0x09 && b <= 0x0d) || (b >= 0x1c && b <= 0x20)) 1
    else if (b == 0xc2.toByte && i + 1 < n) {
      val b2 = Platform.getByte(base, off + i + 1)
      if (b2 == 0x85.toByte || b2 == 0xa0.toByte) 2 else 0
    } else 0
  }

  /** Bytes of the strip-set character that ends just before byte `j`, not
    * reaching below byte `i`, or 0. A trailing `85` or `A0` counts only
    * after a `C2`: U+0145, for one, is `C5 85`.
    */
  private def widthBefore(base: AnyRef, off: Long, i: Int, j: Int): Int = {
    val b = Platform.getByte(base, off + j - 1)
    if ((b >= 0x09 && b <= 0x0d) || (b >= 0x1c && b <= 0x20)) 1
    else if ((b == 0x85.toByte || b == 0xa0.toByte) && j - 2 >= i &&
        Platform.getByte(base, off + j - 2) == 0xc2.toByte) 2
    else 0
  }

  /** The stripped value, or null when nothing is left. Returns `s` itself
    * when nothing is stripped, and otherwise a slice over `s`'s bytes, as
    * the input is valid UTF-8 (every string Spark's readers produce).
    */
  def strip(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    var w = 0
    while (i < n && { w = widthAt(base, off, i, n); w > 0 }) i += w
    if (i == n) return null
    var j = n
    while (j > i && { w = widthBefore(base, off, i, j); w > 0 }) j -= w
    if (i == 0 && j == n) s else UTF8String.fromAddress(base, off + i, j - i)
  }
}

/** The date of a canonical ISO value, `yyyy-MM-dd` or
  * `yyyy-MM-dd'T'HH:mm:ss` (`T` or `t`), decided in place; null for every
  * other string. On an unsigned value it returns what the two java.time
  * formats give: month and day form a real proleptic-Gregorian date (year
  * 0000 is a leap year), and the time, unused, has HH <= 23 and mm, ss <=
  * 59, as the STRICT resolver requires. A value with a leading `+` or `-`,
  * where those formats read a signed year, is null, as the reference's
  * strptime gives. The date part does not depend on the session time zone,
  * except in a zone that skipped a calendar day; the engine's sessions run
  * UTC.
  */
case class IsoDate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DateType
  override def nullable: Boolean = true
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val d = IsoDate.days(v.asInstanceOf[UTF8String])
    if (d == IsoDate.NoDate) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.claims.IsoDate.days($s);
         |${ev.isNull} = ${ev.value} == Integer.MIN_VALUE;""".stripMargin)

  override protected def withNewChildInternal(c: Expression): IsoDate =
    copy(child = c)
}

object IsoDate {

  /** Returned by [[days]] for a value that is not a canonical date. */
  final val NoDate = Int.MinValue

  /** Days 0000-01-01 to 1970-01-01, as in `LocalDate.toEpochDay`. */
  private final val Days0000To1970 = 719528

  /** The decimal digit at byte `i`, or -1. */
  private def digit(base: AnyRef, off: Long, i: Int): Int = {
    val d = Platform.getByte(base, off + i) - '0'
    if (d >= 0 && d <= 9) d else -1
  }

  /** The two-digit number at bytes `i` and `i + 1`, or -1. */
  private def two(base: AnyRef, off: Long, i: Int): Int = {
    val a = digit(base, off, i)
    val b = digit(base, off, i + 1)
    if (a < 0 || b < 0) -1 else a * 10 + b
  }

  private def is(base: AnyRef, off: Long, i: Int, c: Char): Boolean =
    Platform.getByte(base, off + i) == c.toByte

  /** Days since 1970-01-01 of a canonical value, or [[NoDate]]. */
  def days(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    if (n != 10 && n != 19) return NoDate
    if (n == 19) {
      if (!(is(base, off, 10, 'T') || is(base, off, 10, 't')) ||
          !is(base, off, 13, ':') || !is(base, off, 16, ':')) return NoDate
      val hh = two(base, off, 11)
      val mm = two(base, off, 14)
      val ss = two(base, off, 17)
      if (hh < 0 || hh > 23 || mm < 0 || mm > 59 || ss < 0 || ss > 59)
        return NoDate
    }
    if (!is(base, off, 4, '-') || !is(base, off, 7, '-')) return NoDate
    val y1 = two(base, off, 0)
    val y2 = two(base, off, 2)
    val m = two(base, off, 5)
    val d = two(base, off, 8)
    if (y1 < 0 || y2 < 0 || m < 1 || m > 12 || d < 1) return NoDate
    val y = y1 * 100 + y2
    val leap = (y & 3) == 0 && (y % 100 != 0 || y % 400 == 0)
    val monthLen =
      if (m == 2) (if (leap) 29 else 28)
      else if (m == 4 || m == 6 || m == 9 || m == 11) 30
      else 31
    if (d > monthLen) return NoDate
    // LocalDate.toEpochDay for a year >= 0.
    var total = 365 * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400 +
      (367 * m - 362) / 12 + d - 1
    if (m > 2) total -= (if (leap) 1 else 2)
    total - Days0000To1970
  }
}
