package graft.functions

import java.math.{BigInteger, RoundingMode, BigDecimal => JBigDecimal}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._

/** Native exact decimal sum — `graft_decimal_sum(x, p, s)`, equal to
  * Spark's non-ANSI `sum(cast(x AS DECIMAL(p, s)))` and typed like it,
  * `DECIMAL(min(38, p + 10), s)`. The engine's exact moments
  * ([[Deterministic.stableSum]]) run on it.
  *
  * NULL in the same places as Spark: a NULL term, and a term whose cast
  * is NULL (NaN, ±Inf, or more than p digits after HALF_UP rounding at
  * scale s) is skipped; a group with no other term is NULL; a running
  * sum that leaves the result precision makes the group NULL for good
  * (Spark's keyed hash aggregate writes each row's sum into an UnsafeRow
  * buffer, which nulls it there).
  *
  * Terms: an integral x is x·10^s exactly. A double takes Spark's cast
  * path, `Double.toString` → `BigDecimal` → HALF_UP at scale s, unless
  * the guarded fast path applies: y = x·10^s in double, rounded to the
  * nearest integer when |y| < 2^40 and y's fraction is more than 2^-10
  * from one half. There the error of y against the decimal value of
  * `Double.toString(x)`·10^s, at most |y|·2^-51 < 2^-11 (one ulp of x
  * for the string, half an ulp of y for the product), cannot move the
  * rounding across a half-integer, the only place HALF_UP and nearest
  * differ or jump. A decimal x is rescaled HALF_UP like Spark's cast.
  *
  * The buffer is fixed width — the sum as a 128-bit two's-complement
  * (hi, lo) pair, NULL once it overflowed, plus a seen flag — so the
  * aggregate stays in `HashAggregateExec`'s UnsafeRow buffers, window
  * frames and streaming state, and each add is two long adds instead of
  * Spark's `BigDecimal` per row (precision 38 sums are never compact).
  *
  * One divergence, past any registry magnitude: a sum that leaves the
  * result precision and comes back is NULL here, while Spark's global
  * (ungrouped) codegen aggregate and its window frames check the range
  * only where a partition or frame ends. */
case class DecimalSum(child: Expression, precision: Int, scale: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends ImperativeAggregate with UnaryLike[Expression] {

  override def prettyName: String = "graft_decimal_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (precision < 9 || precision > 38 || scale < 0 || scale > math.min(precision, 18))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs 9 <= p <= 38 and 0 <= s <= min(p, 18), got ($precision, $scale)")
    else child.dataType match {
      case DoubleType | ByteType | ShortType | IntegerType | LongType | _: DecimalType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName sums double, integral or decimal terms, got ${t.sql}")
    }

  override def dataType: DataType = DecimalType(math.min(38, precision + 10), scale)
  override def nullable: Boolean = true

  override def aggBufferSchema: StructType = DecimalSum.bufferSchema
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    DataTypeUtils.toAttributes(aggBufferSchema)
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  // |term| < 10^p and |sum| < 10^(result precision), as 128-bit bounds
  @transient private lazy val termBound = DecimalSum.Bound(precision)
  @transient private lazy val sumBound =
    DecimalSum.Bound(dataType.asInstanceOf[DecimalType].precision)
  @transient private lazy val scaleD: Double = DecimalSum.Pow10(scale).toDouble
  @transient private lazy val scaleL: Long = DecimalSum.Pow10(scale)

  override def initialize(buf: InternalRow): Unit = {
    buf.setLong(mutableAggBufferOffset, 0L)
    buf.setLong(mutableAggBufferOffset + 1, 0L)
    buf.setBoolean(mutableAggBufferOffset + 2, false)
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val v = child.eval(input)
    if (v != null) v match {
      case x: java.lang.Double => addDouble(buf, x)
      case x: java.lang.Long => addLong(buf, x)
      case x: java.lang.Integer => addLong(buf, x.longValue)
      case x: java.lang.Short => addLong(buf, x.longValue)
      case x: java.lang.Byte => addLong(buf, x.longValue)
      case x: Decimal => addBig(buf, x.toJavaBigDecimal.setScale(scale, RoundingMode.HALF_UP))
    }
  }

  override def merge(buf: InternalRow, in: InternalRow): Unit =
    if (in.getBoolean(inputAggBufferOffset + 2)) {
      if (in.isNullAt(inputAggBufferOffset)) {
        buf.setBoolean(mutableAggBufferOffset + 2, true)
        buf.setNullAt(mutableAggBufferOffset)
      } else add(buf, in.getLong(inputAggBufferOffset), in.getLong(inputAggBufferOffset + 1))
    }

  override def eval(buf: InternalRow): Any =
    if (!buf.getBoolean(mutableAggBufferOffset + 2) || buf.isNullAt(mutableAggBufferOffset)) null
    else {
      val hi = buf.getLong(mutableAggBufferOffset)
      val lo = buf.getLong(mutableAggBufferOffset + 1)
      val p = sumBound.digits
      if (hi == (lo >> 63)) Decimal(lo, p, scale)
      else Decimal(new JBigDecimal(DecimalSum.toBigInteger(hi, lo), scale), p, scale)
    }

  private def addDouble(buf: InternalRow, x: Double): Unit = {
    val y = x * scaleD
    if (math.abs(y) < DecimalSum.FastLimit) {
      val f = math.floor(y)
      val frac = y - f
      if (math.abs(frac - 0.5) > DecimalSum.FastMargin) {
        val u = (if (frac > 0.5) f + 1.0 else f).toLong
        if (termBound.holds(u >> 63, u)) add(buf, u >> 63, u)
        return
      }
    }
    if (!x.isNaN && !x.isInfinite)
      addBig(buf, new JBigDecimal(java.lang.Double.toString(x)).setScale(scale, RoundingMode.HALF_UP))
  }

  private def addLong(buf: InternalRow, x: Long): Unit = {
    val hi = Math.multiplyHigh(x, scaleL)
    val lo = x * scaleL
    if (termBound.holds(hi, lo)) add(buf, hi, lo)
  }

  /** A term already at scale s; more than p digits is a NULL cast. */
  private def addBig(buf: InternalRow, d: JBigDecimal): Unit =
    if (d.precision <= precision) {
      val u = d.unscaledValue
      add(buf, u.shiftRight(64).longValue, u.longValue)
    }

  private def add(buf: InternalRow, tHi: Long, tLo: Long): Unit = {
    val o = mutableAggBufferOffset
    buf.setBoolean(o + 2, true)
    if (!buf.isNullAt(o)) {
      val hi = buf.getLong(o)
      val lo = buf.getLong(o + 1)
      val sLo = lo + tLo
      val sHi = hi + tHi + (if (java.lang.Long.compareUnsigned(sLo, lo) < 0) 1L else 0L)
      // a 128-bit wrap (both operands' signs differ from the result's)
      // or a sum past the result precision: NULL from here on
      if (((hi ^ sHi) & (tHi ^ sHi)) < 0 || !sumBound.holds(sHi, sLo)) buf.setNullAt(o)
      else {
        buf.setLong(o, sHi)
        buf.setLong(o + 1, sLo)
      }
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): DecimalSum =
    copy(child = newChild)
}

object DecimalSum {
  val bufferSchema: StructType = StructType(Seq(
    StructField("sum_hi", LongType), StructField("sum_lo", LongType),
    StructField("seen", BooleanType, nullable = false)))

  /** Fast-path limits for double terms (see the class doc): |y| < 2^40
    * bounds y's error by 2^-11, half the required distance from a tie. */
  val FastLimit: Double = math.pow(2, 40)
  val FastMargin: Double = math.pow(2, -10)

  val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10L)

  def toBigInteger(hi: Long, lo: Long): BigInteger =
    new BigInteger(java.nio.ByteBuffer.allocate(16).putLong(hi).putLong(lo).array())

  /** |v| < 10^digits for a 128-bit two's-complement v = (hi, lo). */
  final case class Bound(digits: Int) {
    private val b = BigInteger.TEN.pow(digits)
    private val hi = b.shiftRight(64).longValue
    private val lo = b.longValue
    private val nb = b.negate
    private val nHi = nb.shiftRight(64).longValue
    private val nLo = nb.longValue

    private def cmp(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Int =
      if (aHi != bHi) java.lang.Long.compare(aHi, bHi)
      else java.lang.Long.compareUnsigned(aLo, bLo)

    def holds(vHi: Long, vLo: Long): Boolean =
      cmp(vHi, vLo, hi, lo) < 0 && cmp(vHi, vLo, nHi, nLo) > 0
  }
}
