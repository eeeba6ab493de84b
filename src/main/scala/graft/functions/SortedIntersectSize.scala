package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** The merge kernel behind [[SortedIntersectSize]]: |a ∩ b| for two
  * sets of 128-bit digests, each an `array<bigint>` of (hi, lo) pairs
  * sorted strictly ascending by unsigned (hi, lo) — the layout
  * [[MinhashSig]] emits. One in-place O(|a|+|b|) merge over the arrays'
  * row memory: no hash set, no result array, no copy per element. Both
  * inputs are validated as the merge walks them (and to their ends), so
  * an input that is not a sorted distinct set of pairs throws instead of
  * returning a wrong count.
  */
object SortedIntersect {

  /** Unsigned (hi, lo) order of two digests. */
  def comparePairs(hi1: Long, lo1: Long, hi2: Long, lo2: Long): Int = {
    val c = java.lang.Long.compareUnsigned(hi1, hi2)
    if (c != 0) c else java.lang.Long.compareUnsigned(lo1, lo2)
  }

  def size(a: ArrayData, b: ArrayData): Int = {
    val ua = unsafe(a, "left"); val ub = unsafe(b, "right")
    val na = pairCount(ua, "left"); val nb = pairCount(ub, "right")
    var i = 0; var j = 0; var hits = 0
    while (i < na && j < nb) {
      val c = cmp(ua, i, ub, j)
      if (c <= 0) { i += 1; if (i < na) ascending(ua, "left", i) }
      if (c >= 0) { j += 1; if (j < nb) ascending(ub, "right", j) }
      if (c == 0) hits += 1
    }
    // validate the tail the merge did not need
    while (i + 1 < na) { i += 1; ascending(ua, "left", i) }
    while (j + 1 < nb) { j += 1; ascending(ub, "right", j) }
    hits
  }

  private def cmp(x: UnsafeArrayData, i: Int, y: UnsafeArrayData, j: Int): Int =
    comparePairs(x.getLong(2 * i), x.getLong(2 * i + 1), y.getLong(2 * j), y.getLong(2 * j + 1))

  private def ascending(d: UnsafeArrayData, side: String, k: Int): Unit =
    if (cmp(d, k - 1, d, k) >= 0) throw new IllegalArgumentException(
      s"graft_sorted_intersect_size: $side input is not strictly increasing " +
        s"at pair $k (expects a sorted distinct set of (hi, lo) digest pairs)")

  /** The number of pairs in `d`, refusing an odd length or a NULL. */
  private def pairCount(d: UnsafeArrayData, side: String): Int = {
    val n = d.numElements()
    if ((n & 1) != 0) throw new IllegalArgumentException(
      s"graft_sorted_intersect_size: $side input has an odd number of " +
        s"elements ($n), expects (hi, lo) digest pairs")
    // the null bitmap, a word at a time (UnsafeArrayData.isNullAt's layout)
    var w = 0
    while (w < (n + 63) / 64) {
      val bits = Platform.getLong(d.getBaseObject, d.getBaseOffset + 8 + 8L * w)
      if (bits != 0) nullElement(side, 64 * w + java.lang.Long.numberOfTrailingZeros(bits))
      w += 1
    }
    n / 2
  }

  private def nullElement(side: String, k: Int): Nothing =
    throw new IllegalArgumentException(
      s"graft_sorted_intersect_size: $side input has a NULL at element $k")

  /** Arrays read from a row are `UnsafeArrayData` already; any other
    * (a literal, an interpreted intermediate) is laid out once. */
  private def unsafe(d: ArrayData, side: String): UnsafeArrayData = d match {
    case u: UnsafeArrayData => u
    case _ =>
      var k = 0
      while (k < d.numElements()) { if (d.isNullAt(k)) nullElement(side, k); k += 1 }
      UnsafeArrayData.fromPrimitiveArray(d.toLongArray())
  }
}

/** Native Catalyst expression `graft_sorted_intersect_size(a, b)`: the
  * size of the intersection of two shingle sets in the layout
  * [[MinhashSig]] emits — `array<bigint>` of (hi, lo) digest pairs,
  * distinct and sorted by unsigned (hi, lo) — the exact-Jaccard verify
  * step of the minhash family. Equal to `size(array_intersect(..))` over
  * the sets' digests, but `array_intersect` would need one element per
  * digest and builds a hash set and a result array per row just for its
  * size. This is one allocation-free merge ([[SortedIntersect.size]]);
  * it throws on an odd length, a NULL element, or pairs that are not
  * strictly increasing. NULL array → NULL.
  *
  * Registered as SQL function `graft_sorted_intersect_size` via
  * `SparkSessionExtensions.injectFunction` (see GraftSession).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SortedIntersect.size(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedIntersect.size($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_intersect_size"
}
