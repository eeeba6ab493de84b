package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** The merge kernel behind [[SortedIntersectSize]]: |a ∩ b| for two
  * arrays of binary values, each sorted strictly ascending by unsigned
  * byte order (Spark's BinaryType order) — one O(|a|+|b|) merge pass,
  * no hash set, no result array. Both inputs are validated as the
  * merge walks them (and to their ends), so an input that is not a
  * sorted distinct set throws instead of returning a wrong count.
  *
  * `UnsafeArrayData` inputs (every array read from a row) are compared
  * in place over the row's memory; `getBinary` would copy each element
  * into a fresh `byte[]`.
  */
object SortedIntersect {

  def size(a: ArrayData, b: ArrayData): Int = (a, b) match {
    case (ua: UnsafeArrayData, ub: UnsafeArrayData) => unsafeSize(ua, ub)
    case _ => genericSize(a, b)
  }

  private val bigEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  /** Unsigned lexicographic compare of two byte ranges, 8 bytes a step. */
  private def compare(xo: AnyRef, xOff: Long, xLen: Int,
      yo: AnyRef, yOff: Long, yLen: Int): Int = {
    val n = math.min(xLen, yLen)
    var k = 0
    while (k + 8 <= n) {
      val x = Platform.getLong(xo, xOff + k)
      val y = Platform.getLong(yo, yOff + k)
      if (x != y)
        return if (bigEndian) java.lang.Long.compareUnsigned(x, y)
          else java.lang.Long.compareUnsigned(
            java.lang.Long.reverseBytes(x), java.lang.Long.reverseBytes(y))
      k += 8
    }
    while (k < n) {
      val c = (Platform.getByte(xo, xOff + k) & 0xFF) -
        (Platform.getByte(yo, yOff + k) & 0xFF)
      if (c != 0) return c
      k += 1
    }
    Integer.compare(xLen, yLen)
  }

  private def unsorted(side: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"graft_sorted_intersect_size: $side input is not strictly increasing " +
        s"at element $i (expects a sorted distinct set of binary values)")

  private def nullElement(side: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"graft_sorted_intersect_size: $side input has a NULL at element $i")

  private def unsafeSize(a: UnsafeArrayData, b: UnsafeArrayData): Int = {
    // element k's slot: (offset from the array base) << 32 | length
    def slot(d: UnsafeArrayData, side: String, k: Int): Long = {
      if (d.isNullAt(k)) nullElement(side, k)
      d.getLong(k)
    }
    def cmp(x: UnsafeArrayData, sx: Long, y: UnsafeArrayData, sy: Long): Int =
      compare(x.getBaseObject, x.getBaseOffset + (sx >>> 32), sx.toInt,
        y.getBaseObject, y.getBaseOffset + (sy >>> 32), sy.toInt)
    def next(d: UnsafeArrayData, side: String, k: Int, prev: Long): Long = {
      val cur = slot(d, side, k)
      if (cmp(d, prev, d, cur) >= 0) unsorted(side, k)
      cur
    }
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var hits = 0
    var sa = if (na > 0) slot(a, "left", 0) else 0L
    var sb = if (nb > 0) slot(b, "right", 0) else 0L
    while (i < na && j < nb) {
      val c = cmp(a, sa, b, sb)
      if (c <= 0) { i += 1; if (i < na) sa = next(a, "left", i, sa) }
      if (c >= 0) { j += 1; if (j < nb) sb = next(b, "right", j, sb) }
      if (c == 0) hits += 1
    }
    // validate the tail the merge did not need
    while (i + 1 < na) { i += 1; sa = next(a, "left", i, sa) }
    while (j + 1 < nb) { j += 1; sb = next(b, "right", j, sb) }
    hits
  }

  /** [[unsafeSize]] over arrays that are not in row memory: the same
    * merge, over `getBinary`'s byte arrays. */
  private def genericSize(a: ArrayData, b: ArrayData): Int = {
    val off = Platform.BYTE_ARRAY_OFFSET.toLong
    def elem(d: ArrayData, side: String, k: Int): Array[Byte] = {
      if (d.isNullAt(k)) nullElement(side, k)
      d.getBinary(k)
    }
    def cmp(x: Array[Byte], y: Array[Byte]): Int =
      compare(x, off, x.length, y, off, y.length)
    def next(d: ArrayData, side: String, k: Int, prev: Array[Byte]): Array[Byte] = {
      val cur = elem(d, side, k)
      if (cmp(prev, cur) >= 0) unsorted(side, k)
      cur
    }
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var hits = 0
    var xa = if (na > 0) elem(a, "left", 0) else null
    var xb = if (nb > 0) elem(b, "right", 0) else null
    while (i < na && j < nb) {
      val c = cmp(xa, xb)
      if (c <= 0) { i += 1; if (i < na) xa = next(a, "left", i, xa) }
      if (c >= 0) { j += 1; if (j < nb) xb = next(b, "right", j, xb) }
      if (c == 0) hits += 1
    }
    while (i + 1 < na) { i += 1; xa = next(a, "left", i, xa) }
    while (j + 1 < nb) { j += 1; xb = next(b, "right", j, xb) }
    hits
  }
}

/** Native Catalyst expression `graft_sorted_intersect_size(a, b)`: the
  * size of the intersection of two sorted distinct `array<binary>`
  * sets — the exact-Jaccard verify step of the minhash family, whose
  * shingle sets [[MinhashSig]] emits sorted. Equal to
  * `size(array_intersect(a, b))` on such inputs, but Spark's
  * `array_intersect` hashes only element types with a proper `equals`:
  * `byte[]` has none, so on binary elements it falls back to a nested
  * loop, and on any element type it builds a hash set and a result
  * array per row just for its size. This is one allocation-free merge
  * ([[SortedIntersect.size]]); it throws on an input that is not
  * strictly increasing. NULL array → NULL.
  *
  * Registered as SQL function `graft_sorted_intersect_size` via
  * `SparkSessionExtensions.injectFunction` (see GraftSession).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(BinaryType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<binary> arguments, got " +
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
