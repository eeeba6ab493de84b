package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: a document's word k-grams as fixed-width
  * digest keys in ONE row-local pass — `graft_kgrams(text, k, firstOnly)`
  * → `array<struct<hi: bigint, lo: bigint, pos: int>>`, one entry per
  * k-token window: (hi, lo) = the window's MD5 digest as two big-endian
  * longs, pos = its 0-based start token. With `firstOnly` the array
  * holds one entry per DISTINCT gram at its first position, sorted by
  * unsigned (hi, lo); without it, every window in position order.
  * Documents with fewer than `k` tokens return NULL (explode then yields
  * no rows — the old `size(w) >= k` gate).
  *
  * The gram key of the whole text family (substring runs, span rewrite,
  * n-gram novelty, decontamination, the KMV overlap): consumers join,
  * window and aggregate on the (hi, lo) pair, so no 32-char hex string
  * is ever built, and no output exposes the key. The per-document
  * (gram, first position) map comes out row-locally, so the
  * expression-convenient formulation's corpus-wide groupBy of the gram
  * stream is gone too.
  *
  * Bit-parity contract (spec-pinned in LibraryOpsSpec against the hex
  * formulation): (hi, lo) is `unhex(md5(encode(concat_ws(' ',
  * w[i..i+k−1]), 'UTF-8')))` split into two longs with `w = split(text,
  * ' ')` (Spark's limit −1 semantics: empty tokens kept); firstOnly is
  * that stream's `groupBy(doc, gram) min(i)`. The tokenizer and digest
  * loop are [[Kgrams.windows]], shared with [[MinhashSig]]. */
case class Kgrams(text: Expression, k: Expression, firstOnly: Expression)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = text
  override def second: Expression = k
  override def third: Expression = firstOnly

  override def checkInputDataTypes(): TypeCheckResult = {
    val kOk = k.foldable && k.dataType == IntegerType && k.eval() != null &&
      k.eval().asInstanceOf[Int] >= 1 && k.eval().asInstanceOf[Int] <= 64
    val modeOk = firstOnly.foldable && firstOnly.dataType == BooleanType &&
      firstOnly.eval() != null
    if (text.dataType == StringType && kOk && modeOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, int literal in [1,64], boolean literal), " +
        s"got ${text.dataType.sql}, ${k.sql}, ${firstOnly.sql}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false),
    StructField("pos", IntegerType, nullable = false))), containsNull = false)

  override def nullable: Boolean = true

  private lazy val n: Int = k.eval().asInstanceOf[Int]
  private lazy val distinct: Boolean = firstOnly.eval().asInstanceOf[Boolean]

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) return null
    val w = Kgrams.windows(t.asInstanceOf[UTF8String], n)
    if (w == null) return null
    val count = if (distinct) w.sortDistinct() else w.count
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      out(i) = new GenericInternalRow(Array[Any](w.pairs(2 * i), w.pairs(2 * i + 1), w.pos(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(text = newFirst, k = newSecond, firstOnly = newThird)

  override def prettyName: String = "graft_kgrams"
}

object Kgrams {
  /** A document's k-token windows, digested: window i's MD5 is
    * (pairs(2i), pairs(2i+1)), its first 8 bytes then its last 8, read
    * big-endian, and pos(i) its start token. Per-thread working state:
    * MD5 instances are not thread-safe and expressions may be shared
    * across tasks. The arrays grow to the largest document a thread has
    * seen and are reused after that, so a window costs no allocation;
    * the contents are valid until the thread's next [[windows]] call. */
  final class Windows private[Kgrams] {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val dig = new Array[Byte](16)
    private val digBuf = java.nio.ByteBuffer.wrap(dig) // big-endian
    private var ends = new Array[Int](64)
    private var tmp = new Array[Long](128)
    private var tmpPos = new Array[Int](64)
    var pairs = new Array[Long](128)
    var pos = new Array[Int](64)
    var count = 0

    private def reserve(tokens: Int, windows: Int): Unit = {
      if (ends.length < tokens) ends = new Array[Int](math.max(tokens, 2 * ends.length))
      if (pos.length < windows) {
        val len = math.max(windows, 2 * pos.length)
        pairs = new Array[Long](2 * len); tmp = new Array[Long](2 * len)
        pos = new Array[Int](len); tmpPos = new Array[Int](len)
      }
    }

    /** Tokenizes and digests; false when there are fewer than `k`
      * tokens. A space byte only ever encodes ' ', so window i is a byte
      * range of the document's UTF-8 bytes. */
    private[Kgrams] def fill(t: UTF8String, k: Int): Boolean = {
      // decode + re-encode: ill-formed UTF-8 is replaced exactly as the
      // split-then-encode formulation replaces it, token by token
      val bytes = t.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var spaces = 0
      var b = 0
      while (b < bytes.length) { if (bytes(b) == ' ') spaces += 1; b += 1 }
      if (spaces + 1 < k) return false
      count = spaces + 2 - k
      reserve(spaces + 1, count)
      // ends(w) = the byte index just past token w
      var w = 0
      b = 0
      while (b < bytes.length) { if (bytes(b) == ' ') { ends(w) = b; w += 1 }; b += 1 }
      ends(w) = bytes.length
      var i = 0
      while (i < count) {
        val from = if (i == 0) 0 else ends(i - 1) + 1
        md.update(bytes, from, ends(i + k - 1) - from)
        md.digest(dig, 0, 16)
        pairs(2 * i) = digBuf.getLong(0)
        pairs(2 * i + 1) = digBuf.getLong(8)
        pos(i) = i
        i += 1
      }
      true
    }

    /** Sorts the windows by unsigned (hi, lo) — stably, so each run of
      * one gram keeps window order — and compacts each run to its first
      * window: afterwards the first m entries are the distinct grams at
      * their first positions. Returns m. */
    def sortDistinct(): Int = {
      sort(0, count)
      var m = 0
      var i = 0
      while (i < count) {
        if (m == 0 || pairs(2 * i) != pairs(2 * m - 2) || pairs(2 * i + 1) != pairs(2 * m - 1)) {
          pairs(2 * m) = pairs(2 * i); pairs(2 * m + 1) = pairs(2 * i + 1); pos(m) = pos(i)
          m += 1
        }
        i += 1
      }
      m
    }

    /** Stable merge sort of windows [from, until) by unsigned (hi, lo). */
    private def sort(from: Int, until: Int): Unit =
      if (until - from > 1) {
        val mid = (from + until) >>> 1
        sort(from, mid)
        sort(mid, until)
        var i = from; var j = mid; var o = from
        while (o < until) {
          val takeLeft = j >= until || (i < mid && SortedIntersect.comparePairs(
            pairs(2 * i), pairs(2 * i + 1), pairs(2 * j), pairs(2 * j + 1)) <= 0)
          val s = if (takeLeft) { i += 1; i - 1 } else { j += 1; j - 1 }
          tmp(2 * o) = pairs(2 * s); tmp(2 * o + 1) = pairs(2 * s + 1); tmpPos(o) = pos(s)
          o += 1
        }
        System.arraycopy(tmp, 2 * from, pairs, 2 * from, 2 * (until - from))
        System.arraycopy(tmpPos, from, pos, from, until - from)
      }
  }

  private val scratch = new ThreadLocal[Windows] {
    override def initialValue(): Windows = new Windows
  }

  /** The one tokenizer + digest loop of the text family: tokens =
    * `split(t, ' ')` with limit −1 (empty tokens kept), window i = tokens
    * i..i+k−1 joined by ' ', digested as UTF-8. Returns the calling
    * thread's [[Windows]] in window order, or null when `t` has fewer
    * than `k` tokens. */
  def windows(t: UTF8String, k: Int): Windows = {
    val w = scratch.get()
    if (w.fill(t, k)) w else null
  }
}
