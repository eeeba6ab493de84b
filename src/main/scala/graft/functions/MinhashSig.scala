package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the whole per-document MinHash stage in
  * ONE row-local pass — `graft_minhash_sig(text, ngram, nHash)` →
  * `struct<sig: array<bigint>, shs: array<binary>>` where `sig(i)` is
  * the i-th affine-mix minimum over the document's word-`ngram`
  * shingle md5s and `shs` is the distinct shingle-md5 set as raw
  * 16-byte digests, sorted ascending by unsigned byte order — the
  * order Spark's BinaryType compares in, and the order of the digests'
  * lowercase hex spellings. Sorted + distinct is the contract
  * [[SortedIntersectSize]] verifies against; 16 bytes instead of 32 hex
  * chars is what makes this column (the largest one the dedup family
  * caches, persists and stores) about 40% smaller.
  *
  * Why an expression and not a plan: the signature and the shingle set
  * are PER-DOCUMENT values, but the expression-convenient formulation
  * (explode shingle positions → md5 → groupBy(doc) with nHash min
  * aggregates + collect_set) pays a corpus-wide SHUFFLE of the
  * (doc, shingle) stream just to reassemble rows that were row-local
  * all along. This expression removes that shuffle entirely — the
  * per-doc frame becomes a projection of the input — which is the
  * dominant structural cost of minhash dedup at corpus scale. (A
  * higher-order-function formulation would also be row-local but
  * evaluates interpreted per shingle — the measured 7× penalty that
  * motivated the repo's other native expressions.)
  *
  * Bit-parity contract (spec-pinned in LibraryOpsSpec against the
  * explode+groupBy formulation): tokens = `split(text, ' ')` with
  * Spark's limit −1 semantics (empty tokens kept); shingle text =
  * `concat_ws(' ', w[i..i+n−1])`; md5 over UTF-8 bytes (the set
  * element is `unhex(md5(..))`); h1 = top 4 digest bytes (the first 8
  * hex chars) read unsigned, reduced mod 2³¹;
  * mix i = (h1·mixA(i) + mixB(i)) mod 2³¹ with the shared
  * [[graft.operators.Dedup]] constants — all intermediates < 2⁶²,
  * exactly the chain the DuckDB oracle replays. Documents with fewer
  * than `ngram` tokens return NULL (the caller's `isNotNull` filter
  * is the old `size(w) >= n` gate).
  */
case class MinhashSig(text: Expression, ngram: Expression, nHash: Expression)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = text
  override def second: Expression = ngram
  override def third: Expression = nHash

  override def checkInputDataTypes(): TypeCheckResult = {
    def litInt(e: Expression, lo: Int, hi: Int): Boolean =
      e.foldable && e.dataType == IntegerType && e.eval() != null && {
        val v = e.eval().asInstanceOf[Int]; v >= lo && v <= hi
      }
    if (text.dataType == StringType && litInt(ngram, 1, 64) && litInt(nHash, 1, 256))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, int literal in [1,64], int literal in [1,256]), " +
        s"got ${text.dataType.sql}, ${ngram.sql}, ${nHash.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("shs", ArrayType(BinaryType, containsNull = false), nullable = false)))

  override def nullable: Boolean = true

  private lazy val n: Int = ngram.eval().asInstanceOf[Int]
  private lazy val k: Int = nHash.eval().asInstanceOf[Int]
  private lazy val as: Array[Long] = Array.tabulate(k)(graft.operators.Dedup.mixA)
  private lazy val bs: Array[Long] = Array.tabulate(k)(graft.operators.Dedup.mixB)

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) return null
    val tokens = t.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (tokens.length < n) return null
    val m = graft.operators.Dedup.mixM
    val mins = Array.fill(k)(Long.MaxValue)
    val digs = new Array[Array[Byte]](tokens.length - n + 1)
    val md = MinhashSig.digest.get()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= tokens.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      md.reset()
      val dig = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      digs(i) = dig
      // first 8 hex chars = top 4 digest bytes, unsigned, mod 2^31
      val h1 = (((dig(0) & 0xFFL) << 24) | ((dig(1) & 0xFFL) << 16) |
        ((dig(2) & 0xFFL) << 8) | (dig(3) & 0xFFL)) % m
      var x = 0
      while (x < k) {
        val v = (h1 * as(x) + bs(x)) % m
        if (v < mins(x)) mins(x) = v
        x += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(mins), new GenericArrayData(MinhashSig.sortedDistinct(digs))))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(text = newFirst, ngram = newSecond, nHash = newThird)

  override def prettyName: String = "graft_minhash_sig"
}

object MinhashSig {
  /** MD5 instances are not thread-safe and expressions may be shared
    * across tasks — one digest per thread. */
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val unsignedOrder: java.util.Comparator[Array[Byte]] =
    (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)

  /** The distinct digests of `digs` in unsigned byte order (`digs` is
    * sorted and compacted in place). */
  private def sortedDistinct(digs: Array[Array[Byte]]): Array[Any] = {
    java.util.Arrays.sort(digs, unsignedOrder)
    var m = 0
    var i = 0
    while (i < digs.length) {
      if (m == 0 || !java.util.Arrays.equals(digs(i), digs(m - 1))) {
        digs(m) = digs(i); m += 1
      }
      i += 1
    }
    val out = new Array[Any](m)
    System.arraycopy(digs, 0, out, 0, m)
    out
  }
}
