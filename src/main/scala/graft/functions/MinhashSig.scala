package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the whole per-document MinHash stage in
  * ONE row-local pass — `graft_minhash_sig(text, ngram, nHash)` →
  * `struct<sig: array<bigint>, shs: array<bigint>>` where `sig(i)` is
  * the i-th affine-mix minimum over the document's word-`ngram`
  * shingle md5s and `shs` is the distinct shingle-md5 set as 2n longs:
  * element 2k is the first 8 bytes of digest k read big-endian, element
  * 2k+1 the last 8. The (hi, lo) pairs are distinct and sorted by
  * unsigned (hi, lo) — the order of the digests' unsigned bytes and of
  * their lowercase hex spellings. Sorted + distinct is the contract
  * [[SortedIntersectSize]] verifies against. Fixed-width elements need
  * no per-element offset slot, so a shingle costs 16 bytes in a cached
  * frame, a shuffle or an `UnsafeRow` (an `array<binary>` of 16-byte
  * digests paid 24).
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
  * `concat_ws(' ', w[i..i+n−1])`; md5 over UTF-8 bytes (the pair is
  * `unhex(md5(..))` split into two big-endian longs); h1 = top 4 digest
  * bytes (the first 8 hex chars) read unsigned, reduced mod 2³¹;
  * mix i = (h1·mixA(i) + mixB(i)) mod 2³¹ with the shared
  * [[graft.operators.Dedup]] constants — all intermediates < 2⁶²,
  * exactly the chain the DuckDB oracle replays. Documents with fewer
  * than `ngram` tokens return NULL (the caller's `isNotNull` filter
  * is the old `size(w) >= n` gate).
  *
  * Per shingle the pass allocates nothing: tokenizing and digesting is
  * [[Kgrams.windows]], the text family's one k-gram routine (shared with
  * `graft_kgrams`), which records each shingle as two longs in
  * per-thread scratch; its stable sort + compaction yields `shs`.
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
    StructField("shs", ArrayType(LongType, containsNull = false), nullable = false)))

  override def nullable: Boolean = true

  private lazy val n: Int = ngram.eval().asInstanceOf[Int]
  private lazy val k: Int = nHash.eval().asInstanceOf[Int]
  private lazy val as: Array[Long] = Array.tabulate(k)(graft.operators.Dedup.mixA)
  private lazy val bs: Array[Long] = Array.tabulate(k)(graft.operators.Dedup.mixB)

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) return null
    val w = Kgrams.windows(t.asInstanceOf[UTF8String], n)
    if (w == null) return null
    val m = graft.operators.Dedup.mixM
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < w.count) {
      // first 8 hex chars = top 4 digest bytes, unsigned, mod 2^31
      val h1 = (w.pairs(2 * i) >>> 32) % m
      var x = 0
      while (x < k) {
        val v = (h1 * as(x) + bs(x)) % m
        if (v < mins(x)) mins(x) = v
        x += 1
      }
      i += 1
    }
    val distinct = w.sortDistinct()
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(mins),
      UnsafeArrayData.fromPrimitiveArray(w.pairs, Platform.LONG_ARRAY_OFFSET, 2 * distinct, 8)))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(text = newFirst, ngram = newSecond, nHash = newThird)

  override def prettyName: String = "graft_minhash_sig"
}
