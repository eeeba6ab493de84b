package graft.functions

import java.math.{BigDecimal, BigInteger}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Buffer for [[MomentsAgg]]: counts + fixed-point limb accumulators
  * (see the companion object) for the first-order and packed
  * upper-triangle second-order sums.
  *
  * Serialization (partial → final aggregation shuffle) is SPARSE: the
  * limb window spans the full double range so each cell is 38 limbs,
  * but real data clusters within a few binades — typically ~4-6
  * non-zero limbs per cell — so (varint index, value) pairs cut the
  * shuffled buffer from ~46 KB dense to a few KB at dims = 16. At
  * corpus scale the moment shuffle is #groups × #partitions of these
  * buffers; their size is the entire cost of the window's generosity,
  * so it is paid only for limbs actually touched. */
final class MomentsBuf(var dims: Int) extends Serializable
    with com.esotericsoftware.kryo.KryoSerializable {
  import MomentsAgg.NL
  var n: Long = 0L
  var bad: Long = 0L
  /** Un-normalized row contributions since the last carry-propagation —
    * bounds the limbs' drift from canonical form (see normalize). */
  var slack: Long = 0L
  var s: Array[Long] = new Array[Long](dims * NL)
  var m: Array[Long] = new Array[Long](dims * (dims + 1) / 2 * NL)

  def this() = this(0) // Kryo instantiation

  private def writeSparse(out: com.esotericsoftware.kryo.io.Output,
      a: Array[Long]): Unit = {
    var nz = 0
    var i = 0
    while (i < a.length) { if (a(i) != 0L) nz += 1; i += 1 }
    out.writeInt(nz, true)
    i = 0
    while (i < a.length) {
      if (a(i) != 0L) { out.writeInt(i, true); out.writeLong(a(i)) }
      i += 1
    }
  }

  private def readSparse(in: com.esotericsoftware.kryo.io.Input,
      a: Array[Long]): Unit = {
    var nz = in.readInt(true)
    while (nz > 0) { a(in.readInt(true)) = in.readLong(); nz -= 1 }
  }

  override def write(kryo: com.esotericsoftware.kryo.Kryo,
      out: com.esotericsoftware.kryo.io.Output): Unit = {
    out.writeInt(dims, true)
    out.writeLong(n); out.writeLong(bad); out.writeLong(slack)
    writeSparse(out, s); writeSparse(out, m)
  }

  override def read(kryo: com.esotericsoftware.kryo.Kryo,
      in: com.esotericsoftware.kryo.io.Input): Unit = {
    dims = in.readInt(true)
    n = in.readLong(); bad = in.readLong(); slack = in.readLong()
    s = new Array[Long](dims * NL)
    m = new Array[Long](dims * (dims + 1) / 2 * NL)
    readSparse(in, s); readSparse(in, m)
  }
}

/** Finished moments: row count, poison-row count, first-order sums,
  * packed second-order sums (NaN-flooded when any row was poison). */
final case class MomentsOut(n: Long, bad: Long, s: Seq[Double], m: Seq[Double])

object MomentsAgg {
  /** Built once per JVM: `Encoders.product` derives the encoder by Scala
    * reflection, and Spark asks for it in every task that runs the
    * aggregate. */
  lazy val outputEncoder: Encoder[MomentsOut] = Encoders.product[MomentsOut]

  /** Limbs per accumulator cell. Each cell is a signed fixed-point
    * integer Σₖ limbs(k)·2^(32k) scaled by 2^EBASE, spanning
    * [2^EBASE, 2^(32·NL + EBASE)) = [2^-1080, 2^136): every finite
    * double down to the smallest subnormal (2^-1074) fits exactly, and
    * the top end clears the poison-guard product bound (|xᵢxⱼ| < 10¹⁸
    * < 2^60) by a wide margin — so the fast path is UNconditional. */
  val NL = 38
  val EBASE: Int = -1080

  /** 2^-1080 as an exact BigDecimal (finite decimal expansion). */
  private[functions] val POW_EBASE: BigDecimal =
    BigDecimal.ONE.divide(new BigDecimal(BigInteger.ONE.shiftLeft(-EBASE)))

  private val M32 = 0xFFFFFFFFL

  /** Add the EXACT value of double `x` into the cell at `cellOff`.
    * Decomposes x = ±mant·2^e (53-bit integer mantissa) and adds the
    * mantissa's ≤3 32-bit chunks, shifted to e − EBASE, into the signed
    * limb partial sums — ~10 long ops, no allocation, no rounding. */
  @inline private[graft] def addVal(limbs: Array[Long], cellOff: Int, x: Double): Unit = {
    if (x == 0.0) return
    val bits = java.lang.Double.doubleToRawLongBits(x)
    val biased = ((bits >>> 52) & 0x7FFL).toInt
    val frac = bits & 0x000FFFFFFFFFFFFFL
    var mant = 0L
    var e = 0
    if (biased == 0) { mant = frac; e = -1074 }
    else { mant = frac | (1L << 52); e = biased - 1075 }
    val off = e - EBASE
    val idx = cellOff + (off >> 5)
    val sh = off & 31
    val w0 = mant << sh
    val w1 = if (sh == 0) 0L else mant >>> (64 - sh)
    if (bits < 0) {
      limbs(idx) -= w0 & M32
      limbs(idx + 1) -= w0 >>> 32
      limbs(idx + 2) -= w1
    } else {
      limbs(idx) += w0 & M32
      limbs(idx + 1) += w0 >>> 32
      limbs(idx + 2) += w1
    }
  }

  /** Carry-propagate every cell to canonical form (limbs in [0, 2^32),
    * top limb signed). Each row adds < 2^33 in magnitude per limb, so a
    * normalize every 2^30 contributions keeps the signed partial sums
    * far from long overflow; at that cadence its cost is nil. */
  private[graft] def normalize(limbs: Array[Long]): Unit = {
    var base = 0
    while (base < limbs.length) {
      var k = 0
      while (k < NL - 1) {
        val q = limbs(base + k) >> 32 // floor division by 2^32
        if (q != 0) {
          limbs(base + k) -= q << 32
          limbs(base + k + 1) += q
        }
        k += 1
      }
      base += NL
    }
  }

  /** Exact BigDecimal value of one cell. */
  private[graft] def cellValue(limbs: Array[Long], cellOff: Int): BigDecimal = {
    var acc = BigInteger.ZERO
    var k = NL - 1
    while (k >= 0) {
      acc = acc.shiftLeft(32)
      val l = limbs(cellOff + k)
      if (l != 0L) acc = acc.add(BigInteger.valueOf(l))
      k -= 1
    }
    new BigDecimal(acc).multiply(POW_EBASE)
  }

  /** Rows between carry-propagations. */
  private val NORM_EVERY = 1L << 30
  private[functions] def maybeNormalize(b: MomentsBuf): Unit =
    if (b.slack >= NORM_EVERY) {
      normalize(b.s); normalize(b.m); b.slack = 1L
    }
}

/** Exact order-invariant sufficient-statistics aggregate over a
  * length-`dims` vector column: n, first-order sums Σxᵢ and packed
  * upper-triangle second-order sums Σxᵢxⱼ (exact sums of the per-row
  * DOUBLE products xᵢ·xⱼ — each product is one deterministic double
  * rounding, its exact value then enters the sum untruncated).
  *
  * Determinism: every finite double is ±mant·2^e exactly, and the
  * fixed-point limb accumulator (companion object) adds that exact
  * value — integer arithmetic, associative/commutative — so any
  * partition layout or merge order produces the bit-identical result,
  * with zero truncation in the SUM (stronger than the DECIMAL(38,18)
  * column form, which truncates each term at 1e-18). This is the
  * fixed-point fast path generalizing L8's scaled-long trick
  * (queries/QKernels.scala L8 block): the r5 BigDecimal form paid ~152
  * BigInteger adds + allocations per row on a dims = 16 fact scan —
  * measured ≥5× slower than this (MomentsAggSpec microbench) — while
  * the limb form is plain long arithmetic, needs NO range condition
  * (any finite double fits the window exactly), and finishes through
  * the same exact-value → BigDecimal.doubleValue conversion, so
  * results are bit-identical to the decimal form. One aggregate
  * expression regardless of dimension: the wide-column formulation
  * planned 150+ aggregate columns for dims=16 and paid seconds of
  * per-build analysis + codegen + AQE re-planning, which dwarfed the
  * actual work.
  *
  * Poison contract: a row with any NaN/±Inf/|x| ≥ 1e9 element (the
  * bound keeping products finite and inside the accumulator window) is
  * counted in `bad` and excluded from the sums; `finish` floods all
  * moments NaN when bad > 0 — per-ROW, strictly more conservative than
  * a per-term guard.
  */
class MomentsAgg(dims: Int) extends Aggregator[Seq[Double], MomentsBuf, MomentsOut] {
  import MomentsAgg._

  override def zero: MomentsBuf = new MomentsBuf(dims)

  override def reduce(b: MomentsBuf, v: Seq[Double]): MomentsBuf = {
    b.n += 1
    val a = new Array[Double](dims)
    var i = 0
    var rowBad = false
    while (i < dims && !rowBad) {
      val x = v(i)
      if (x.isNaN || math.abs(x) >= 1e9) rowBad = true
      a(i) = x
      i += 1
    }
    if (rowBad) { b.bad += 1; return b }
    b.slack += 1
    maybeNormalize(b)
    var idx = 0
    i = 0
    while (i < dims) {
      val xi = a(i)
      addVal(b.s, i * NL, xi)
      var j = i
      while (j < dims) {
        addVal(b.m, idx * NL, xi * a(j))
        j += 1; idx += 1
      }
      i += 1
    }
    b
  }

  override def merge(a: MomentsBuf, b: MomentsBuf): MomentsBuf = {
    a.n += b.n; a.bad += b.bad
    a.slack += b.slack
    var i = 0
    while (i < a.s.length) { a.s(i) += b.s(i); i += 1 }
    i = 0
    while (i < a.m.length) { a.m(i) += b.m(i); i += 1 }
    maybeNormalize(a)
    a
  }

  override def finish(b: MomentsBuf): MomentsOut = {
    val nTri = dims * (dims + 1) / 2
    if (b.bad > 0)
      MomentsOut(b.n, b.bad,
        Seq.fill(dims)(Double.NaN), Seq.fill(nTri)(Double.NaN))
    else
      MomentsOut(b.n, b.bad,
        (0 until dims).map(i => cellValue(b.s, i * NL).doubleValue),
        (0 until nTri).map(i => cellValue(b.m, i * NL).doubleValue))
  }

  override def bufferEncoder: Encoder[MomentsBuf] = Encoders.kryo[MomentsBuf]
  override def outputEncoder: Encoder[MomentsOut] = MomentsAgg.outputEncoder
}
