package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MomentsAgg

/** Contract tests for the sufficient-statistics aggregate that powers
  * the dense-kernel layer (QKernels.labelMoments): exactness vs a
  * sequential BigDecimal reference, bit-identity under any partition
  * layout (the exact-decimal order-invariance claim), and the
  * poison-row flood semantics for NaN/overflow inputs.
  */
class MomentsAggSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private val dims = 3

  private def runAgg(rows: Seq[(Int, Seq[Double])], partitions: Int) = {
    import spark.implicits._
    val magg = udaf(new MomentsAgg(dims),
      implicitly[org.apache.spark.sql.Encoder[Seq[Double]]])
    rows.toDF("g", "v").repartition(partitions)
      .groupBy("g").agg(magg(col("v")).as("mm"))
      .select(col("g"), col("mm.n"), col("mm.bad"), col("mm.s"), col("mm.m"))
      .as[(Int, Long, Long, Seq[Double], Seq[Double])]
      .collect().sortBy(_._1).toSeq
  }

  test("moments match a sequential exact-decimal reference") {
    val rnd = new scala.util.Random(7L)
    val rows = Seq.fill(200)((rnd.nextInt(2), Seq.fill(dims)(rnd.nextDouble() * 20 - 10)))
    val got = runAgg(rows, 4)
    for ((g, n, bad, s, m) <- got) {
      val vs = rows.filter(_._1 == g).map(_._2)
      assert(n == vs.size && bad == 0)
      for (i <- 0 until dims) {
        val want = vs.map(v => new java.math.BigDecimal(v(i)))
          .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
        assert(s(i) == want, s"first-order sum g=$g i=$i")
      }
      var idx = 0
      for (i <- 0 until dims; j <- i until dims) {
        val want = vs.map(v => new java.math.BigDecimal(v(i) * v(j)))
          .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
        assert(m(idx) == want, s"second-order sum g=$g ($i,$j)")
        idx += 1
      }
    }
  }

  test("bit-identical across partition layouts and row orders") {
    val rnd = new scala.util.Random(11L)
    val rows = Seq.fill(500)((rnd.nextInt(3), Seq.fill(dims)(rnd.nextGaussian() * 1e3)))
    val base = runAgg(rows, 1)
    for (p <- Seq(2, 7, 32)) {
      assert(runAgg(rnd.shuffle(rows), p) == base, s"layout p=$p diverged")
    }
  }

  test("exact across extreme magnitudes (subnormals, tiny×huge mixes)") {
    // the limb window claims exactness for EVERY finite double — pin it
    // on values spanning ~600 binary orders of magnitude plus true
    // subnormals, where any scaled-long or truncating scheme would fail
    val vals = Seq(
      Seq(4.9e-324, 1.0e8, -3.7e-200),   // min subnormal, near guard, tiny
      Seq(-4.9e-324, 1.0e-300, 2.5e7),
      Seq(1.23456789e-150, -9.9e7, 5.5e-9),
      Seq(0.0, -0.0, 1.0e-320))          // zeros + subnormal
    val rows = vals.map(v => (0, v))
    val got = runAgg(rows, 2)
    val (_, n, bad, s, m) = got.head
    assert(n == vals.size && bad == 0)
    for (i <- 0 until dims) {
      val want = vals.map(v => new java.math.BigDecimal(v(i)))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
      assert(s(i) == want, s"first-order i=$i")
    }
    var idx = 0
    for (i <- 0 until dims; j <- i until dims) {
      val want = vals.map(v => new java.math.BigDecimal(v(i) * v(j)))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
      assert(m(idx) == want, s"second-order ($i,$j)")
      idx += 1
    }
  }

  test("fixed-point limb path is ≥5× faster per row than the decimal form") {
    // the r5 implementation, verbatim: exact decimal accumulation —
    // ~152 BigInteger adds + allocations per row at dims=16
    val d16 = 16
    final class DecBuf {
      val s = Array.fill(d16)(java.math.BigDecimal.ZERO)
      val m = Array.fill(d16 * (d16 + 1) / 2)(java.math.BigDecimal.ZERO)
    }
    def decimalReduce(b: DecBuf, v: Array[Double]): Unit = {
      val vd = new Array[java.math.BigDecimal](d16)
      var i = 0
      while (i < d16) { vd(i) = new java.math.BigDecimal(v(i)); i += 1 }
      var idx = 0
      i = 0
      while (i < d16) {
        b.s(i) = b.s(i).add(vd(i))
        var j = i
        while (j < d16) {
          b.m(idx) = b.m(idx).add(new java.math.BigDecimal(v(i) * v(j)))
          j += 1; idx += 1
        }
        i += 1
      }
    }
    val rnd = new scala.util.Random(5L)
    val rows = Array.fill(20000)(Array.fill(d16)(rnd.nextGaussian() * 100))
    val wrapped = rows.map(r => scala.collection.immutable.ArraySeq.unsafeWrapArray(r): Seq[Double])
    val agg = new graft.functions.MomentsAgg(d16)
    def timeLimb(): Double = {
      val b = agg.zero
      val t0 = System.nanoTime()
      var i = 0
      while (i < wrapped.length) { agg.reduce(b, wrapped(i)); i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    def timeDec(): Double = {
      val b = new DecBuf
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.length) { decimalReduce(b, rows(i)); i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    timeLimb(); timeDec() // JIT warm-up
    val tL = (1 to 3).map(_ => timeLimb()).min
    val tD = (1 to 3).map(_ => timeDec()).min
    info(f"decimal ${tD * 1e9 / rows.length}%.0f ns/row, limb ${tL * 1e9 / rows.length}%.0f ns/row, ratio ${tD / tL}%.1f×")
    assert(tD / tL >= 5.0, f"expected ≥5× per-row improvement, got ${tD / tL}%.1f×")
  }

  test("limb accumulator is exact for arbitrary finite double bit patterns") {
    // uniform random BIT PATTERNS, not uniform values: exponents sweep
    // the full double range (subnormals included), the adversarial case
    // for any fixed-point window. Magnitude capped at the second-moment
    // guard bound (1e18 < 2^60, window top 2^136).
    import graft.functions.MomentsAgg
    val rnd = new scala.util.Random(99L)
    (1 to 20).foreach { trial =>
      val limbs = new Array[Long](MomentsAgg.NL)
      val vals = Iterator.continually(java.lang.Double.longBitsToDouble(rnd.nextLong()))
        .filter(d => !d.isNaN && !d.isInfinite && math.abs(d) < 1e18)
        .take(300).toSeq
      vals.foreach(v => MomentsAgg.addVal(limbs, 0, v))
      val want = vals.map(new java.math.BigDecimal(_))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      assert(MomentsAgg.cellValue(limbs, 0).compareTo(want) == 0, s"trial $trial")
    }
  }

  test("sparse buffer serialization round-trips exactly and beats dense size") {
    import com.esotericsoftware.kryo.Kryo
    import com.esotericsoftware.kryo.io.{Input, Output}
    val dims16 = 16
    val agg = new graft.functions.MomentsAgg(dims16)
    val b = agg.zero
    val rnd = new scala.util.Random(17L)
    (1 to 1000).foreach(_ =>
      agg.reduce(b, Seq.fill(dims16)(rnd.nextGaussian() * 50)))
    b.bad = 3L
    val kryo = new Kryo()
    val out = new Output(1 << 22)
    kryo.writeObject(out, b)
    out.flush()
    val bytes = out.toBytes
    val b2 = kryo.readObject(new Input(bytes), classOf[graft.functions.MomentsBuf])
    assert(b2.dims == b.dims && b2.n == b.n && b2.bad == b.bad && b2.slack == b.slack)
    assert(b2.s.sameElements(b.s) && b2.m.sameElements(b.m))
    val dense = (b.s.length + b.m.length) * 8
    assert(bytes.length < dense / 4,
      s"sparse encoding ${bytes.length} B should be ≪ dense $dense B")
    info(f"sparse ${bytes.length} B vs dense $dense B (${dense.toDouble / bytes.length}%.1f×)")
  }

  test("carry-propagation (normalize) preserves exact values and canonicalizes limbs") {
    // the slack-triggered normalize never fires below 2^30 rows, so the
    // carry logic gets a direct unit pin: value before == value after,
    // all non-top limbs land in [0, 2^32), and both equal a sequential
    // BigDecimal reference — including a negative-total cell
    import graft.functions.MomentsAgg
    val rnd = new scala.util.Random(13L)
    for (signBias <- Seq(0.9, -0.9)) {
      val limbs = new Array[Long](MomentsAgg.NL)
      val vals = Seq.fill(5000)(
        (rnd.nextGaussian() + signBias) * math.pow(10.0, rnd.nextInt(12) - 6)) ++
        Seq(4.9e-324, -1.7e8, 1.0e-320)
      vals.foreach(v => MomentsAgg.addVal(limbs, 0, v))
      val before = MomentsAgg.cellValue(limbs, 0)
      MomentsAgg.normalize(limbs)
      val after = MomentsAgg.cellValue(limbs, 0)
      assert(before.compareTo(after) == 0, "normalize changed the cell value")
      assert(limbs.dropRight(1).forall(l => l >= 0 && l < (1L << 32)),
        "non-top limbs not canonical after normalize")
      val want = vals.map(new java.math.BigDecimal(_))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      assert(before.compareTo(want) == 0, "exact sum mismatch vs decimal reference")
    }
  }

  test("a NaN / overflow row floods the group's moments and counts as bad") {
    val clean = Seq((0, Seq(1.0, 2.0, 3.0)), (0, Seq(4.0, 5.0, 6.0)))
    val poisoned = clean ++ Seq(
      (1, Seq(1.0, Double.NaN, 2.0)),
      (1, Seq(2.0, 3.0, 4.0)),
      (2, Seq(1e10, 1.0, 1.0)), // |x| ≥ 1e9 decimal-guard bound
      (2, Seq(0.5, 0.5, 0.5)))
    val got = runAgg(poisoned, 3)
    val byG = got.map(r => r._1 -> r).toMap
    assert(byG(0)._2 == 2 && byG(0)._3 == 0 && !byG(0)._4.exists(_.isNaN))
    for (g <- Seq(1, 2)) {
      assert(byG(g)._2 == 2 && byG(g)._3 == 1, s"group $g counts")
      assert(byG(g)._4.forall(_.isNaN) && byG(g)._5.forall(_.isNaN), s"group $g flood")
    }
  }

  test("typed-aggregator output encoders are built once per JVM") {
    // Encoders.product derives by Scala reflection; Spark asks for the
    // encoder in every task, so a per-access build re-ran that per task
    assert(new MomentsAgg(2).outputEncoder eq new MomentsAgg(5).outputEncoder)
    val w = graft.functions.WilcoxonSignedRank
    assert(w.outputEncoder eq w.outputEncoder)
    assert(w.bufferEncoder eq w.bufferEncoder)
  }
}
