package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SortedIntersect

/** `graft_sorted_intersect_size` — the merge kernel of the minhash
  * verify step — against `size(array_intersect(..))` over the hex
  * spellings of the same sets, and its refusal of unsorted input. */
class SortedIntersectSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private val unsigned: Ordering[Array[Byte]] =
    (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)

  /** A sorted distinct set of `n` draws from a universe of `universe`
    * values (digest-shaped: 16 bytes, or `len` bytes when given). */
  private def randomSet(rnd: scala.util.Random, n: Int, universe: Int,
      len: Int = 16): Seq[Array[Byte]] = {
    val ids = Seq.fill(n)(rnd.nextInt(universe)).distinct
    ids.map { id =>
      val r = new scala.util.Random(id.toLong * 7919L + len)
      Array.fill(len)(r.nextInt(256).toByte)
    }.sorted(unsigned)
  }

  private def cases(rnd: scala.util.Random): Seq[(Seq[Array[Byte]], Seq[Array[Byte]])] = {
    val long = randomSet(rnd, 1500, 900)
    val one = randomSet(rnd, 1, 4)
    Seq(
      (Nil, Nil),
      (Nil, randomSet(rnd, 5, 50)),
      (randomSet(rnd, 5, 50), Nil),
      (one, one),
      (one, randomSet(rnd, 3, 4)),
      (long, long),
      (long, randomSet(rnd, 900, 900)),
      // disjoint: the two universes share no draw (different lengths)
      (randomSet(rnd, 40, 100, len = 16), randomSet(rnd, 40, 100, len = 8)),
      // byte values above 0x7f — unsigned order, not signed
      (Seq(Array[Byte](1), Array[Byte](0x7f), Array[Byte](-128), Array[Byte](-1)),
        Seq(Array[Byte](0x7f), Array[Byte](-1))),
      // prefixes order before their extensions
      (Seq(Array[Byte](5), Array[Byte](5, 0), Array[Byte](5, 0, 0, 0, 0, 0, 0, 0, 1)),
        Seq(Array[Byte](5, 0), Array[Byte](5, 0, 0, 0, 0, 0, 0, 0, 1)))) ++
      Seq.fill(30)((randomSet(rnd, rnd.nextInt(80), 120),
        randomSet(rnd, rnd.nextInt(80), 120)))
  }

  private def frame(pairs: Seq[(Seq[Array[Byte]], Seq[Array[Byte]])]): DataFrame = {
    import spark.implicits._
    pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
  }

  private def kernelVsReference(df: DataFrame): Array[(Int, Int)] =
    df.select(
        expr("graft_sorted_intersect_size(a, b)"),
        size(array_intersect(transform(col("a"), x => hex(x)),
          transform(col("b"), x => hex(x)))))
      .collect().map(r => (r.getInt(0), r.getInt(1)))

  test("equals size(array_intersect) over the hex spellings, codegen and interpreted") {
    val pairs = cases(new scala.util.Random(17))
    val df = frame(pairs)
    // the kernel really is exercised: identical long sets overlap fully
    assert(pairs.exists(p => p._1.size >= 500 && p._1 == p._2))
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        val got = kernelVsReference(df)
        assert(got.length == pairs.length)
        got.foreach { case (k, ref) => assert(k == ref, s"($factory) $k != $ref") }
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    // the generic (non-row) path agrees with the in-row one
    pairs.foreach { case (a, b) =>
      val want = a.map(_.toSeq).toSet.intersect(b.map(_.toSeq).toSet).size
      assert(SortedIntersect.size(new GenericArrayData(a.toArray[Any]),
        new GenericArrayData(b.toArray[Any])) == want)
    }
  }

  test("throws on an input that is not strictly increasing") {
    val x = Array[Byte](1); val y = Array[Byte](2); val z = Array[Byte](3)
    val bad = Seq(
      (Seq(y, x), Seq(x, y)),       // left descending at the head
      (Seq(x, y), Seq(x, z, y)),    // right out of order mid-merge
      (Seq(x, x), Seq(z)),          // duplicate: not STRICTLY increasing
      (Seq(x), Seq(x, z, y)))       // out of order after the left ran out
    bad.foreach { case (a, b) =>
      val e = intercept[IllegalArgumentException] {
        SortedIntersect.size(new GenericArrayData(a.toArray[Any]),
          new GenericArrayData(b.toArray[Any]))
      }
      assert(e.getMessage.contains("not strictly increasing"))
      val e2 = intercept[Exception](kernelVsReference(frame(Seq((a, b)))))
      val chain = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("not strictly increasing")),
        s"in-row path did not refuse unsorted input: $e2")
    }
    // the analyzer refuses non-binary elements
    import spark.implicits._
    val e3 = intercept[Exception] {
      Seq((Seq("a"), Seq("a"))).toDF("a", "b")
        .select(expr("graft_sorted_intersect_size(a, b)")).collect()
    }
    assert(e3.getMessage.contains("array<binary>"))
  }
}
