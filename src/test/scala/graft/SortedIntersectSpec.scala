package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SortedIntersect

/** `graft_sorted_intersect_size` — the merge kernel of the minhash
  * verify step, over sets of (hi, lo) digest pairs held as one
  * `array<bigint>` — against `size(array_intersect(..))` over the hex
  * spellings of the same sets, and its refusal of malformed input. */
class SortedIntersectSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private type Digest = (Long, Long)

  private val unsigned: Ordering[Digest] = (x: Digest, y: Digest) =>
    SortedIntersect.comparePairs(x._1, x._2, y._1, y._2)

  private def hexOf(d: Digest): String = f"${d._1}%016x${d._2}%016x"

  private def flat(set: Seq[Digest]): Seq[Long] = set.flatMap(d => Seq(d._1, d._2))

  /** A sorted distinct set of `n` draws from a universe of `universe`
    * digests; `salt` picks the universe (different salts share none). */
  private def randomSet(rnd: scala.util.Random, n: Int, universe: Int,
      salt: Long = 0L): Seq[Digest] =
    Seq.fill(n)(rnd.nextInt(universe)).distinct.map { id =>
      val r = new scala.util.Random(id.toLong * 7919L + salt)
      (r.nextLong(), r.nextLong())
    }.sorted(unsigned)

  private def cases(rnd: scala.util.Random): Seq[(Seq[Digest], Seq[Digest])] = {
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
      // disjoint: the two universes share no draw
      (randomSet(rnd, 40, 100, salt = 1L), randomSet(rnd, 40, 100, salt = 2L)),
      // halves with the sign bit set order AFTER those without: unsigned
      (Seq((1L, 0L), (Long.MaxValue, 0L), (Long.MinValue, 0L), (-1L, 0L)),
        Seq((Long.MaxValue, 0L), (-1L, 0L))),
      // equal hi, different lo — the lo half decides, unsigned too
      (Seq((5L, 1L), (5L, 2L), (5L, Long.MinValue), (5L, -1L)),
        Seq((5L, 2L), (5L, -1L), (6L, 2L)))) ++
      Seq.fill(30)((randomSet(rnd, rnd.nextInt(80), 120),
        randomSet(rnd, rnd.nextInt(80), 120)))
  }

  private def frame(pairs: Seq[(Seq[Long], Seq[Long])]): DataFrame = {
    import spark.implicits._
    pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
  }

  test("equals size(array_intersect) over the hex spellings, codegen and interpreted") {
    import spark.implicits._
    val sets = cases(new scala.util.Random(17))
    // the reference's input: each digest's 32-digit hex spelling, whose
    // string order is the unsigned (hi, lo) order the kernel expects
    sets.foreach { case (a, b) =>
      Seq(a, b).foreach(s => assert(s.map(hexOf) == s.map(hexOf).sorted))
    }
    val df = sets.zipWithIndex.map { case ((a, b), i) =>
      (i, flat(a), flat(b), a.map(hexOf), b.map(hexOf))
    }.toDF("i", "a", "b", "ah", "bh")
    // the kernel really is exercised: identical long sets overlap fully
    assert(sets.exists(p => p._1.size >= 500 && p._1 == p._2))
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        val got = df.select(expr("graft_sorted_intersect_size(a, b)"),
            size(array_intersect(col("ah"), col("bh"))))
          .collect().map(r => (r.getInt(0), r.getInt(1)))
        assert(got.length == sets.length)
        got.foreach { case (k, ref) => assert(k == ref, s"($factory) $k != $ref") }
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    // the generic (non-row) path agrees with the in-row one
    sets.foreach { case (a, b) =>
      assert(SortedIntersect.size(new GenericArrayData(flat(a).toArray[Any]),
        new GenericArrayData(flat(b).toArray[Any])) == a.toSet.intersect(b.toSet).size)
    }
  }

  /** `msg` is raised on the generic path and on the in-row path. */
  private def refuses(a: Seq[Long], b: Seq[Long], msg: String): Unit = {
    val e = intercept[IllegalArgumentException] {
      SortedIntersect.size(new GenericArrayData(a.toArray[Any]),
        new GenericArrayData(b.toArray[Any]))
    }
    assert(e.getMessage.contains(msg), e.getMessage)
    val e2 = intercept[Exception] {
      frame(Seq((a, b))).select(expr("graft_sorted_intersect_size(a, b)")).collect()
    }
    val chain = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => String.valueOf(t.getMessage).contains(msg)),
      s"in-row path did not refuse ($msg): $e2")
  }

  private val x = Seq(1L, 9L); private val y = Seq(2L, 0L); private val z = Seq(3L, 0L)

  test("throws on an input that is not strictly increasing") {
    Seq(
      (y ++ x, x ++ y),                 // left descending at the head
      (x ++ y, x ++ z ++ y),            // right out of order mid-merge
      (x ++ x, z),                      // duplicate pair
      (Seq(1L, 9L, 1L, 8L), z),         // equal hi, lo descending
      (Seq(-1L, 0L, 1L, 0L), z),        // signed order is not unsigned
      (x, x ++ z ++ y)                  // unsorted tail after the left ran out
    ).foreach { case (a, b) => refuses(a, b, "not strictly increasing") }
  }

  test("throws on an odd length, a NULL element, or another element type") {
    refuses(Seq(1L, 9L, 2L), x, "odd number of elements")
    refuses(x, Seq(5L), "odd number of elements")
    assert(intercept[IllegalArgumentException](SortedIntersect.size(
      new GenericArrayData(Array[Any](1L, null)), new GenericArrayData(x.toArray[Any])))
      .getMessage.contains("NULL"))
    val e = intercept[Exception] {
      spark.range(1).select(expr("graft_sorted_intersect_size(array(1L, id + 2), " +
        "array(1L, if(id = 0, null, id)))")).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("NULL")), e)
    // the analyzer refuses other element types, the retired binary one too
    Seq("array('a')", "array(unhex('01'))").foreach { a =>
      val e3 = intercept[Exception] {
        spark.range(1).select(expr(s"graft_sorted_intersect_size($a, $a)")).collect()
      }
      assert(e3.getMessage.contains("array<bigint>"), e3.getMessage)
    }
  }
}
