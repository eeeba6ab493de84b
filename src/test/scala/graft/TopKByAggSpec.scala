package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the bounded-state top-k aggregate `graft_top_k`
  * (Spark's `CollectTopK`, the k least values ascending) that replaces
  * `row_number() OVER (...) <= k` windows on corpus-scaling partitions:
  * equivalence with the window formulation on seeded random data
  * (including heavy value ties, which exercise the tie-break keys),
  * bit-identity across partition layouts, and its NULL and `k` rules.
  */
class TopKByAggSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private def topkDf(rows: Seq[(Int, Double, Long, Long)], k: Int, partitions: Int) = {
    import spark.implicits._
    // v DESC, k1, k2 is struct(−v, k1, k2) ascending
    rows.toDF("g", "v", "k1", "k2").repartition(partitions)
      .groupBy("g").agg(call_function("graft_top_k",
        struct(negate(col("v")).as("nv"), col("k1"), col("k2")), lit(k)).as("top"))
      .select(col("g"), transform(col("top"), x => negate(x.getField("nv"))))
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
  }

  private def windowTopK(rows: Seq[(Int, Double, Long, Long)], k: Int) = {
    import spark.implicits._
    val w = Window.partitionBy("g")
      .orderBy(col("v").desc, col("k1"), col("k2"))
    rows.toDF("g", "v", "k1", "k2")
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .orderBy("g", "rk")
      .as[(Int, Double, Long, Long, Int)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.sortBy(_._5).map(_._2).toSeq }
      .toSeq.sortBy(_._1)
  }

  test("matches the row_number window formulation, with ties") {
    val rnd = new scala.util.Random(23L)
    // values drawn from a small set → many exact ties, tie-break decides
    val rows = Seq.tabulate(400)(i =>
      (rnd.nextInt(3), rnd.nextInt(12).toDouble, rnd.nextInt(50).toLong, i.toLong))
    for (k <- Seq(1, 3, 7)) {
      assert(topkDf(rows, k, 5) == windowTopK(rows, k), s"k=$k diverged")
    }
  }

  test("TopKKeysAgg sampling matches the windowed hrand selection exactly") {
    import spark.implicits._
    import graft.functions.Deterministic.hrand
    val rows = (1L to 500L).map(id => ((id % 7).toInt, id))
    val df = rows.toDF("g", "id").repartition(9)
    // window formulation (what the oracle replays)
    val w = Window.partitionBy("g").orderBy(col("hr"), col("id"))
    val want = df.withColumn("hr", hrand(col("id"), 777L))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("g", "id").as[(Int, Long)].collect().toSet
    // bounded-state formulation: the k least (hrand, id), keys out
    def sample(k: org.apache.spark.sql.Column) = df.groupBy("g")
      .agg(call_function("graft_top_k", struct(hrand(col("id"), 777L), col("id").as("id")),
        k).as("ks"))
    val got = sample(lit(5))
      .select(col("g"), explode(col("ks.id")).as("id"))
      .as[(Int, Long)].collect().toSet
    assert(got == want)
    // a wrong k fails at analysis, before any job runs
    for (k <- Seq(lit(0), lit(-2), lit(1.5), lit(null).cast("int"), col("id"))) {
      val e = intercept[IllegalArgumentException](sample(k))
      assert(e.getMessage.contains("graft_top_k needs"), e.getMessage)
    }
  }

  test("bit-identical across partition layouts; short groups return all rows") {
    val rnd = new scala.util.Random(31L)
    val rows = Seq.tabulate(100)(i =>
      (if (i < 98) 0 else 1, rnd.nextDouble() * 1e6, i.toLong, 0L)) // group 1 has 2 rows
    val base = topkDf(rows, 3, 1)
    assert(base.find(_._1 == 1).get._2.length == 2)
    for (p <- Seq(2, 8, 32)) {
      assert(topkDf(rnd.shuffle(rows), 3, p) == base, s"p=$p diverged")
    }
  }

  test("a NULL struct field ranks first; a NULL value is skipped") {
    import spark.implicits._
    val df = Seq[(Option[Double], Option[Long])]((Some(2.0), Some(1L)), (None, Some(2L)),
      (Some(1.0), Some(3L)), (Some(1.0), None), (None, None)).toDF("v", "id")
    val top = df.agg(call_function("graft_top_k", struct(col("v"), col("id")), lit(4)))
      .as[Seq[(Option[Double], Option[Long])]].head()
    assert(top == Seq((None, None), (None, Some(2L)), (Some(1.0), None), (Some(1.0), Some(3L))))
    // a NULL value (not a struct holding NULLs) never enters the selection
    val ids = df.agg(call_function("graft_top_k", col("id"), lit(4))).as[Seq[Long]].head()
    assert(ids == Seq(1L, 2L, 3L))
    val none = df.filter(col("id").isNull)
      .agg(call_function("graft_top_k", col("id"), lit(4))).as[Seq[Long]].head()
    assert(none.isEmpty)
  }

  test("a NULL hash in a group does not enter the KMV sketch") {
    import spark.implicits._
    // KMV = graft_top_k over the group's distinct hashes
    val hs = Seq[(Int, Option[Long])]((1, Some(5L)), (1, None), (1, Some(3L)), (1, None),
      (1, Some(3L)), (2, None)).toDF("g", "h").distinct()
    def kmv(k: Int) = hs.groupBy("g")
      .agg(call_function("graft_top_k", col("h"), lit(k)).as("ks"))
      .as[(Int, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(kmv(4) == Seq(1 -> Seq(3L, 5L), 2 -> Seq()))
    assert(kmv(1) == Seq(1 -> Seq(3L), 2 -> Seq()))
  }
}
