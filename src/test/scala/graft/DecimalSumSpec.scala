package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Deterministic.decimalSum

/** Parity of the native exact sum `graft_decimal_sum(x, p, s)` with
  * Spark's own non-ANSI `sum(cast(x AS DECIMAL(p, s)))`: same type,
  * same value, NULL in the same places, for every (p, s) the registry
  * uses, under whole-stage codegen and interpreted evaluation, over one
  * partition and over many (so partial buffers are merged), grouped,
  * global and in running and whole-partition window frames. */
class DecimalSumSpec extends AnyFunSuite {

  private lazy val base = GraftSession.local(4)

  private val scales = Seq((28, 0), (28, 4), (28, 6), (28, 10), (28, 12), (18, 2), (38, 18))

  /** One session per evaluation mode; a new session keeps the shared
    * session's conf untouched. */
  private def modes: Seq[(String, SparkSession)] = Seq(
    "codegen" -> base.newSession(),
    "interpreted" -> {
      val s = base.newSession()
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      s
    })

  /** Terms for one (p, s): random doubles across magnitudes, HALF_UP
    * ties at the s-th digit (both signs) and NaN/±Inf/NULL in the mixed
    * groups 0–2; an all-NULL group (3); a group that only overflows at
    * (38, 18) (4); terms at the 10^(p-s) cast limit, one fitting term
    * per sign so no running sum leaves the result range and comes back
    * (5, 6). */
  private def doubleTerms(p: Int, s: Int): Seq[(Int, java.lang.Double)] = {
    val rnd = new scala.util.Random(p * 100 + s)
    val limit = math.pow(10, p - s)
    val tie = math.pow(10, -s)
    val random = Seq.fill(600) {
      val m = rnd.nextDouble() * math.pow(10, rnd.nextInt(24) - 8)
      if (rnd.nextBoolean()) m else -m
    }
    val ties = Seq(0.0000005, -2.5e-7, 1.0000005, 0.5 * tie, -0.5 * tie, 2.5 * tie,
      -12345.5 * tie, 7.5 * tie)
    val poison = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val mixed = (random ++ ties ++ poison).zipWithIndex
      .map { case (x, i) => (i % 3, java.lang.Double.valueOf(x)) } ++
      Seq((0, null), (1, null), (2, null))
    val allNull = Seq[(Int, java.lang.Double)]((3, null), (3, Double.NaN), (3, null))
    val flood = Seq.fill(300)((4, java.lang.Double.valueOf(9e17)))
    val edge = for (sign <- Seq(1.0, -1.0); x <- Seq(math.nextDown(limit), limit,
        limit * (1 + 1e-15), -0.0, Double.MinPositiveValue))
      yield (if (sign > 0) 5 else 6, java.lang.Double.valueOf(sign * x))
    mixed ++ allNull ++ flood ++ edge
  }

  private def frame(spark: SparkSession, rows: Seq[Row], t: DataType, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("g", IntegerType), StructField("x", t)))).repartition(parts)

  /** Collects (g, sum) sorted by key, with the result's type. */
  private def grouped(df: DataFrame, agg: Column): (DataType, Seq[(Int, Any)]) = {
    val out = df.groupBy("g").agg(agg.as("v"))
    (out.schema("v").dataType,
      out.collect().map(r => (r.getInt(0), r.get(1))).sortBy(_._1).toSeq)
  }

  private def sparkSum(p: Int, s: Int): Column = sum(col("x").cast(DecimalType(p, s)))

  private def assertParity(rows: Seq[Row], t: DataType, p: Int, s: Int, what: String): Unit =
    for ((mode, spark) <- modes; parts <- Seq(1, 7)) {
      val df = frame(spark, rows, t, parts)
      val ctx = s"$what ($p,$s) $mode, $parts partitions"
      val (wantT, want) = grouped(df, sparkSum(p, s))
      val (gotT, got) = grouped(df, decimalSum(col("x"), p, s))
      assert(gotT == wantT, ctx)
      assert(got == want, ctx)
      // global aggregate, and over an empty input (NULL, like Spark)
      for (d <- Seq(df, df.filter(lit(false)))) {
        val w = d.agg(sparkSum(p, s)).head().get(0)
        assert(d.agg(decimalSum(col("x"), p, s)).head().get(0) == w, s"$ctx global")
      }
    }

  test("double terms: equal to Spark's sum(cast) for every registry (p, s)") {
    for ((p, s) <- scales) {
      val rows = doubleTerms(p, s).map { case (g, x) => Row(g, x) }
      assertParity(rows, DoubleType, p, s, "double")
    }
  }

  test("the cases the data above must hit: NULL groups, overflow, skipped poison") {
    val spark = base
    val df = frame(spark, doubleTerms(38, 18).map { case (g, x) => Row(g, x) }, DoubleType, 7)
    val (_, got) = grouped(df, decimalSum(col("x"), 38, 18))
    val byKey = got.toMap
    assert(byKey(3) == null, "all-NULL/NaN group must be NULL")
    assert(byKey(4) == null, "300 × 9e17 at DECIMAL(38,18) passes 10^20 and must be NULL")
    assert(Seq(0, 1, 2).forall(byKey(_) != null), "NaN/±Inf/over-limit terms are skipped")
    val one = frame(spark, Seq(Row(0, 0.0000005), Row(1, -2.5e-7), Row(2, 1.0000005)), DoubleType, 1)
    assert(grouped(one, decimalSum(col("x"), 28, 6))._2.map(_._2.toString) ==
      Seq("0.000001", "0.000000", "1.000001"))
  }

  test("integral and decimal terms, Long.MinValue included: exact, NULL past the cast limit") {
    val longs = Seq[java.lang.Long](Long.MinValue, Long.MaxValue, -1L, 0L, 1L, 999999999999L,
      -1000000000000000L, 9999999999999999L, null)
    val rows = longs.zipWithIndex.map { case (v, i) => Row(i % 2, v) } :+ Row(2, null)
    val ints = Seq[Integer](Int.MinValue, Int.MaxValue, -7, 42, null)
      .zipWithIndex.map { case (v, i) => Row(i % 2, v) }
    val decs = Seq("12345678901234567890123456789012.123456", "-99999999999999999990.999999",
      "0.000005", "-0.000015", "1.5", null)
      .zipWithIndex.map { case (v, i) => Row(i % 2, Option(v).map(new java.math.BigDecimal(_)).orNull) }
    for ((p, s) <- scales) {
      assertParity(rows, LongType, p, s, "long")
      assertParity(ints, IntegerType, p, s, "int")
      assertParity(decs, DecimalType(38, 6), p, s, "decimal")
    }
  }

  test("running and whole-partition window frames") {
    for ((p, s) <- Seq((28, 6), (18, 2), (38, 18)); (mode, spark) <- modes) {
      val rows = doubleTerms(p, s).zipWithIndex.map { case ((g, x), i) => Row(g, x, i.toLong) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
        StructType(Seq(StructField("g", IntegerType), StructField("x", DoubleType),
          StructField("i", LongType))))
      val running = Window.partitionBy("g").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy("g")
      for (w <- Seq(running, whole)) {
        def run(c: Column) = df.select(col("i"), c.over(w).as("v"))
          .collect().map(r => (r.getLong(0), r.get(1))).sortBy(_._1).toSeq
        assert(run(decimalSum(col("x"), p, s)) == run(sparkSum(p, s)), s"window ($p,$s) $mode")
      }
    }
  }

  test("SQL form: literal precision and scale, typed input, bounds checked") {
    val spark = base
    val df = spark.range(5).selectExpr("id", "id * 0.5 AS x")
    assert(df.selectExpr("graft_decimal_sum(x, 28, 6) AS v").schema("v").dataType ==
      DecimalType(38, 6))
    assert(df.selectExpr("graft_decimal_sum(x, 18, 2) AS v").head().getDecimal(0) ==
      new java.math.BigDecimal("5.00"))
    for (bad <- Seq("graft_decimal_sum(x, id, 6)", "graft_decimal_sum(x, 8, 2)",
        "graft_decimal_sum(x, 28, 19)", "graft_decimal_sum(cast(x AS float), 28, 6)",
        "graft_decimal_sum(cast(x AS string), 28, 6)"))
      intercept[Exception](df.selectExpr(bad).collect())
  }
}
