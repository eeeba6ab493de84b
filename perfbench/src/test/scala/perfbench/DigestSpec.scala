package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.GraftSession.local(2)

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def digest(d: DataFrame): Digest = Digest.compute(d)._1

  private val pairSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", LongType)))

  test("digest does not depend on row or partition order") {
    val rows = (1L to 200L).map(i => Row(i, i * i % 17))
    val d0 = digest(df(pairSchema, rows))
    assert(d0.rows == 200)
    assert(digest(df(pairSchema, rows.reverse)) == d0)
    assert(digest(df(pairSchema, rows).repartition(7).orderBy(desc("b"))) == d0)
    assert(digest(df(pairSchema, rows.updated(5, Row(6L, 37L)))) != d0)
  }

  test("a null never aliases a value in a neighbouring column") {
    val a = digest(df(pairSchema, Seq(Row(null, 1L))))
    val b = digest(df(pairSchema, Seq(Row(1L, null))))
    val c = digest(df(pairSchema, Seq(Row(null, null))))
    assert(Set(a, b, c).size == 3)
  }

  test("-0.0 hashes as 0.0 and every NaN as the canonical NaN") {
    val s = StructType(Seq(StructField("x", DoubleType), StructField("f", FloatType)))
    val odd = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val plain = digest(df(s, Seq(Row(0.0, 0.0f), Row(Double.NaN, Float.NaN))))
    assert(digest(df(s, Seq(Row(-0.0, -0.0f), Row(odd, Float.NaN)))) == plain)
    assert(digest(df(s, Seq(Row(1.0, 0.0f), Row(Double.NaN, Float.NaN)))) != plain)
  }

  test("map, array and struct columns are normalised recursively") {
    val s = StructType(Seq(
      StructField("m", MapType(StringType, DoubleType)),
      StructField("arr", ArrayType(DoubleType)),
      StructField("st", StructType(Seq(StructField("v", DoubleType), StructField("w", StringType))))))
    def one(m: Map[String, Double], arr: Seq[Double], v: Double) =
      digest(df(s, Seq(Row(m, arr, Row(v, "w")), Row(null, null, null))))
    val base = one(Map("a" -> 0.0, "b" -> Double.NaN), Seq(0.0, 1.0), 0.0)
    // insertion order of the map, signed zeros and NaN payloads do not matter
    assert(one(scala.collection.immutable.ListMap("b" -> Double.NaN, "a" -> -0.0),
      Seq(-0.0, 1.0), -0.0) == base)
    // values and array element order do
    assert(one(Map("a" -> 0.0, "b" -> 2.0), Seq(0.0, 1.0), 0.0) != base)
    assert(one(Map("a" -> 0.0, "b" -> Double.NaN), Seq(1.0, 0.0), 0.0) != base)
    assert(one(Map("a" -> 0.0, "b" -> Double.NaN), Seq(0.0, 1.0), 3.0) != base)
  }

  test("every output column is computed, and an empty result has a digest") {
    val d = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("twice"))
    val (dg, f) = Digest.compute(d)
    assert(dg.rows == 1000 && dg.schema == "id:bigint,twice:bigint")
    // the hashed projection keeps the computed column (a count() would prune it)
    assert(f.queryExecution.optimizedPlan.toString.contains("* 2)"))
    assert(Digest.compute(d.filter(lit(false)))._1.rows == 0)
  }
}
