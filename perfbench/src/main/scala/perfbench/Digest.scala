package perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent hash of a query's full result.
  *
  * One aggregate over `xxhash64` of every output column forces the whole
  * result to be computed (a bare `count()` lets Catalyst prune unused
  * columns) and returns the correctness digest in the same action.
  * Before hashing, `-0.0` becomes `0.0`, every NaN the canonical NaN,
  * and maps become key-sorted entry arrays; each column is preceded by
  * its null flag, so a null can never alias a value in a neighbouring
  * column. The row hashes are summed as two 32-bit halves, so the sum
  * cannot overflow and does not depend on row or partition order.
  */
final case class Digest(rows: Long, hash: String, schema: String)

object Digest {

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  /** `c` with floating-point and map values put in canonical form. */
  def normalize(c: Column, dt: DataType): Column = dt match {
    case _ if !needsNorm(dt) => c
    case DoubleType | FloatType =>
      when(isnan(c), lit(Double.NaN).cast(dt))
        .when(c === 0, lit(0.0).cast(dt))
        .otherwise(c)
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, vn) =>
      val entry = StructType(Seq(StructField("key", kt, nullable = false),
        StructField("value", vt, vn)))
      array_sort(normalize(map_entries(c), ArrayType(entry, containsNull = false)))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
  }

  def schemaString(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** The one-row aggregate whose action forces `df` and yields its digest. */
  def frame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val pos = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val parts = fields.indices.flatMap { i =>
      val c = normalize(col(s"c$i"), fields(i).dataType)
      Seq(c.isNull, c)
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    pos.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      sum(shiftrightunsigned(col("h"), 32)).as("hi"),
      sum(col("h").bitwiseAND(0xffffffffL)).as("lo"))
  }

  /** Force `df` with one action; returns the digest and the executed
    * Dataset (whose `queryExecution.tracker` holds the Catalyst phases). */
  def compute(df: DataFrame): (Digest, Dataset[Row]) = {
    val f = frame(df)
    val r = f.collect()(0)
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (Digest(l(0), f"${l(1)}%016x${l(2)}%016x", schemaString(df.schema)), f)
  }
}
