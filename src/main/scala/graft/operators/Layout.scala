package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: multi-dimensional clustering keys for write
  * layout. At 100 TB the dominant cost of most queries is the scan, and
  * the dominant scan saving is file skipping off parquet min/max
  * footers — which only works if the writer clustered rows so each
  * file's bounding box over the filter columns is tight. A Z-order
  * (Morton) key interleaves the bits of two dimensions so sorting by
  * the single key co-locates rows that are close in BOTH dimensions:
  * `write.sortBy(zkey)` then gives every output file a small bounding
  * box in (x, y), and a filter on either dimension prunes most files —
  * the same layout trick Delta/Iceberg expose as OPTIMIZE ZORDER.
  *
  * The key is pure integer arithmetic (`div`/`mod`/`·2ⁱ` — no bitwise
  * intrinsics) so it stays inside whole-stage codegen and replays
  * identically on any engine.
  */
object Layout {

  /** Deterministic global shuffle-shard layout + its acceptance audit —
    * the write side of training-data preparation: docs are dealt into
    * `nShards` output shards by the partition-invariant hash
    * ([[graft.functions.Deterministic.hrand]] on the stable id — never
    * `rand()`, so the layout is identical on 1 or 1000 executors and
    * across reruns), which simultaneously BALANCES the shards and
    * breaks source/time locality (each shard sees an i.i.d.-ish slice
    * of the corpus — what a trainer streaming shards sequentially
    * needs). The audit per shard: doc and token counts, the shard's
    * share of corpus tokens, and the domain-mix entropy + effective
    * domain count — near-max entropy ⇔ locality actually broken.
    *
    * Shape: one row-local hash, ONE (shard, domain)-keyed aggregate
    * rolled up to shards — the audit never re-shuffles the corpus
    * twice. All counts integer; entropy terms rounded + DECIMAL-summed
    * (order-free); token share divides exact BIGINTs.
    *
    * Output: (shard, n_docs, n_tokens, token_share, domain_entropy,
    * n_domains), one row per non-empty shard. */
  def shuffleShards(df: DataFrame, idCol: String, nTok: Column,
      domainCol: String, nShards: Int, seed: Long): DataFrame = {
    import graft.functions.Deterministic
    require(nShards >= 1, s"shuffleShards needs nShards >= 1, got $nShards")
    val cells = df
      .select(col(idCol), nTok.cast("long").as("__nt"), col(domainCol),
        Deterministic.hrand(col(idCol), seed).as("__hr"))
      .withColumn("shard", expr(s"(__hr * $nShards) div ${Deterministic.M}"))
      .groupBy(col("shard"), col(domainCol))
      .agg(count(lit(1)).as("__dc"), sum("__nt").as("__dt"))
    val shards = cells.groupBy("shard")
      .agg(sum("__dc").as("n_docs"), sum("__dt").as("n_tokens"),
        count(lit(1)).as("n_domains"))
    val total = shards.agg(sum("n_tokens").as("__tot"))
    val p = col("__dc").cast("double") / col("n_docs")
    val ent = cells.join(shards.select("shard", "n_docs"), "shard")
      .select(col("shard"), round(-p * log(p), 6).as("__term"))
      .groupBy("shard")
      .agg(Deterministic.stableSum(col("__term")).as("domain_entropy"))
    shards.join(ent, "shard").crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("__tot"), 6).as("token_share"),
        round(col("domain_entropy"), 6).as("domain_entropy"), col("n_domains"))
  }

  /** Morton-interleave two non-negative integer columns, `bits` bits
    * each (values must already be reduced mod 2^bits): bit i of x lands
    * at position 2i, bit i of y at 2i+1. Spark side uses integer
    * shifts (exact, codegen'd); the SQL rendering uses `//`/`%` — the
    * two agree on all non-negative inputs. */
  def zorder2(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      (shiftright(x.cast("long"), i) % 2L) * lit(1L << (2 * i)) +
        (shiftright(y.cast("long"), i) % 2L) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** The same interleave as engine-neutral SQL text (for oracles and
    * pushdown into external writers). */
  def zorder2Sql(x: String, y: String, bits: Int): String =
    "(" + (0 until bits).map { i =>
      val p = 1L << i
      s"(($x // $p) % 2) * ${1L << (2 * i)} + (($y // $p) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ") + ")"

  /** Layout diagnostic: split the z-sorted keyspace into `chunks`
    * equal z-ranges (stand-ins for output files) and report each
    * chunk's row count and (x, y) bounding box. Tight boxes == good
    * skipping; the judge of layout quality is `x_span·y_span` vs the
    * full domain. */
  def zorderBoxes(df: DataFrame, x: Column, y: Column, bits: Int,
      chunks: Int): DataFrame = {
    val zBits = 2 * bits
    require(Integer.bitCount(chunks) == 1 && chunks <= (1 << zBits),
      s"chunks must be a power of two <= 2^$zBits")
    val chunkShift = zBits - Integer.numberOfTrailingZeros(chunks)
    df.select(x.as("x"), y.as("y"),
        zorder2(x, y, bits).as("zkey"))
      .groupBy(shiftright(col("zkey"), chunkShift).as("chunk"))
      .agg(count(lit(1)).as("n"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
  }
}
