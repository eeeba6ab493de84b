package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic pseudo-randomness + numeric hygiene helpers.
  *
  * The reference pins every stochastic step to a fixed seed
  * (`/root/reference/Matlab_part/perform_region_analysis.m:123`,
  * `perform_session_cca.m:128`). MATLAB's twister stream cannot be
  * reproduced engine-side, so the engine defines its own deterministic
  * sampling primitive (SURVEY §7.4.1): a multiplicative-congruential
  * hash of a stable integer key. It is a pure arithmetic expression, so
  * it is (a) reproducible across runs/cluster sizes — unlike
  * `rand(seed)`, which depends on partition layout — and (b) exactly
  * replayable by any ANSI SQL engine for oracle checks.
  *
  * The exact moments behind the statistics layer are decimal sums
  * ([[stableSum]], [[stableSumGuarded]], [[decimalSum]]): each term is
  * rounded HALF_UP to a fixed scale and summed exactly, so the result
  * does not depend on accumulation order and equals the oracle's
  * `CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)` bit for bit. All three
  * run on the native kernel [[DecimalSum]], which returns what Spark's
  * own `sum(cast(..))` returns, NULLs included.
  */
object Deterministic {
  /** 0 <= hrand < M, uniform-ish over keys; stable across partitionings. */
  val M: Long = 2147483648L // 2^31

  /** The key is reduced mod 2^31 BEFORE the multiply so every
    * intermediate stays < 2^62: a raw 64-bit key above ~8.4e9 would
    * silently wrap in Spark (ANSI off) while DuckDB raises/promotes —
    * the reduction keeps the primitive engine-portable at any key scale.
    * For keys < 2^31 (all current testdata) the value is unchanged. */
  def hrand(key: Column, seed: Long): Column =
    pmod(pmod(key, lit(M)) * lit(1103515245L) + lit(seed) * lit(12345L) + lit(104729L), lit(M))

  /** Uniform [0,1) deterministic in the key. */
  def hrand01(key: Column, seed: Long): Column = hrand(key, seed) / lit(M.toDouble)

  /** SQL rendering of the same expression (DuckDB-compatible). The
    * seed·12345 term is pre-multiplied: it is a constant, and emitting
    * the product keeps engines that type bare literals as INT32 from
    * overflowing on large seeds. */
  def hrandSql(key: String, seed: Long): String =
    s"(((($key % 2147483648 + 2147483648) % 2147483648) * 1103515245 + ${seed * 12345L} + 104729) " +
      "% 2147483648 + 2147483648) % 2147483648"

  /** `graft_decimal_sum(term, p, s)` ([[DecimalSum]]): Spark's
    * non-ANSI `sum(CAST(term AS DECIMAL(p, s)))`, value, type
    * `DECIMAL(min(38, p + 10), s)` and NULLs alike — a NaN, ±Inf or
    * over-p-digit term is skipped, an empty group or a sum past the
    * result precision is NULL — on a fixed-width 128-bit buffer instead
    * of a `BigDecimal` per row. Every exact sum in the engine goes
    * through it; the oracle SQL keeps the `SUM(CAST(…))` spelling, so
    * the DuckDB replay checks it independently. */
  def decimalSum(term: Column, precision: Int, scale: Int): Column =
    call_function("graft_decimal_sum", term, lit(precision), lit(scale))

  /** Exact order-independent sum of a double expression: each term
    * rounded HALF_UP to a DECIMAL(28, scale), summed exactly as
    * DECIMAL(38, scale), cast back. Makes big-group sums bit-stable
    * between Spark and the oracle regardless of accumulation order
    * (the oracle spells it [[stableSumSql]]).
    */
  def stableSum(term: Column, scale: Int = 6): Column = decimalSum(term, 28, scale).cast("double")

  /** High-precision guarded variant (18 fractional digits) for internal
    * fixture-pinned stages: a NaN/±Inf or out-of-range term is a NULL
    * cast, which the sum skips — poison would silently become a
    * plausible finite answer. The guard aggregate propagates NaN
    * whenever any term is non-finite or ≥ 1e18. */
  def stableSumGuarded(term: Column): Column = {
    val bad = sum(when(isnan(term) || abs(term) >= lit(1e18), lit(1)).otherwise(lit(0)))
    when(bad > 0, lit(Double.NaN)).otherwise(decimalSum(term, 38, 18).cast("double"))
  }

  def stableSumSql(term: String, scale: Int = 6): String =
    s"CAST(SUM(CAST($term AS DECIMAL(28,$scale))) AS DOUBLE)"
}
