package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Deterministic.{decimalSum, stableSum, stableSumSql}

/** Normalization & projection math (L2–L5), statistics layer (T1–T9,
  * L13), streaming twin — SURVEY §2.8 (Catalyst-expressible part),
  * §2.9.
  */
object QStats {

  private def evT(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn(
      "t", (unix_micros(col("ts")) / lit(1000000L)).cast("long"))

  private val evSql =
    "SELECT *, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t FROM events"

  // ------------------------------------------------------------ L2/L3
  /** Z-score per group via window aggregates (pure Catalyst — no UDF);
    * NaN→0 guard for degenerate groups. Mean/std come from windowed
    * EXACT decimal moment sums (the j10 boundary class — and with one
    * rounded z per ROW, this query's boundary exposure was n×, the
    * largest in the registry): both engines now derive every z from
    * the identical IEEE mean/std doubles.
    * Ref: Matlab_part/perform_region_pca.m:174;
    * cross_trial_type_cca_analysis.py:678-683. */
  val l3 = Q("l3_zscore_window", Some("""
    WITH m AS (
      SELECT event_id, value,
        count(*) OVER w AS n,
        CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sx,
        CAST(SUM(CAST(value * value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sxx
      FROM events WINDOW w AS (PARTITION BY event_type)),
    z AS (
      SELECT event_id, value, n, sx,
        CASE WHEN n > 1 THEN sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) END AS sd
      FROM m)
    SELECT event_id,
      round(COALESCE((value - sx / n) / NULLIF(sd, 0), 0), 4) AS z
    FROM z ORDER BY event_id"""
  ))((s, d) => {
    val w = Window.partitionBy("event_type")
    val n = count(lit(1)).over(w)
    val nD = n.cast("double")
    val sx = decimalSum(col("value"), 28, 6).over(w).cast("double")
    val sxx = decimalSum(col("value") * col("value"), 28, 6).over(w).cast("double")
    val sd = when(n > 1,
      sqrt(greatest((sxx - sx * sx / nD) / (nD - lit(1.0)), lit(0.0))))
    Tables.events(s, d).select(col("event_id"),
      round(coalesce(
        (col("value") - sx / nD) / nullif(sd, lit(0)), lit(0)), 4).as("z"))
      .orderBy("event_id")
  })

  // --------------------------------------------------------------- L4
  /** Min-max normalization of |weights| per group.
    * Ref: Matlab_part/perform_session_cca.m:196-236. */
  val l4 = Q("l4_minmax_norm", Some("""
    WITH m AS (
      SELECT c_nationkey, min(abs(c_acctbal)) AS mn, max(abs(c_acctbal)) AS mx
      FROM customer GROUP BY 1)
    SELECT c.c_custkey,
      round(COALESCE((abs(c.c_acctbal) - m.mn) / NULLIF(m.mx - m.mn, 0), 0), 4) AS w_norm
    FROM customer c JOIN m ON c.c_nationkey = m.c_nationkey
    ORDER BY c.c_custkey"""
  ))((s, d) => {
    val m = Tables.customer(s, d).groupBy("c_nationkey")
      .agg(min(abs(col("c_acctbal"))).as("mn"), max(abs(col("c_acctbal"))).as("mx"))
    Tables.customer(s, d).join(broadcast(m), "c_nationkey")
      .select(col("c_custkey"),
        round(coalesce((abs(col("c_acctbal")) - col("mn")) /
          nullif(col("mx") - col("mn"), lit(0)), lit(0)), 4).as("w_norm"))
      .orderBy("c_custkey")
  })

  // --------------------------------------------------------------- L5
  /** Relational matrix multiply: project embedding vectors onto a
    * generated component-weight matrix — the engine form of u = X·A.
    * Ref: Matlab_part/perform_session_cca.m:437-443;
    * cross_trial_type_cca_analysis.py:686-698. */
  val l5 = Q("l5_matmul_projection", Some("""
    WITH e AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) - 1 AS dim
      FROM embeddings),
    w AS (
      SELECT k, d, ((d * 67 + k * 31) % 13 - 6) / 6.0 AS wt
      FROM range(0, 3) rk(k), range(0, 64) rd(d))
    SELECT e.vec_id, w.k AS component, round(SUM(e.x * w.wt), 4) AS proj
    FROM e JOIN w ON e.dim = w.d
    GROUP BY 1, 2 ORDER BY 1, 2"""
  ))((s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long"), col("xf").cast("double").as("x"))
    val w = s.range(0, 3).select(col("id").as("k"))
      .crossJoin(s.range(0, 64).select(col("id").as("d")))
      .select(col("k"), col("d"),
        ((pmod(col("d") * 67 + col("k") * 31, lit(13))) - 6).cast("double")./(6.0).as("wt"))
    e.join(broadcast(w), e("dim") === w("d"))
      .groupBy(col("vec_id"), col("k").as("component"))
      .agg(round(sum(col("x") * col("wt")), 4).as("proj"))
      .orderBy("vec_id", "component")
  })

  // ----------------------------------------------------------- T1/A14
  /** Pearson correlation aggregate + t statistic + TWO p-values.
    * Ref: perform_session_cca.m:310-314;
    * cross_trial_type_cca_analysis.py:779-792 (reports r AND p).
    *
    * `p_norm` is the large-df normal approximation via the
    * Abramowitz–Stegun §26.2.17 rational polynomial — bit-replayable in
    * portable SQL, so it carries the full cross-engine oracle.
    * `p_exact` is the reference's exact t-distribution p (scipy's
    * pearsonr convention) through kernels.SpecialFunctions.tTwoSidedP
    * (regularized incomplete beta) — not SQL-expressible, so the oracle
    * side replays it from the committed fixture
    * (fixtures/t1_pearson_corr, same scale-stamp contract as the L6–L12
    * kernels) and tools/check_kernels.py re-derives it independently.
    * Both are evaluated on the ALREADY-ROUNDED t statistic so every
    * engine feeds identical doubles into the identical function. */
  private val normApproxP =
    "round(2.0 * dd * u * (0.319381530 + u * (-0.356563782 + u * (1.781477937 + " +
      "u * (-1.821255978 + u * 1.330274429)))), 6)"

  /** r runs on the exact-decimal Pearson moments (the j10 boundary
    * class): corr()'s double accumulation is order-dependent in both
    * engines; the five stable sums make r (and the t statistic derived
    * from the same unrounded r) the identical IEEE double everywhere.
    * The time leg uses RAW integer seconds (scale-0 decimals — exact),
    * not t/86400: dividing first puts 1/27 of the values ON a 6-dp tie
    * of the decimal cast, where the two engines' double→decimal
    * rounding disagrees (Spark rounds the shortest string half-up,
    * DuckDB the exact binary value). Pearson r is scale-invariant, so
    * the day conversion cancels identically. */
  val t1 = Q("t1_pearson_corr", Some(s"""
    WITH m AS (
      SELECT event_type, count(*) AS n,
        ${stableSumSql("value")} AS sx,
        ${stableSumSql("t", 0)} AS sy,
        ${stableSumSql("value * t")} AS sxy,
        ${stableSumSql("value * value")} AS sxx,
        ${stableSumSql("t * t", 0)} AS syy
      FROM ($evSql) GROUP BY 1),
    c0 AS (
      SELECT event_type, n,
        (n * sxy - sx * sy)
          / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS rr
      FROM m),
    c AS (
      SELECT event_type, n, round(rr, 4) AS r,
        round(rr * sqrt((n - 2) / (1 - rr * rr)), 4) AS t_stat
      FROM c0),""" + """
    z AS (
      SELECT *, 1.0 / (1.0 + 0.2316419 * abs(t_stat)) AS u,
             0.3989422804014327 * exp(-(t_stat * t_stat) / 2.0) AS dd
      FROM c)
    SELECT z.event_type, z.n, z.r, z.t_stat, """ + normApproxP + """ AS p_norm, f.p_exact
    FROM z JOIN read_parquet('""" + Q.repoRoot + """/fixtures/t1_pearson_corr/*.parquet') f
      ON f.scale_n = (SELECT count(*) FROM customer) AND f.event_type = z.event_type
    ORDER BY 1"""
  ))((s, d) => {
    val pExact = udf((t: Double, n: Long) => {
      val nu = (n - 2).toDouble
      if (nu <= 0) Double.NaN
      else BigDecimal(graft.kernels.SpecialFunctions.tTwoSidedP(t, nu))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    })
    val e = evT(s, d)
    val n = count(lit(1))
    val sx = stableSum(col("value"))
    val sy = stableSum(col("t"), 0)
    val sxy = stableSum(col("value") * col("t"))
    val sxx = stableSum(col("value") * col("value"))
    val syy = stableSum(col("t") * col("t"), 0)
    val rr = (n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
    e.groupBy("event_type").agg(
      n.as("n"),
      round(rr, 4).as("r"),
      round(rr * sqrt((n - 2) / (lit(1) - rr * rr)), 4).as("t_stat"))
      .withColumn("u", lit(1.0) / (lit(1.0) + lit(0.2316419) * abs(col("t_stat"))))
      .withColumn("dd", lit(0.3989422804014327) * exp(-(col("t_stat") * col("t_stat")) / lit(2.0)))
      .withColumn("p_norm", expr(normApproxP))
      .withColumn("p_exact",
        when(col("t_stat").isNotNull, pExact(col("t_stat"), col("n"))))
      .select("event_type", "n", "r", "t_stat", "p_norm", "p_exact")
      .orderBy("event_type")
  })

  /** Shared CTE for the paired tests: per nation, paired counts of
    * 'O' vs 'F' orders through its customers (integer-valued pairs →
    * exact ranks/ties cross-engine). */
  private val pairsSql = """
    SELECT c.c_nationkey AS g,
      SUM(CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END) AS x,
      SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS y
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1"""

  private def pairsDf(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("g"))
      .agg(sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("x"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("y"))

  // ---------------------------------------------------------------- T2
  /** Wilcoxon signed-rank (paired, two-sided, normal approximation)
    * with average-rank tie handling, zero-diffs dropped.
    * Ref: cross_trial_type_cca_analysis.py:1317-1338. */
  val t2 = Q("t2_wilcoxon_signed_rank", Some(s"""
    WITH p AS ($pairsSql),
    dd AS (
      SELECT g, x - y AS diff, abs(x - y) AS ad FROM p WHERE x - y <> 0),
    rk AS (
      SELECT g, diff,
        rank() OVER (ORDER BY ad) + (count(*) OVER (PARTITION BY ad) - 1) / 2.0 AS r
      FROM dd)
    SELECT count(*) AS n_eff,
      round(SUM(CASE WHEN diff > 0 THEN r ELSE 0 END), 2) AS w_plus,
      round((SUM(CASE WHEN diff > 0 THEN r ELSE 0 END) - count(*) * (count(*) + 1) / 4.0)
        / sqrt(count(*) * (count(*) + 1) * (2 * count(*) + 1) / 24.0), 4) AS z
    FROM rk"""
  ))((s, d) => {
    val dd = pairsDf(s, d)
      .select(col("g"), (col("x") - col("y")).as("diff"), abs(col("x") - col("y")).as("ad"))
      .filter(col("diff") =!= 0)
    // GLOBAL rank window: single-group demonstrator ONLY (one bounded
    // test statistic). Never copy this shape onto a fact table — the
    // scale form is t2_wilcoxon_aggregator (typed Aggregator, one
    // hash-aggregate pass, partitioned by group).
    val rk = dd.select(col("g"), col("diff"),
      (rank().over(Window.orderBy("ad")) +
        (count(lit(1)).over(Window.partitionBy("ad")) - 1) / 2.0).as("r"))
    val wplus = sum(when(col("diff") > 0, col("r")).otherwise(0.0))
    val n = count(lit(1))
    rk.agg(
      n.as("n_eff"),
      round(wplus, 2).as("w_plus"),
      round((wplus - n * (n + 1) / 4.0) /
        sqrt(n * (n + 1) * (n * 2 + 1) / 24.0), 4).as("z"))
  })

  // ------------------------------------------- T2 (typed Aggregator form)
  /** Same statistic through the reusable WilcoxonSignedRank Aggregator
    * (SURVEY §4 custom-code inventory): groups rank independently inside
    * a hash aggregate instead of one global rank window — the shape that
    * parallelizes when the test runs per (pair, session) group. */
  val t2b = Q("t2_wilcoxon_aggregator", Some(s"""
    WITH p AS ($pairsSql),
    dd AS (
      SELECT g, x - y AS diff, abs(x - y) AS ad FROM p WHERE x - y <> 0),
    rk AS (
      SELECT g, diff,
        rank() OVER (ORDER BY ad) + (count(*) OVER (PARTITION BY ad) - 1) / 2.0 AS r
      FROM dd)
    SELECT count(*) AS n_eff,
      round(SUM(CASE WHEN diff > 0 THEN r ELSE 0 END), 2) AS w_plus,
      round((SUM(CASE WHEN diff > 0 THEN r ELSE 0 END) - count(*) * (count(*) + 1) / 4.0)
        / sqrt(count(*) * (count(*) + 1) * (2 * count(*) + 1) / 24.0), 4) AS z
    FROM rk"""
  ))((s, d) => {
    val wsr = udaf(graft.functions.WilcoxonSignedRank,
      org.apache.spark.sql.Encoders.scalaDouble)
    pairsDf(s, d)
      .select((col("x") - col("y")).cast("double").as("diff"))
      .agg(wsr(col("diff")).as("w"))
      .select(col("w.n_eff").as("n_eff"),
        round(col("w.w_plus"), 2).as("w_plus"),
        round(col("w.z"), 4).as("z"))
  })

  // ------------------------------------------- T2 (exact small-n leg)
  /** Exact two-sided Wilcoxon p — the scipy exact-mode convention the
    * reference hits for its n≥5 guard (mode='auto' switches to the
    * exact distribution when n ≤ 25 and no ties,
    * ref: cross_trial_type_cca_analysis_within_session.py:677-680):
    * per-region groups of per-nation paired diffs (n ≈ 5 per group —
    * deep in exact territory). The p is the subset-sum DP over the
    * null distribution of W⁺ (WilcoxonSignedRank.exactTwoSidedP); the
    * oracle replays the SAME DP as 25 unrolled list-convolution CTEs
    * (the kmeans finite-unroll discipline). Counts are exact integers
    * and the divisor is 2ⁿ, so the p is one dyadic rational on both
    * engines. Groups with |diff| ties or n > 25 emit NaN on both sides
    * (the z leg of t2 covers them). */
  private val wMax = 25 * 26 / 2 // 325: max rank sum at the scipy exact cutoff

  val t2c = Q("t2_wilcoxon_exact", Some {
    val steps = (1 to 25).map { r =>
      s"c$r AS (SELECT rk, n, w_plus, wint, ok, [c[w+1] + CASE WHEN $r <= n AND w >= $r " +
        s"THEN c[w-$r+1] ELSE CAST(0 AS BIGINT) END for w in generate_series(0, $wMax)] AS c FROM c${r - 1})"
    }.mkString(",\n    ")
    s"""
    WITH p AS (
      SELECT n.n_regionkey AS rk, c.c_nationkey AS g,
        SUM(CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END) AS x,
        SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS y
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2),
    dd AS (SELECT rk, g, x - y AS diff, abs(x - y) AS ad FROM p WHERE x - y <> 0),
    r AS (SELECT rk, diff,
            rank() OVER (PARTITION BY rk ORDER BY ad) AS rnk,
            count(*) OVER (PARTITION BY rk, ad) AS tc
          FROM dd),
    st AS (SELECT rk, count(*) AS n,
             round(SUM(CASE WHEN diff > 0 THEN rnk + (tc - 1) / 2.0 ELSE 0 END), 2) AS w_plus,
             CAST(SUM(CASE WHEN diff > 0 THEN rnk ELSE 0 END) AS INT) AS wint,
             (max(tc) = 1 AND count(*) <= 25) AS ok
           FROM r GROUP BY 1),
    c0 AS (SELECT rk, n, w_plus, wint, ok,
             [CASE WHEN w = 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
              for w in generate_series(0, $wMax)] AS c
           FROM st),
    $steps
    SELECT rk AS region_key, n AS n_eff, w_plus,
      CASE WHEN ok THEN round(least(1.0,
             2.0 * (least(list_sum(c[1:wint+1]), list_sum(c[wint+1:${wMax + 1}]))::DOUBLE
               / pow(2.0, n))), 6)
           ELSE 'nan'::DOUBLE END AS p_exact
    FROM c25 ORDER BY 1"""
  })((s, d) => {
    val wsr = udaf(graft.functions.WilcoxonSignedRank,
      org.apache.spark.sql.Encoders.scalaDouble)
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_regionkey").as("region_key"), col("c_nationkey").as("g"))
      .agg(sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("x"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("y"))
      .select(col("region_key"), (col("x") - col("y")).cast("double").as("diff"))
      .filter(col("diff") =!= 0)
      .groupBy("region_key")
      .agg(wsr(col("diff")).as("w"))
      .select(col("region_key"), col("w.n_eff").as("n_eff"),
        round(col("w.w_plus"), 2).as("w_plus"),
        round(col("w.p_exact"), 6).as("p_exact"))
      .orderBy("region_key")
  })

  // ------------------------------------------------------------ T4/T5
  /** Paired t-test + Cohen's d on the same paired diffs.
    * Ref: cross_trial_type_cca_analysis_within_session.py:683-690. */
  /** Mean/std from EXACT integer moments (the j10 boundary class): the
    * diffs are integer counts, so Σd and Σd² are exact long sums in
    * both engines and every derived statistic is the identical IEEE
    * double — where stddev()'s running double accumulation was
    * order-dependent. */
  val t4 = Q("t4_paired_t_cohens_d", Some(s"""
    WITH p AS ($pairsSql),
    m AS (SELECT count(*) AS n,
                 CAST(SUM(x - y) AS BIGINT) AS sd,
                 CAST(SUM((x - y) * (x - y)) AS BIGINT) AS sdd
          FROM p),
    st AS (SELECT n, CAST(sd AS DOUBLE) / n AS mean_d,
                  sqrt(greatest((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n) / (n - 1), 0.0)) AS std_d
           FROM m)
    SELECT n,
      round(mean_d, 4) AS mean_diff,
      round(mean_d / (std_d / sqrt(n)), 4) AS t_stat,
      round(mean_d / std_d, 4) AS cohens_d
    FROM st"""
  ))((s, d) => {
    val dcol = col("x") - col("y")
    val n = count(lit(1))
    val nD = n.cast("double")
    val sd = sum(dcol).cast("double")
    val sdd = sum(dcol * dcol).cast("double")
    val meanD = sd / nD
    val stdD = sqrt(greatest((sdd - sd * sd / nD) / (nD - lit(1.0)), lit(0.0)))
    pairsDf(s, d).agg(
      n.as("n"),
      round(meanD, 4).as("mean_diff"),
      round(meanD / (stdD / sqrt(nD)), 4).as("t_stat"),
      round(meanD / stdD, 4).as("cohens_d"))
  })

  // ---------------------------------------------------------------- T6
  /** Spearman correlation: Pearson over average-tie ranks, computed
    * from the JOINT DISTINCT-VALUE HISTOGRAM: one scan of the fact
    * aggregates (group, value, lp) → count; the average-tie rank of
    * every distinct value (rank = cum_before + (c+1)/2) comes from
    * range-frame windows over the cells, and the five Pearson
    * sufficient statistics are Σc·f(rank) sums over histogram cells.
    * The previous form rank-windowed every ROW of an event-type
    * partition (size ∝ corpus) on one task; here the only window runs
    * over DISTINCT values per group (bounded domain — measured
    * saturating: 1k rows → 952 distinct, 100k → 17.8k). Determinism is
    * total: ranks are exact halves, products exact quarters, sums
    * accumulate as DECIMAL(38,2) (exact for quarter-multiples, ~1e36
    * integer headroom ≥ n·rank² at any plausible corpus), and the final
    * rho is one scalar double expression per group — bit-identical
    * under any partitioning, where corr()-over-rows depended on
    * accumulation order.
    * Ref: History/.../Dimensionality_communication_analysis.py:322-540. */
  /** Oracle side mirrors the engine's exact-decimal moment sums (the
    * j10 boundary class): ranks are exact halves, products exact
    * quarters, DECIMAL(38,2) sums exact — corr()-over-rows in the
    * oracle was the one remaining order-dependent leg. The final rho
    * expression is the engine's, token for token. */
  val t6 = Q("t6_spearman", Some("""
    WITH r AS (
      SELECT event_type,
        rank() OVER (PARTITION BY event_type ORDER BY value)
          + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS rx,
        rank() OVER (PARTITION BY event_type ORDER BY len(props))
          + (count(*) OVER (PARTITION BY event_type, len(props)) - 1) / 2.0 AS ry
      FROM events),
    m AS (
      SELECT event_type, count(*) AS n,
        CAST(SUM(CAST(rx AS DECIMAL(38,2))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(ry AS DECIMAL(38,2))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(rx * rx AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(ry * ry AS DECIMAL(38,2))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(rx * ry AS DECIMAL(38,2))) AS DOUBLE) AS sxy
      FROM r GROUP BY 1)
    SELECT event_type,
      round((n * sxy - sx * sy)
        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS rho,
      n
    FROM m ORDER BY 1"""
  ))((s, d) => {
    // ONE fact aggregation into the joint histogram, then the
    // average-tie ranks come from RANGE-frame windows over the cells
    // themselves (a range frame bounded at the current ORDER BY value
    // spans every cell tied on that value, so cum-through-ties and the
    // tie count both fall out without marginal tables or joins); the
    // two window specs share the event_type partitioning → one window
    // shuffle total, no persist, no join.
    val joint = Tables.events(s, d)
      .groupBy(col("event_type"), col("value"), length(col("props")).as("lp"))
      .agg(count(lit(1)).as("c"))
    def tieRank(key: String) = {
      val through = Window.partitionBy("event_type").orderBy(key)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val ties = Window.partitionBy("event_type").orderBy(key)
        .rangeBetween(Window.currentRow, Window.currentRow)
      val cum = sum("c").over(through)
      val mc = sum("c").over(ties)
      cum - mc + (mc + lit(1)) / 2.0
    }
    def qsum(term: org.apache.spark.sql.Column) = decimalSum(term, 38, 2).cast("double")
    val g = joint
      .select(col("event_type"), col("c"),
        tieRank("value").as("rx"), tieRank("lp").as("ry"))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n"),
        qsum(col("c") * col("rx")).as("sx"), qsum(col("c") * col("ry")).as("sy"),
        qsum(col("c") * col("rx") * col("rx")).as("sxx"),
        qsum(col("c") * col("ry") * col("ry")).as("syy"),
        qsum(col("c") * col("rx") * col("ry")).as("sxy"))
    val nD = col("n").cast("double")
    g.select(col("event_type"),
      round((nD * col("sxy") - col("sx") * col("sy")) /
        (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
          sqrt(nD * col("syy") - col("sy") * col("sy"))), 4).as("rho"),
      col("n"))
      .orderBy("event_type")
  })

  // ---------------------------------------------------------------- T7
  /** Sign-alignment: baseline = first group (in order) with positive
    * aggregate; flip groups whose sign disagrees with baseline.
    * Ref: cross_trial_type_cca_analysis.py:1036-1147. */
  val t7 = Q("t7_sign_alignment", Some(s"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(SUM(CAST(value - 50.0 AS DECIMAL(28,6))) AS DOUBLE) AS dsum
      FROM events GROUP BY 1, 2),
    base AS (
      SELECT event_type, min(day) AS baseline_day FROM daily
      WHERE dsum > 0 GROUP BY 1)
    SELECT d.event_type, b.baseline_day,
      count(*) AS n_days,
      CAST(SUM(CASE WHEN d.dsum <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped
    FROM daily d JOIN base b ON d.event_type = b.event_type
    GROUP BY 1, 2 ORDER BY 1"""
  ))((s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(stableSum(col("value") - 50.0).as("dsum"))
    val base = daily.filter(col("dsum") > 0)
      .groupBy("event_type").agg(min("day").as("baseline_day"))
    daily.join(base, "event_type")
      .groupBy("event_type", "baseline_day")
      .agg(count(lit(1)).as("n_days"),
        sum(when(!(col("dsum") > 0), 1L).otherwise(0L)).as("n_flipped"))
      .orderBy("event_type")
  })

  // ----------------------------------------------------------- L8/L13
  /** Simple linear regression via built-in regression aggregates
    * (slope, intercept, R²) — the Catalyst-expressible face of the GLM
    * layer; the multi-predictor kernel lives in graft.linalg.GLM.
    * Ref: oxford_GLM_CCA_coefficients_extract.m:402-485;
    * Dimensionality_communication_analysis.py:380-398. */
  /** Slope/intercept/R² from the exact-decimal regression moments (the
    * j10 boundary class): the regr_* aggregates accumulate doubles in
    * engine-specific order; the stable sums make every reported value
    * the identical IEEE double on both sides. The moments run on RAW
    * integer seconds (scale-0 decimals — exact; see t1 for why a
    * pre-divided t/86400 leg is engine-divergent at decimal-cast
    * ties) and the per-day x axis is recovered analytically:
    * slope_days = slope_secs · 86400 (exact scale equivariance),
    * intercept and R² are x-scale-invariant. */
  val l13 = Q("l13_linear_trend", Some(s"""
    WITH e AS ($evSql),
    m AS (
      SELECT event_type, count(*) AS n,
        ${stableSumSql("t", 0)} AS sx,
        ${stableSumSql("value")} AS sy,
        ${stableSumSql("t * value")} AS sxy,
        ${stableSumSql("t * t", 0)} AS sxx,
        ${stableSumSql("value * value")} AS syy
      FROM e GROUP BY 1),
    c AS (
      SELECT event_type, n,
        (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_secs,
        (n * sxy - sx * sy) * (n * sxy - sx * sy)
          / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2_raw,
        sx, sy
      FROM m)
    SELECT event_type,
      round(slope_secs * 86400.0, 4) AS slope,
      round((sy - slope_secs * sx) / n, 4) AS intercept,
      round(r2_raw, 4) AS r2,
      n
    FROM c ORDER BY 1"""
  ))((s, d) => {
    val e = evT(s, d)
    val n = count(lit(1))
    val sx = stableSum(col("t"), 0)
    val sy = stableSum(col("value"))
    val sxy = stableSum(col("t") * col("value"))
    val sxx = stableSum(col("t") * col("t"), 0)
    val syy = stableSum(col("value") * col("value"))
    val slopeSecs = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r2Raw = (n * sxy - sx * sy) * (n * sxy - sx * sy) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    e.groupBy("event_type").agg(
      round(slopeSecs * lit(86400.0), 4).as("slope"),
      round((sy - slopeSecs * sx) / n, 4).as("intercept"),
      round(r2Raw, 4).as("r2"),
      n.as("n"))
      .orderBy("event_type")
  })

  // ------------------------------------------------ T10 Mann–Whitney U
  /** Mann–Whitney U (two-sample rank-sum, unpaired — the independent-
    * samples complement of the PAIRED signed-rank t2): per day, are
    * click and purchase `value`s drawn from the same distribution?
    * Average-rank ties, tie-corrected normal approximation, no
    * continuity correction (the same convention family as t2's z);
    * p = 2·Φ(−|z|) reads off the reported z. Rank sums are exact
    * half-integers (order-independent in doubles), the tie term is
    * BIGINT, and the z expression is textually identical on both
    * engines. The per-day rank window bounds each sort by the day's
    * rows — the t2 demonstrator caveat applies to the GLOBAL form
    * only. */
  val t10 = Q("t10_mann_whitney", Some("""
    WITH e AS (SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) // 86400 AS day,
                 CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s1, value AS v
               FROM events
               WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
    rk AS (SELECT day, s1,
             rank() OVER (PARTITION BY day ORDER BY v)
               + (count(*) OVER (PARTITION BY day, v) - 1) / 2.0 AS r
           FROM e),
    tg AS (SELECT day, v, count(*) AS tc FROM e GROUP BY 1, 2),
    tt AS (SELECT day, CAST(sum(tc * tc * tc - tc) AS BIGINT) AS tie3
           FROM tg GROUP BY 1),
    a AS (SELECT day,
            CAST(sum(CASE WHEN s1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN s1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            sum(CASE WHEN s1 = 1 THEN r ELSE 0 END) AS r1
          FROM rk GROUP BY 1)
    SELECT a.day, n1, n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 2) AS u1,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
                     - CAST(tie3 AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1)))), 4) AS z
    FROM a JOIN tt USING (day)
    WHERE n1 >= 1 AND n2 >= 1 AND n1 + n2 >= 3
      AND tie3 < (n1 + n2) * (n1 + n2) * (n1 + n2) - (n1 + n2)
    ORDER BY day"""
  ))((s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase") && col("value").isNotNull)
      .select(expr("cast(ts AS long) div 86400").as("day"),
        when(col("event_type") === "click", 1).otherwise(0).as("s1"),
        col("value").as("v"))
    val rk = e.select(col("day"), col("s1"),
      (rank().over(Window.partitionBy("day").orderBy("v")) +
        (count(lit(1)).over(Window.partitionBy("day", "v")) - 1) / 2.0).as("r"))
    val tt = e.groupBy("day", "v").agg(count(lit(1)).as("tc"))
      .groupBy("day")
      .agg(sum(col("tc") * col("tc") * col("tc") - col("tc")).as("tie3"))
    val a = rk.groupBy("day").agg(
      sum(when(col("s1") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("s1") === 0, 1L).otherwise(0L)).as("n2"),
      sum(when(col("s1") === 1, col("r")).otherwise(0.0)).as("r1"))
    a.join(tt, "day")
      .filter(col("n1") >= 1 && col("n2") >= 1 && col("n1") + col("n2") >= 3)
      // a day with EVERY value tied has tie3 = n³−n, zeroing the
      // variance term: Spark (ANSI off) yields NULL on /0 where DuckDB
      // yields inf/NaN — exclude the degenerate day on both legs (no z
      // is defined there anyway)
      .filter(col("tie3") <
        (col("n1") + col("n2")) * (col("n1") + col("n2")) * (col("n1") + col("n2"))
          - (col("n1") + col("n2")))
      .select(col("day"), col("n1"), col("n2"),
        expr("round(r1 - n1 * (n1 + 1) / 2.0, 2)").as("u1"),
        expr("""round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                / sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
                    - CAST(tie3 AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1)))), 4)""")
          .as("z"))
      .orderBy("day")
  })

  // ------------------------------------------- T11 χ² independence
  /** Chi-square test of independence on the lang × source contingency
    * table: χ² = Σ (o − e)²/e over the FULL row×column grid (absent
    * cells contribute e), Wilson–Hilferty cube-root normal
    * approximation for the upper-tail p (excellent at df = 76), and
    * Cramér's V effect size. Expected counts derive from integer
    * row/col/N totals with one rounding per term and a DECIMAL sum, so
    * the statistic is bit-stable; z and p reuse t1's A&S polynomial
    * convention. Shape: one corpus aggregation to cells, every
    * downstream frame is category-bounded (the r×c cross is 100
    * rows). */
  private val chi2Term =
    "round((COALESCE(o, 0) - CAST(rn AS DOUBLE) * cn / n) " +
      "* (COALESCE(o, 0) - CAST(rn AS DOUBLE) * cn / n) " +
      "/ (CAST(rn AS DOUBLE) * cn / n), 6)"
  private val chi2Z =
    "round((cbrt(chi2 / ((r - 1) * (c - 1))) - (1.0 - 2.0 / (9.0 * (r - 1) * (c - 1)))) " +
      "/ sqrt(2.0 / (9.0 * (r - 1) * (c - 1))), 4)"
  private val chi2PUpper =
    "round(CASE WHEN z >= 0 " +
      "THEN dd * u * (0.319381530 + u * (-0.356563782 + u * (1.781477937 + u * (-1.821255978 + u * 1.330274429)))) " +
      "ELSE 1.0 - dd * u * (0.319381530 + u * (-0.356563782 + u * (1.781477937 + u * (-1.821255978 + u * 1.330274429)))) " +
      "END, 6)"

  val t11 = Q("t11_chi2_independence", Some(s"""
    WITH cells AS (SELECT lang, source, count(*) AS o FROM documents
                   WHERE text IS NOT NULL GROUP BY 1, 2),
    rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY 1),
    ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY 1),
    nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    base AS (SELECT rt.lang, ct.source, rt.rn, ct.cn FROM rt CROSS JOIN ct),
    terms AS (SELECT $chi2Term AS term
              FROM base b LEFT JOIN cells ON b.lang = cells.lang AND b.source = cells.source
              CROSS JOIN nn),
    st AS (SELECT CAST((SELECT count(*) FROM rt) AS BIGINT) AS r,
                  CAST((SELECT count(*) FROM ct) AS BIGINT) AS c,
                  (SELECT n FROM nn) AS n,
                  round(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE), 4) AS chi2
           FROM terms),
    zz AS (SELECT *, CAST((r - 1) * (c - 1) AS BIGINT) AS df, $chi2Z AS z FROM st),
    pz AS (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z)) AS u,
             0.3989422804014327 * exp(-(z * z) / 2.0) AS dd FROM zz)
    SELECT n, r AS n_row_cats, c AS n_col_cats, df, chi2, z,
           $chi2PUpper AS p_upper,
           round(sqrt(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v
    FROM pz"""
  ))((s, d) => {
    val cells = Tables.documents(s, d).filter(col("text").isNotNull)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rt = cells.groupBy("lang").agg(sum("o").as("rn"))
    val ct = cells.groupBy("source").agg(sum("o").as("cn"))
    val nn = cells.agg(sum("o").as("n"))
    val dims = rt.agg(count(lit(1)).as("r"))
      .crossJoin(ct.agg(count(lit(1)).as("c")))
    // category-bounded cross (r×c rows) + broadcast scalars
    val terms = rt.crossJoin(ct)
      .join(cells, Seq("lang", "source"), "left")
      .crossJoin(broadcast(nn))
      .select(expr(chi2Term).as("term"))
    val st = terms
      .agg(round(stableSum(col("term")), 4).as("chi2"))
      .crossJoin(broadcast(dims))
      .crossJoin(broadcast(nn))
    st.withColumn("df", expr("CAST((r - 1) * (c - 1) AS BIGINT)"))
      .withColumn("z", expr(chi2Z))
      .withColumn("u", expr("1.0 / (1.0 + 0.2316419 * abs(z))"))
      .withColumn("dd", expr("0.3989422804014327 * exp(-(z * z) / 2.0)"))
      .select(col("n"), col("r").as("n_row_cats"), col("c").as("n_col_cats"),
        col("df"), col("chi2"), col("z"),
        expr(chi2PUpper).as("p_upper"),
        expr("round(sqrt(chi2 / (n * LEAST(r - 1, c - 1))), 6)").as("cramers_v"))
  })

  // ---------------------------------------------------------- Stream
  /** Batch twin of the Structured Streaming job (tumbling event-time
    * window + per-window aggregate); the streaming form lives in
    * graft.streaming.StreamOps with the same column contract. */
  val st1 = Q("stream_tumbling_window", Some("""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      count(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
  ))((s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        stableSum(col("value")).as("sum_value"))
      .orderBy("window_start", "event_type"))

  // --------------------------------------- T12 Kolmogorov–Smirnov
  /** Two-sample Kolmogorov–Smirnov per day: are `view` and `click`
    * values drawn from the same distribution? D = max |F̂₁ − F̂₂|
    * evaluated at every distinct pooled value (the CDFs are step
    * functions — the sup is attained at a step), p from the standard
    * asymptotic series Q(λ) = 2·Σ (−1)^{k−1} e^{−2k²λ²} with the
    * small-sample effective-n correction λ = (√eₙ + 0.12 + 0.11/√eₙ)·D,
    * truncated at k = 8 (the tail under any λ ≥ 0.3 is below 1e−12;
    * larger-p small-λ cases clip at 1). Completes the nonparametric
    * battery: MW-U (t10) tests location shift, KS tests ANY
    * distributional difference.
    *
    * Exactness: step heights are ratios of exact BIGINT cumulative
    * counts (one per-day value window, sorted per day only), D is
    * rounded once at 6 dp, and the λ/series expression is textually
    * identical on both engines over those identical operands. */
  /** t12's oracle body WITHOUT the trailing ORDER BY, shared with
    * t15's BH correction (which wraps it as a CTE where an ORDER BY
    * would be dead weight). Factored as a constant — t15 used to
    * string-replace "ORDER BY day" out of t12's SQL, which silently
    * corrupts if the body ever gains another occurrence (r8 ADVICE). */
  private val ksSqlBody = """
    WITH e AS (SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) // 86400 AS day,
                 CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS s1, value AS v
               FROM events
               WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
    c AS (SELECT day, v,
                 CAST(sum(s1) AS BIGINT) AS c1,
                 CAST(sum(1 - s1) AS BIGINT) AS c2
          FROM e GROUP BY 1, 2),
    t AS (SELECT day, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
          FROM c GROUP BY 1),
    w AS (SELECT day, v,
                 CAST(sum(c1) OVER (PARTITION BY day ORDER BY v) AS BIGINT) AS cum1,
                 CAST(sum(c2) OVER (PARTITION BY day ORDER BY v) AS BIGINT) AS cum2
          FROM c),
    d AS (SELECT w.day, n1, n2,
                 round(max(abs(CAST(cum1 AS DOUBLE) / n1
                               - CAST(cum2 AS DOUBLE) / n2)), 6) AS d_stat
          FROM w JOIN t ON w.day = t.day
          WHERE n1 >= 1 AND n2 >= 1
          GROUP BY 1, 2, 3),
    l AS (SELECT day, n1, n2, d_stat,
                 (sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) + 0.12
                  + 0.11 / sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2))) * d_stat AS lam
          FROM d)
    SELECT day, n1, n2, d_stat,
           round(least(1.0, greatest(0.0,
             2 * (exp(-2 * lam * lam) - exp(-8 * lam * lam)
                  + exp(-18 * lam * lam) - exp(-32 * lam * lam)
                  + exp(-50 * lam * lam) - exp(-72 * lam * lam)
                  + exp(-98 * lam * lam) - exp(-128 * lam * lam)))), 6) AS p_value
    FROM l"""

  val t12 = Q("t12_ks_two_sample", Some(ksSqlBody + " ORDER BY day"))((s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("view", "click") && col("value").isNotNull)
      .select(expr("cast(ts AS long) div 86400").as("day"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("s1"),
        col("value").as("v"))
    val c = e.groupBy("day", "v")
      .agg(sum("s1").as("c1"), sum(lit(1L) - col("s1")).as("c2"))
    val t = c.groupBy("day").agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val wd = Window.partitionBy("day").orderBy("v")
    val w = c.select(col("day"), col("v"),
      sum("c1").over(wd).as("cum1"), sum("c2").over(wd).as("cum2"))
    val dd = w.join(t, "day")
      .filter(col("n1") >= 1 && col("n2") >= 1)
      .groupBy("day", "n1", "n2")
      .agg(round(max(abs(col("cum1").cast("double") / col("n1")
        - col("cum2").cast("double") / col("n2"))), 6).as("d_stat"))
    dd.withColumn("lam",
        expr("""(sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) + 0.12
                + 0.11 / sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2))) * d_stat"""))
      .select(col("day"), col("n1"), col("n2"), col("d_stat"),
        expr("""round(least(1.0, greatest(0.0,
            2 * (exp(-2 * lam * lam) - exp(-8 * lam * lam)
                 + exp(-18 * lam * lam) - exp(-32 * lam * lam)
                 + exp(-50 * lam * lam) - exp(-72 * lam * lam)
                 + exp(-98 * lam * lam) - exp(-128 * lam * lam)))), 6)""").as("p_value"))
      .orderBy("day")
  })

  // --------------------------------------- T13 mutual information
  /** Mutual information between language and source (nats) —
    * operators.Diagnostics.mutualInformation: MI over the observed
    * lang × source contingency cells with marginal entropies, the
    * conditional entropy H(lang|source), and redundancy
    * MI/min(H) — the DEPENDENCE measure beside t11's χ² significance
    * test (χ² says "not independent"; MI says how many nats of
    * language you learn from the source, i.e. whether source-level
    * sampling implicitly stratifies language). One corpus aggregate;
    * every later frame is category-bounded; rounded-term DECIMAL sums
    * replayed by the oracle. */
  val t13 = Q("t13_mutual_information", Some("""
    WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
                   FROM documents
                   WHERE lang IS NOT NULL AND source IS NOT NULL
                   GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    hx AS (SELECT CAST(SUM(CAST(round(-(CAST(ck AS DOUBLE) / n)
                 * ln(CAST(ck AS DOUBLE) / n), 6) AS DECIMAL(28,6))) AS DOUBLE) AS hxv
           FROM (SELECT lang, CAST(sum(c) AS BIGINT) AS ck FROM cells GROUP BY 1)
           CROSS JOIN tot),
    hy AS (SELECT CAST(SUM(CAST(round(-(CAST(ck AS DOUBLE) / n)
                 * ln(CAST(ck AS DOUBLE) / n), 6) AS DECIMAL(28,6))) AS DOUBLE) AS hyv
           FROM (SELECT source, CAST(sum(c) AS BIGINT) AS ck FROM cells GROUP BY 1)
           CROSS JOIN tot),
    mx AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
    my AS (SELECT source, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
    mi AS (SELECT CAST(SUM(CAST(round((CAST(c AS DOUBLE) / n)
                 * ln(CAST(c AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy)), 6)
                 AS DECIMAL(28,6))) AS DOUBLE) AS miv
           FROM cells JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN tot)
    SELECT n AS n_rows, round(hxv, 6) AS h_x, round(hyv, 6) AS h_y,
           round(miv, 6) AS mi_nats, round(hxv - miv, 6) AS h_x_given_y,
           round(CASE WHEN least(hxv, hyv) > 0 THEN miv / least(hxv, hyv)
                      ELSE 0.0 END, 6) AS redundancy
    FROM tot CROSS JOIN hx CROSS JOIN hy CROSS JOIN mi"""
  ))((s, d) =>
    graft.operators.Diagnostics.mutualInformation(
      Tables.documents(s, d), "lang", "source"))

  // --------------------------------------- T14 two-proportion z-test
  /** Two-proportion z-test (pooled) per day — the A/B conversion
    * comparison: split users into two arms by the deterministic
    * user_id parity, conversion = purchases / (views + purchases),
    * z = (p̂₁ − p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) with the pooled p̂. Every
    * input to the z is a ratio of exact BIGINTs and the expression is
    * textually identical on both engines; degenerate days (an empty
    * arm, or pooled p̂ ∈ {0,1} zeroing the variance) are excluded on
    * both legs. One conditional aggregate per day — no shuffle wider
    * than (day). */
  val t14 = Q("t14_two_proportion", Some("""
    WITH e AS (SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) // 86400 AS day,
                 user_id % 2 AS arm,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
               FROM events WHERE event_type IN ('view', 'purchase')),
    a AS (SELECT day,
            CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c1,
            CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c2
          FROM e GROUP BY 1)
    SELECT day, n1, n2,
           round(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
           round(CAST(c2 AS DOUBLE) / n2, 6) AS p2,
           round((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                 / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                        * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 4) AS z
    FROM a
    WHERE n1 >= 1 AND n2 >= 1 AND c1 + c2 > 0 AND c1 + c2 < n1 + n2
    ORDER BY day"""
  ))((s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .select(expr("cast(ts AS long) div 86400").as("day"),
        (col("user_id") % 2).as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
    e.groupBy("day")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c2"))
      .filter(col("n1") >= 1 && col("n2") >= 1 &&
        col("c1") + col("c2") > 0 && col("c1") + col("c2") < col("n1") + col("n2"))
      .select(col("day"), col("n1"), col("n2"),
        round(col("c1").cast("double") / col("n1"), 6).as("p1"),
        round(col("c2").cast("double") / col("n2"), 6).as("p2"),
        expr("""round((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                       * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                       * (1.0 / n1 + 1.0 / n2)), 4)""").as("z"))
      .orderBy("day")
  })

  // --------------------------------------- T15 Benjamini–Hochberg FDR
  /** Benjamini–Hochberg FDR correction over the per-day KS p-value
    * battery (t12's 30 tests) — the multiple-comparison discipline the
    * reference's per-test stars (C7) lack: adjusted p(i) =
    * min_{j ≥ i} p(j)·m/j over the ascending-p ranking, reported with
    * each day's rank and a q = 0.10 discovery flag. The running min is
    * ONE window over the m-row p-value frame (m = number of tests —
    * tiny by construction); everything upstream reuses t12's exact
    * CDF-gap machinery verbatim. Ties in p rank deterministically by
    * day; adjusted values are exact-rational arithmetic over already-
    * rounded p's, rounded once at 6 dp. */
  val t15 = Q("t15_bh_fdr", Some {
    s"""
    WITH kso AS ($ksSqlBody),
    r AS (SELECT day, p_value,
                 row_number() OVER (ORDER BY p_value, day) AS rk,
                 count(*) OVER () AS m
          FROM kso),
    adj AS (SELECT day, p_value, rk, m,
                   min(p_value * m / rk) OVER (ORDER BY rk DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj_raw
            FROM r)
    SELECT day, p_value, CAST(rk AS BIGINT) AS rk,
           round(least(1.0, padj_raw), 6) AS p_adj,
           (round(least(1.0, padj_raw), 6) <= 0.10) AS discovery
    FROM adj ORDER BY rk"""
  })((s, d) => {
    val ks = t12.build(s, d)
    val wRank = Window.orderBy(col("p_value"), col("day"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wTail = Window.orderBy(col("rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ks.select(col("day"), col("p_value"))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("padj_raw",
        min(col("p_value") * col("m") / col("rk")).over(wTail))
      .select(col("day"), col("p_value"), col("rk").cast("long").as("rk"),
        round(least(lit(1.0), col("padj_raw")), 6).as("p_adj"),
        (round(least(lit(1.0), col("padj_raw")), 6) <= 0.10).as("discovery"))
      .orderBy("rk")
  })

  // --------------------------------------- T16 PSI distribution drift
  /** Population-stability-index drift — operators.Diagnostics.psiDrift:
    * each event type's `value` distribution against the `view`
    * reference, over 10 reference-decile buckets with Laplace-smoothed
    * shares and the conventional psi > 0.2 drift flag. The dashboard
    * complement of t12's KS test (binned thresholded index vs exact
    * sup-gap p-value). The oracle replays the reference ntile cuts,
    * the unrolled `1 + #{cuts < v}` assignment, the smoothed shares
    * and the rounded-term DECIMAL sum. */
  private val psiBins = 10

  val t16 = Q("t16_psi_event_type", Some {
    val bucketSql = "1" + (1 until psiBins).map(i =>
      s" + (CASE WHEN cuts[$i] < v THEN 1 ELSE 0 END)").mkString
    // CASTs pin every operand to DOUBLE: a bare 0.5 is DECIMAL in
    // DuckDB and the mixed-type arithmetic lands an ulp off Spark's
    def share(c: String, n: String) =
      s"((CAST(coalesce($c, 0) AS DOUBLE) + CAST(0.5 AS DOUBLE))" +
        s" / (CAST($n AS DOUBLE) + CAST(${psiBins / 2.0} AS DOUBLE)))"
    s"""
    WITH e AS (SELECT event_type, value AS v FROM events WHERE value IS NOT NULL),
    r AS (SELECT v, ntile($psiBins) OVER (ORDER BY v) AS t FROM e
          WHERE event_type = 'view'),
    cut AS (SELECT t, max(v) AS cut FROM r WHERE t < $psiBins GROUP BY 1),
    cl AS (SELECT list(cut ORDER BY t) AS cuts FROM cut),
    a AS (SELECT event_type, $bucketSql AS bucket FROM e CROSS JOIN cl),
    counts AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS c
               FROM a GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
    rc AS (SELECT bucket, c AS rc FROM counts WHERE event_type = 'view'),
    rn AS (SELECT n AS rn FROM tot WHERE event_type = 'view'),
    grid AS (SELECT event_type, n, rn, unnest(generate_series(1, $psiBins)) AS bucket
             FROM tot CROSS JOIN rn),
    terms AS (SELECT g.event_type, g.n,
                round((${share("c.c", "g.n")} - ${share("rc.rc", "g.rn")})
                  * ln(${share("c.c", "g.n")} / ${share("rc.rc", "g.rn")}), 6) AS term
              FROM grid g
              LEFT JOIN counts c ON g.event_type = c.event_type AND g.bucket = c.bucket
              LEFT JOIN rc ON g.bucket = rc.bucket)
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
           round(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE), 6) AS psi,
           (round(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE), 6) > 0.2) AS drifted
    FROM terms GROUP BY 1 ORDER BY 1"""
  })((s, d) =>
    graft.operators.Diagnostics.psiDrift(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"), col("value")),
        "event_type", "value", col("event_type") === "view", bins = psiBins)
      .orderBy("event_type"))

  // -------------------------------------------- T17 winsorization
  /** Per-group winsorization audit — clip `value` at the EXACT p05/p95
    * (operators.Diagnostics.groupQuantilesByRank: the psiDrift
    * distributed-rank construction, so the per-group quantile never
    * funnels a group through one task) and report the clip thresholds,
    * clip counts and the raw-vs-winsorized mean — the standard
    * heavy-tail cleanup decision for numeric features before they
    * enter a model or a z-score. Thresholds broadcast back; the clip
    * itself is row-local; means ride the DECIMAL stable-sum. The
    * oracle replays the rank convention directly (value at
    * rank ceil(q·n)) — tie rows share a value, so row_number's
    * arbitrary tie order cannot change the selected threshold. */
  val t17 = Q("t17_winsorize", Some {
    import graft.functions.Deterministic.stableSumSql
    s"""
    WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM e),
    lov AS (SELECT event_type, value AS lo FROM r
            WHERE rn = CAST(ceil(0.05 * n) AS BIGINT)),
    hiv AS (SELECT event_type, value AS hi FROM r
            WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)),
    c AS (SELECT e.event_type, value, lo, hi,
                 least(greatest(value, lo), hi) AS w
          FROM e JOIN lov USING (event_type) JOIN hiv USING (event_type))
    SELECT event_type, count(*) AS n, lo, hi,
           CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           round(${stableSumSql("value")} / count(*), 6) AS mean_raw,
           round(${stableSumSql("w")} / count(*), 6) AS mean_wins
    FROM c GROUP BY event_type, lo, hi ORDER BY event_type"""
  })((s, d) => {
    import graft.functions.Deterministic.stableSum
    val e = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val th = graft.operators.Diagnostics
      .groupQuantilesByRank(e, "event_type", "value",
        Seq("lo" -> 0.05, "hi" -> 0.95))
      .groupBy("event_type")
      .agg(max(when(col("qname") === "lo", col("qvalue"))).as("lo"),
        max(when(col("qname") === "hi", col("qvalue"))).as("hi"))
    e.join(broadcast(th), "event_type")
      .withColumn("w", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy("event_type", "lo", "hi")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        round(stableSum(col("value")) / count(lit(1)), 6).as("mean_raw"),
        round(stableSum(col("w")) / count(lit(1)), 6).as("mean_wins"))
      .select(col("event_type"), col("n"), col("lo"), col("hi"),
        col("n_clip_lo"), col("n_clip_hi"), col("mean_raw"), col("mean_wins"))
      .orderBy("event_type")
  })

  val all: Seq[Q] = Seq(l3, l4, l5, t1, t2, t2b, t2c, t4, t6, t7, t10, t11,
    t12, t13, t14, t15, t16, t17, l13, st1)
}
