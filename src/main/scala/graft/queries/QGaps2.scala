package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Deterministic._

/** Second gap-closure wave over SURVEY §2: stable-unit semi-join (F4),
  * cross-condition projection join (J3), hierarchical pooled
  * aggregation (A5), tensor-reshape round-trip (L1), the math-scalar
  * battery (C3), the multi-scale stability sweep (L14), the
  * upper-triangle summary matrix (P5), and the rastermap-ordering
  * substitute (L15, documented approximation per SURVEY §7.3).
  */
object QGaps2 {

  // --------------------------------------------------------------- F4
  /** Stable-unit filter: facts kept via semi join against the dimension
    * rows whose boolean stability flag is set (engine analog of the
    * stable-unit mask; the mask-length reconciliation disappears because
    * the join key is explicit).
    * Ref: Matlab_part/extract_session_data_mdl.m:174-207. */
  val f4 = Q("f4_stable_unit_filter", Some(s"""
    SELECT l_returnflag, count(*) AS n,
           ${stableSumSql("l_quantity")} AS sum_qty
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0.0)
    GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val stable = Tables.supplier(s, d)
      .filter(col("s_acctbal") >= 0.0).select("s_suppkey")
    Tables.lineitem(s, d)
      .join(stable, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), stableSum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  })

  // --------------------------------------------------------------- J3
  /** Cross-condition projection join: weights are trained on the
    * reference condition only ('click'), then broadcast-joined to every
    * OTHER condition's facts on the shared key and reduced to a
    * projection — the reference's reuse of reference-condition CCA
    * weights across trial types.
    * Ref: cross_trial_type_cca_analysis.py:569-715. */
  val j3 = Q("j3_cross_condition_projection", Some(s"""
    WITH e AS (SELECT event_type, user_id % 20 AS bucket,
                      CAST(round(value * 100) AS BIGINT) AS v100
               FROM events WHERE user_id IS NOT NULL),
    w AS (SELECT bucket,
                 CAST(round((${stableSumSql("v100")} / 100.0 / count(*)) * 1000000) AS BIGINT) AS w6
          FROM e WHERE event_type = 'click' GROUP BY 1)
    SELECT e.event_type, count(*) AS n,
           CAST(SUM(CAST(e.v100 * w.w6 AS DECIMAL(28,0))) AS DOUBLE) / 100000000 AS projection
    FROM e JOIN w ON e.bucket = w.bucket
    WHERE e.event_type <> 'click'
    GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    // Fixed-point throughout: values are 2-dp, so v100 is an exact
    // integer; the weight quantizes to 1e-6 once per bucket; the
    // projection is then an exact integer sum scaled at the end. Every
    // floating step operates on bit-identical inputs in both engines, so
    // no per-term rounding can flip (the earlier round-then-decimal-sum
    // form flipped one term in ~800 at sf0.001).
    val e = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("event_type"), pmod(col("user_id"), lit(20)).as("bucket"),
        round(col("value") * 100).cast("long").as("v100"))
    val w = e.filter(col("event_type") === "click")
      .groupBy("bucket")
      .agg(round((stableSum(col("v100")) / lit(100.0) / count(lit(1))) * lit(1000000))
        .cast("long").as("w6"))
    e.filter(col("event_type") =!= "click")
      .join(broadcast(w), "bucket")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (decimalSum(col("v100") * col("w6"), 28, 0)
          .cast("double") / lit(100000000L)).as("projection"))
      .orderBy("event_type")
  })

  // --------------------------------------------------------------- A5
  /** Hierarchical pooled aggregation: group-level stats re-keyed to the
    * coarser taxonomy level, contributing rows pooled, mean/std/SEM
    * recomputed over the pooled N, min-membership gate applied.
    * Ref: cross_trial_type_cca_analysis.py:1770-1819. */
  /** Pooled stats run on exact stable moments (j10 boundary class,
    * closed round 16): level-1 means are forced to ONE shared double
    * (exact decimal sum / count — Spark's avg(decimal) stays decimal
    * while DuckDB's goes double, so the raw avg()s are not even the
    * same representation), and the pooled mean/std/SEM are computed
    * from order-invariant decimal first/second moments of those
    * doubles, making both engines round the identical IEEE value. */
  val a5 = Q("a5_hierarchical_pooled", Some(s"""
    WITH sess AS (SELECT c_nationkey,
                         CAST(SUM(c_acctbal) AS DOUBLE) / count(c_acctbal) AS v
                  FROM customer GROUP BY 1),
    h AS (SELECT r_name, v FROM sess
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey),
    l2 AS (SELECT r_name,
                  ${stableSumSql("v", 10)} AS sx,
                  ${stableSumSql("v * v", 10)} AS sxx,
                  count(*) AS n
           FROM h GROUP BY 1 HAVING count(*) >= 3)
    SELECT r_name, n AS n_pooled,
           round(sx / n, 4) AS mean_v,
           round(sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)), 4) AS std_v,
           round(sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) / sqrt(n), 4) AS sem_v
    FROM l2 ORDER BY 1"""
  ))((s, d) => {
    val sess = Tables.customer(s, d)
      .groupBy("c_nationkey")
      .agg((sum(col("c_acctbal")).cast("double") / count(col("c_acctbal"))).as("v"))
    val sx = stableSum(col("v"), 10)
    val sxx = stableSum(col("v") * col("v"), 10)
    val n = count(lit(1)).cast("double")
    val std = sqrt(greatest((sxx - sx * sx / n) / (n - lit(1.0)), lit(0.0)))
    sess
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_pooled"),
        round(sx / n, 4).as("mean_v"),
        round(std, 4).as("std_v"),
        round(std / sqrt(n), 4).as("sem_v"))
      .filter(col("n_pooled") >= 3)
      .orderBy("r_name")
  })

  // --------------------------------------------------------------- L1
  /** Tensor reshape round-trip: long rows grouped into an ordered array
    * column (the "matrix" form), then exploded back to long — proving
    * the reshape is lossless. The oracle is the identity aggregate on
    * the base table.
    * Ref: Matlab_part/perform_session_cca.m:124-143,412-443. */
  val l1 = Q("l1_reshape_roundtrip", Some(s"""
    SELECT l_linenumber, count(*) AS n,
           ${stableSumSql("l_quantity")} AS sum_qty
    FROM lineitem GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val arr = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("a"))
    arr.select(col("l_orderkey"), explode(col("a")).as("e"))
      .select(col("e.l_linenumber").as("l_linenumber"), col("e.l_quantity").as("l_quantity"))
      .groupBy("l_linenumber")
      .agg(count(lit(1)).as("n"), stableSum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_linenumber")
  })

  // --------------------------------------------------------------- C3
  /** Math-scalar battery: abs/sqrt/ln/log10/exp/floor/clip/acos/degrees
    * in one codegen'd pass; terms rounded to 4 dp before the decimal
    * sum so libm ULP differences between engines cannot flip a digit.
    * Ref: Matlab_part/Oxford_glm_sensitivity.m:279,290;
    * History/.../Pca_cca_comparison_framework.py:153-157. */
  val c3 = Q("c3_math_scalars", Some("""
    SELECT l_returnflag, count(*) AS n,
      CAST(SUM(CAST(round(abs(l_quantity - 25.0), 4) AS DECIMAL(28,4))) AS DOUBLE) AS s_abs,
      CAST(SUM(CAST(round(sqrt(l_extendedprice), 4) AS DECIMAL(28,4))) AS DOUBLE) AS s_sqrt,
      CAST(SUM(CAST(round(ln(l_quantity) + log10(l_extendedprice), 4) AS DECIMAL(28,4))) AS DOUBLE) AS s_log,
      CAST(SUM(CAST(round(exp(-l_discount), 4) AS DECIMAL(28,4))) AS DOUBLE) AS s_exp,
      CAST(SUM(CAST(floor(l_tax * 100) + least(greatest(l_quantity, 10.0), 40.0) AS DECIMAL(28,4))) AS DOUBLE) AS s_floor_clip,
      CAST(SUM(CAST(round(degrees(acos(1.0 - l_discount)), 4) AS DECIMAL(28,4))) AS DOUBLE) AS s_deg
    FROM lineitem GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    def dsum(c: org.apache.spark.sql.Column) =
      stableSum(c, 4)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum(round(abs(col("l_quantity") - 25.0), 4)).as("s_abs"),
        dsum(round(sqrt(col("l_extendedprice")), 4)).as("s_sqrt"),
        dsum(round(log(col("l_quantity")) + log10(col("l_extendedprice")), 4)).as("s_log"),
        dsum(round(exp(-col("l_discount")), 4)).as("s_exp"),
        dsum(floor(col("l_tax") * 100) + least(greatest(col("l_quantity"), lit(10.0)), lit(40.0))).as("s_floor_clip"),
        dsum(round(degrees(acos(lit(1.0) - col("l_discount"))), 4)).as("s_deg"))
      .orderBy("l_returnflag")
  })

  // -------------------------------------------------------------- L14
  /** Multi-scale stability sweep: for each (sample size, iteration)
    * combo, a seeded deterministic sample per group feeds the group
    * statistic, whose correlation against the full-population statistic
    * is the stability score — the reference's neuron-count stability
    * analysis as one relational DAG (sizes × iterations fan-out via a
    * broadcast cross join, not a driver loop).
    * Ref: Matlab_part/oxford_neuron_stability.m:465-565. */
  /** stability_r from exact Pearson moments (the j10 boundary class):
    * the per-nation means are forced to ONE shared double on both sides
    * (exact decimal sum / count — Spark's avg(decimal) stays decimal
    * while DuckDB's goes double), and the correlation is the identical
    * IEEE expression over stable decimal sums of those doubles. */
  val l14 = Q("l14_stability_sweep", Some(s"""
    WITH combos(n_sample, iter) AS (VALUES (3,1),(3,2),(5,1),(5,2),(10,1),(10,2)),
    f AS (SELECT c_nationkey,
                 CAST(SUM(c_acctbal) AS DOUBLE) / count(c_acctbal) AS v_full
          FROM customer GROUP BY 1),
    r AS (SELECT co.n_sample, co.iter, c.c_nationkey, c.c_acctbal,
            row_number() OVER (PARTITION BY co.n_sample, co.iter, c.c_nationkey
              ORDER BY ((c.c_custkey * 1103515245 + (12345 + co.iter * 100) * 12345 + 104729)
                        % 2147483648 + 2147483648) % 2147483648, c.c_custkey) AS rn
          FROM customer c CROSS JOIN combos co),
    samp AS (SELECT n_sample, iter, c_nationkey,
                    CAST(SUM(c_acctbal) AS DOUBLE) / count(c_acctbal) AS v_samp
             FROM r WHERE rn <= n_sample GROUP BY 1, 2, 3),
    m AS (SELECT s.n_sample, s.iter, count(*) AS n,
                 ${stableSumSql("s.v_samp", 10)} AS sx,
                 ${stableSumSql("f.v_full", 10)} AS sy,
                 ${stableSumSql("s.v_samp * f.v_full", 10)} AS sxy,
                 ${stableSumSql("s.v_samp * s.v_samp", 10)} AS sxx,
                 ${stableSumSql("f.v_full * f.v_full", 10)} AS syy
          FROM samp s JOIN f ON s.c_nationkey = f.c_nationkey
          GROUP BY 1, 2)
    SELECT n_sample, iter, n AS n_groups,
           round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS stability_r
    FROM m ORDER BY 1, 2"""
  ))((s, d) => {
    val combos = s.createDataFrame(Seq((3, 1), (3, 2), (5, 1), (5, 2), (10, 1), (10, 2)))
      .toDF("n_sample", "iter")
    val c = Tables.customer(s, d).select("c_nationkey", "c_custkey", "c_acctbal")
    val fullM = c.groupBy("c_nationkey")
      .agg((sum(col("c_acctbal")).cast("double") / count(col("c_acctbal"))).as("v_full"))
    val hr = pmod(
      col("c_custkey") * lit(1103515245L) +
        (lit(12345L) + col("iter") * lit(100L)) * lit(12345L) + lit(104729L),
      lit(M))
    val w = Window.partitionBy("n_sample", "iter", "c_nationkey")
      .orderBy(col("hr"), col("c_custkey"))
    val samp = c.crossJoin(broadcast(combos)).withColumn("hr", hr)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n_sample"))
      .groupBy("n_sample", "iter", "c_nationkey")
      .agg((sum(col("c_acctbal")).cast("double") / count(col("c_acctbal"))).as("v_samp"))
    val n = count(lit(1))
    val sx = stableSum(col("v_samp"), 10)
    val sy = stableSum(col("v_full"), 10)
    val sxy = stableSum(col("v_samp") * col("v_full"), 10)
    val sxx = stableSum(col("v_samp") * col("v_samp"), 10)
    val syy = stableSum(col("v_full") * col("v_full"), 10)
    samp.join(broadcast(fullM), "c_nationkey")
      .groupBy("n_sample", "iter")
      .agg(n.as("n_groups"),
        round((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6).as("stability_r"))
      .orderBy("n_sample", "iter")
  })

  // --------------------------------------------------------------- P5
  /** Upper-triangle summary matrix in anatomical order: customer-region
    * × supplier-region mean revenue, pivoted to a matrix whose rows and
    * columns follow the explicit ordering table; cells at or below the
    * diagonal are NULL.
    * Ref: cross_trial_type_cca_analysis.py:1966-2664. */
  private val regionOrder = Seq(
    "ASIA" -> 1, "AMERICA" -> 2, "EUROPE" -> 3, "AFRICA" -> 4, "MIDDLE EAST" -> 5)

  val p5 = Q("p5_upper_triangle_matrix", Some("""
    WITH ord(r_name, ord) AS (VALUES
      ('ASIA', 1), ('AMERICA', 2), ('EUROPE', 3), ('AFRICA', 4), ('MIDDLE EAST', 5)),
    creg AS (SELECT c_custkey, o.ord AS oc, o.r_name AS rc FROM customer
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region r ON n_regionkey = r_regionkey
             JOIN ord o ON r.r_name = o.r_name),
    sreg AS (SELECT s_suppkey, o.ord AS os, o.r_name AS rs FROM supplier
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region r ON n_regionkey = r_regionkey
             JOIN ord o ON r.r_name = o.r_name),
    f AS (SELECT cr.oc, cr.rc, sr.os, sr.rs,
                 l.l_extendedprice * (1 - l.l_discount) AS rev
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN creg cr ON o.o_custkey = cr.c_custkey
          JOIN sreg sr ON l.l_suppkey = sr.s_suppkey)
    SELECT oc AS ord, rc AS region,
      round(avg(CASE WHEN os > oc AND rs = 'ASIA' THEN rev END), 4) AS "ASIA",
      round(avg(CASE WHEN os > oc AND rs = 'AMERICA' THEN rev END), 4) AS "AMERICA",
      round(avg(CASE WHEN os > oc AND rs = 'EUROPE' THEN rev END), 4) AS "EUROPE",
      round(avg(CASE WHEN os > oc AND rs = 'AFRICA' THEN rev END), 4) AS "AFRICA",
      round(avg(CASE WHEN os > oc AND rs = 'MIDDLE EAST' THEN rev END), 4) AS "MIDDLE EAST"
    FROM f GROUP BY 1, 2 ORDER BY 1"""
  ))((s, d) => {
    val ordDf = s.createDataFrame(regionOrder).toDF("r_name", "ord")
    def reg(dim: org.apache.spark.sql.DataFrame, key: String, nk: String,
            o: String, r: String) =
      dim.join(Tables.nation(s, d), col(nk) === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(ordDf), "r_name")
        .select(col(key), col("ord").as(o), col("r_name").as(r))
    val creg = reg(Tables.customer(s, d), "c_custkey", "c_nationkey", "oc", "rc")
    val sreg = reg(Tables.supplier(s, d), "s_suppkey", "s_nationkey", "os", "rs")
    val f = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(creg, col("o_custkey") === col("c_custkey")) // customer/supplier-scaled sides
      .join(sreg, col("l_suppkey") === col("s_suppkey"))
      .select(col("oc"), col("rc"), col("os"), col("rs"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val ut = when(col("os") > col("oc"), col("rev"))
    f.groupBy(col("oc").as("ord"), col("rc").as("region"))
      .pivot("rs", regionOrder.map(_._1))
      .agg(round(avg(ut), 4))
      .orderBy("ord")
  })

  // --------------------------------------------------- P5 (hierarchical)
  /** Upper-triangle matrix in HIERARCHICAL order: same pivot as
    * [[p5]], but the row/column order is data-driven — regions ranked
    * by their customer-side revenue mass (descending, name-tiebroken) —
    * the engine's stand-in for the reference's cluster-derived region
    * ordering. The ranking total is a decimal stable sum, so the order
    * (and therefore which cells are NULLed as lower-triangle) is
    * bit-identical across engines. The fact join runs ONCE into a
    * 25-cell exact-sum table (scope-persisted — it feeds the pivot and
    * both broadcast copies of the rank table); everything downstream
    * operates on those 25 rows.
    *
    * Cost floor, decomposed (a per-job split, r15 — the adjudication of
    * the r13→r14 1.46→1.59 s sf0.1 / 2.98→3.20 s sf1 watch item): warm,
    * fact→cells alone = 1.4 s sf0.1 / 2.6 s sf1 across 17 jobs — the
    * one data-proportional stage, sub-linear (1.8× on 10× data) and the
    * SAME 4-table join the un-watched p5_upper_triangle_matrix runs
    * (its full query: 1.6 / 2.5 s); everything after the 25-row cell
    * table = ~0.5-0.6 s FLAT across 12 more jobs (persist touch, rank
    * window, two 5-row broadcast builds, pivot, orderBy — pure
    * scheduling floor at ~40-50 ms/job). The recorded creep therefore
    * lives in the shared fact join's ambient spread, not in new work:
    * no stage moves data it does not consume, and reclaiming the floor
    * would mean fusing 25-row stages — measure changes, not plan wins. */
  val p5h = Q("p5_upper_triangle_hier", Some("""
    WITH creg AS (SELECT c_custkey, r.r_name AS rc FROM customer
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region r ON n_regionkey = r_regionkey),
    sreg AS (SELECT s_suppkey, r.r_name AS rs FROM supplier
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region r ON n_regionkey = r_regionkey),
    f AS (SELECT cr.rc, sr.rs,
                 CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT) AS rev4
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN creg cr ON o.o_custkey = cr.c_custkey
          JOIN sreg sr ON l.l_suppkey = sr.s_suppkey),
    cells AS (SELECT rc, rs, CAST(SUM(rev4) AS BIGINT) AS s4, count(*) AS c
              FROM f GROUP BY 1, 2),
    hier AS (SELECT rc AS r_name,
                    row_number() OVER (ORDER BY SUM(s4) DESC, rc) AS ord
             FROM cells GROUP BY rc),
    g AS (SELECT hc.ord AS oc, cells.rc, cells.rs,
                 CASE WHEN hs.ord > hc.ord
                      THEN round(CAST(s4 AS DOUBLE) / 10000 / c, 4) END AS v
          FROM cells JOIN hier hc ON cells.rc = hc.r_name
                     JOIN hier hs ON cells.rs = hs.r_name)
    SELECT oc AS ord, rc AS region,
      max(CASE WHEN rs = 'ASIA' THEN v END) AS "ASIA",
      max(CASE WHEN rs = 'AMERICA' THEN v END) AS "AMERICA",
      max(CASE WHEN rs = 'EUROPE' THEN v END) AS "EUROPE",
      max(CASE WHEN rs = 'AFRICA' THEN v END) AS "AFRICA",
      max(CASE WHEN rs = 'MIDDLE EAST' THEN v END) AS "MIDDLE EAST"
    FROM g GROUP BY 1, 2 ORDER BY 1"""
  ))((s, d) => {
    def reg2(dim: org.apache.spark.sql.DataFrame, key: String, nk: String, out: String) =
      dim.join(Tables.nation(s, d), col(nk) === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select(col(key), col("r_name").as(out))
    val creg = reg2(Tables.customer(s, d), "c_custkey", "c_nationkey", "rc")
    val sreg = reg2(Tables.supplier(s, d), "s_suppkey", "s_nationkey", "rs")
    // ONE pass over the fact join: 25 region-pair cells carry EXACT
    // revenue sums (revenue is 4-dp fixed-point by schema, so scaling
    // to 10^-4 units makes every sum exact long arithmetic — same
    // determinism as decimal accumulation at ~17× less per-row cost,
    // the l8 trick) + counts; the hierarchy rank, the upper-triangle
    // mask and the cell means all derive from that tiny table, and the
    // exact integer totals make the data-driven ordering bit-identical
    // to the oracle's whole-fact ranking.
    val f = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(creg, col("o_custkey") === col("c_custkey")) // customer/supplier-scaled sides
      .join(sreg, col("l_suppkey") === col("s_suppkey"))
      .select(col("rc"), col("rs"),
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)").as("rev4"))
    // scope-enrolled persist: the 25-row cell table feeds THREE plan
    // subtrees (the pivot input and both broadcast copies of the rank
    // table) — without it the whole fact join re-executes per subtree.
    // coalesce(1): the table is ≤ |regions|² rows BY CONSTRUCTION (a
    // fixed taxonomy, scale-invariant), but the cached plan would
    // otherwise materialize at session shuffle width and every consumer
    // would pay a 32-task scan for 25 rows (r17 StageProfile: 3 such
    // stages; AQE cannot re-coalesce a cached plan's output
    // partitioning) — the psiDrift tiny-frame discipline.
    val cells = graft.operators.CacheScope.persist(
      f.groupBy("rc", "rs")
        .agg(sum(col("rev4")).as("s4"), count(lit(1)).as("c"))
        .coalesce(1))
    val hier = cells.groupBy(col("rc").as("r_name"))
      .agg(sum(col("s4")).as("total"))
      .select(col("r_name"),
        row_number().over(
          Window.orderBy(col("total").desc, col("r_name"))).as("ord"))
    cells
      .join(broadcast(hier.select(col("r_name").as("rc"), col("ord").as("oc"))), "rc")
      .join(broadcast(hier.select(col("r_name").as("rs"), col("ord").as("os"))), "rs")
      .withColumn("v", when(col("os") > col("oc"),
        round(col("s4").cast("double") / lit(10000) / col("c"), 4)))
      .groupBy(col("oc").as("ord"), col("rc").as("region"))
      .pivot("rs", regionOrder.map(_._1))
      .agg(max(col("v")))
      .orderBy("ord")
  })

  // -------------------------------------------------------------- L15
  /** Rastermap-ordering substitute (documented approximation, SURVEY
    * §7.3): dims of each label group ordered by their first-principal-
    * component loading — the engine's stand-in for the 3rd-party
    * embedding sort. Not SQL-expressible → gated by a committed golden
    * fixture (Q.fixtureOracle); the PCA kernel itself is golden-tested
    * in KernelSpec.
    * Ref: Cross_trial_type_within_session/...within_session.py:724-796. */
  val l15 = Q("l15_rastermap_order",
    Some(Q.fixtureOracle("l15_rastermap_order", "label, sort_rank")))((s, d) => {
    import s.implicits._
    // PC1 loadings from the per-label sufficient statistics
    // (QKernels.labelMoments) — the covariance eigenvector needs no row
    // materialization, so this scales with label COUNT only.
    QKernels.labelMoments(s, d, 16).flatMap { case (label, n, sv, m) =>
      val r = graft.kernels.LinAlg.pcaFromMoments(n,
        breeze.linalg.DenseVector(sv.toArray), QKernels.unpack(m, 16), 1)
      val loadings = (0 until 16).map(j => j -> r.coefficients(j, 0))
      loadings.sortBy { case (j, wgt) => (-wgt, j) }.zipWithIndex.iterator
        .map { case ((j, wgt), rk) =>
          (label, rk + 1, j,
            BigDecimal(wgt).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
        }
    }
      .toDF("label", "sort_rank", "dim", "pc1_weight")
      .orderBy("label", "sort_rank")
  })

  // ----------------------------------------------------------- J1-skew
  /** Segmentation under a pathological hot key: one session is made to
    * carry ~50 % of all events (the reference's dominant-session shape,
    * cross_trial_type_cca_analysis.py:1003-1008), then the session
    * dimension is joined through operators.SkewJoin.saltedInner —
    * deterministic 8-way salt on the fact side, dimension replicated
    * per salt — so the hot key becomes 8 parallel tasks instead of one
    * straggler. Salting is result-invariant: the oracle replays the
    * plain join. */
  val j1skew = Q("j1_skewed_segment", Some("""
    WITH sk AS (SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE user_id END AS sess,
                       value
                FROM events)
    SELECT c.c_nationkey, count(*) AS n_events,
           count(DISTINCT sk.sess) AS n_sessions,
           CAST(SUM(CAST(sk.value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM sk JOIN customer c ON sk.sess = c.c_custkey
    GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val sk = Tables.events(s, d).select(
      when(pmod(col("event_id"), lit(2)) === 0, lit(1L))
        .otherwise(col("user_id")).as("sess"),
      col("value"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("sess"), col("c_nationkey"))
    graft.operators.SkewJoin.saltedInner(sk, dim, Seq("sess"), factor = 8)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("sess").as("n_sessions"),
        stableSum(col("value")).as("sum_value"))
      .orderBy("c_nationkey")
  })

  val all: Seq[Q] = Seq(f4, j3, a5, l1, c3, l14, p5, p5h, l15, j1skew)
}
