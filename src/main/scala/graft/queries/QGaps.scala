package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Deterministic._

/** Remaining SURVEY §2 operator rows not yet carried by a dedicated
  * registry entry: composite filters (F2/F5/F9/F11), distinct-count
  * gates (F7), index-list sub-selection (F8/C6), both-orderings union
  * (J8), summary/report stats (A6/A10/S5), top-k mean (A13/W2),
  * custom-order sort + ordinal pair canonicalization (W4), one-sample
  * Wilcoxon (T3), flip report (T8), concentration pivot (P3/P4), and
  * the memoized parquet sink round-trip (S2/S4/S7).
  */
object QGaps {

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d).withColumn(
      "t", (unix_micros(col("ts")) / lit(1000000L)).cast("long"))

  private val evSql =
    "SELECT *, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t FROM events"

  // ----------------------------------------------- F2+F5+F9+F11 composite
  /** Label filter, validity filter, time-window mask and NaN
    * normalization in one pass.
    * Ref: Matlab_part/segment_mdl_to_trials.m:138-163 (F2),
    * perform_region_analysis.m:37-40 (F5),
    * cross_trial_type_cca_analysis.py:744-745 (F9), :678-683 (F11). */
  val fComposite = Q("f_composite_validity", Some(s"""
    WITH e AS ($evSql), b AS (SELECT min(t) AS mn, max(t) AS mx FROM e),
    f AS (
      SELECT e.event_type, e.user_id,
             CASE WHEN e.value < 5 THEN 'NaN'::DOUBLE ELSE e.value END AS v
      FROM e, b
      WHERE e.event_type = 'click' AND e.user_id IS NOT NULL
        AND e.t >= b.mn + 600 AND e.t <= b.mx - 600)
    SELECT user_id % 10 AS user_bucket, count(*) AS n,
           CAST(sum(CASE WHEN isnan(v) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
           round(sum(CASE WHEN isnan(v) THEN 0.0 ELSE v END), 4) AS sum_clean
    FROM f GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val e = ev(s, d)
    val b = e.agg(min("t").as("mn"), max("t").as("mx"))
    e.crossJoin(broadcast(b))
      .filter(col("event_type") === "click" && col("user_id").isNotNull &&
        col("t") >= col("mn") + 600 && col("t") <= col("mx") - 600)
      .withColumn("v", when(col("value") < 5, lit(Double.NaN)).otherwise(col("value")))
      .groupBy(pmod(col("user_id"), lit(10)).as("user_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(isnan(col("v")), 1L).otherwise(0L)).as("n_nan"),
        round(sum(when(isnan(col("v")), 0.0).otherwise(col("v"))), 4).as("sum_clean"))
      .orderBy("user_bucket")
  })

  // --------------------------------------------------------------- F7
  /** Min-distinct-count gate: keep customers observed with >= 3 distinct
    * order priorities, then aggregate the survivors.
    * Ref: cross_trial_type_cca_analysis.py:93-94,1013-1015. */
  val f7 = Q("f7_min_groups_gate", Some("""
    WITH g AS (SELECT o_custkey FROM orders GROUP BY 1
               HAVING count(DISTINCT o_orderpriority) >= 3)
    SELECT count(*) AS n_custs,
           (SELECT count(*) FROM orders o JOIN g ON o.o_custkey = g.o_custkey) AS n_orders
    FROM g"""
  ))((s, d) => {
    // ONE orders scan, no join: the oracle's "orders joining the gate"
    // count is, per gate customer, that customer's own order count —
    // so carrying count(*) through the gate aggregate and summing it
    // over survivors is value-identical to the semi-join (and to the
    // r5 form's eager .count(), which ran a separate job and embedded
    // its result as a literal, scanning orders twice).
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(countDistinct("o_orderpriority").as("np"), count(lit(1)).as("cnt"))
      .filter(col("np") >= 3)
      .agg(count(lit(1)).as("n_custs"), sum("cnt").as("n_orders"))
  })

  // ----------------------------------------------------------- F8/C6
  /** Sub-selection by index list with 1-based→0-based shift: the
    * selection table carries 1-based indices; shift at join time.
    * Ref: cross_trial_type_cca_analysis.py:430-433; perform_session_cca.m:101-104. */
  val f8 = Q("f8_index_subselect", Some("""
    WITH sel AS (SELECT p_partkey + 1 AS idx1 FROM part WHERE p_partkey % 7 = 0)
    SELECT count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
    FROM part p JOIN sel ON p.p_partkey = sel.idx1 - 1"""
  ))((s, d) => {
    val p = Tables.part(s, d)
    val sel = p.filter(pmod(col("p_partkey"), lit(7)) === 0)
      .select((col("p_partkey") + 1).as("idx1"))
    p.join(sel, col("p_partkey") === col("idx1") - 1, "left_semi")
      .agg(count(lit(1)).as("n"), round(avg("p_retailprice"), 4).as("avg_price"))
  })

  // --------------------------------------------------------------- J8
  /** Both-orderings union lookup: per unordered nation pair, merge the
    * (i,j) and (j,i) directed flows before aggregating.
    * Ref: Single_trial_level/CCA_test_all.py:508-519. */
  val j8 = Q("j8_both_orderings_union", Some("""
    WITH f AS (
      SELECT c.c_nationkey AS ck, s.s_nationkey AS sk,
             l.l_extendedprice * (1 - l.l_discount) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey < 6 AND s.s_nationkey < 6 AND c.c_nationkey <> s.s_nationkey),
    u AS (
      SELECT least(ck, sk) AS a, greatest(ck, sk) AS b, rev FROM f)
    SELECT a, b, count(*) AS n,
           CAST(SUM(CAST(rev AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM u GROUP BY 1, 2 ORDER BY 1, 2"""
  ))((s, d) => {
    val f = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") < 6 && col("s_nationkey") < 6 &&
        col("c_nationkey") =!= col("s_nationkey"))
      .select(col("c_nationkey").as("ck"), col("s_nationkey").as("sk"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    // ck ≠ sk is already enforced, so routing each row to its canonical
    // (least, greatest) pair is exactly the two-branch union — in ONE pass
    // over the 4-table join lineage (Catalyst does not CSE across union
    // branches, so the old shape executed the join twice).
    val u = f.select(least(col("ck"), col("sk")).as("a"),
      greatest(col("ck"), col("sk")).as("b"), col("rev"))
    u.groupBy("a", "b")
      .agg(count(lit(1)).as("n"), stableSum(col("rev")).as("revenue"))
      .orderBy("a", "b")
  })

  // ------------------------------------------------------- A6/A10/S5
  /** Summary stats + text-report sink: `mean ± std (range min–max)`
    * formatted line per group — the engine-side rendering of the
    * reference's text summaries (decimal-cast formatting keeps the
    * string identical across engines).
    * Ref: oxford_GLM_CCA_coefficients_extract.m:509-557 (A6),
    * save_session_results.m:31-42 (A10), :111+ (S5). */
  val a6 = Q("a6_summary_report", Some("""
    WITH s AS (
      SELECT n_name,
             CAST(round(CAST(SUM(CAST(c_acctbal * 100 AS DECIMAL(28,0))) AS DOUBLE) / count(*)) / 100 AS DECIMAL(18,2)) AS m,
             CAST(round(sqrt((CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                              - CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                                * CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(*))
                             / (count(*) - 1)), 2) AS DECIMAL(18,2)) AS sd,
             CAST(round(min(c_acctbal), 2) AS DECIMAL(18,2)) AS mn,
             CAST(round(max(c_acctbal), 2) AS DECIMAL(18,2)) AS mx,
             count(*) AS n
      FROM customer c JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
    SELECT n_name, n, CAST(m AS DOUBLE) AS mean_bal,
           n_name || ': ' || m::VARCHAR || ' +/- ' || sd::VARCHAR ||
             ' (range ' || mn::VARCHAR || ' to ' || mx::VARCHAR || ')' AS report_line
    FROM s ORDER BY 1"""
  ))((s, d) => {
    // Mean and stddev derive from exact decimal sums (Σx, Σx²) so both
    // engines see the SAME double. The mean additionally rounds in
    // integer-cent space: 2-dp means often land exactly on .xx5, where
    // Spark's round (via the double's shortest decimal string) and
    // DuckDB's (via the binary value) disagree; a cents quotient is
    // either an exact .5 (both round up) or ≥ 1/(2n) from the boundary.
    val sx = stableSum(col("c_acctbal"))
    val sxx = stableSum(col("c_acctbal") * col("c_acctbal"))
    val sxCents = stableSum(col("c_acctbal") * 100, 0)
    val n = count(lit(1))
    val st = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        (round(sxCents / n) / 100).cast("decimal(18,2)").as("m"),
        round(sqrt((sxx - sx * sx / n) / (n - lit(1))), 2).cast("decimal(18,2)").as("sd"),
        round(min("c_acctbal"), 2).cast("decimal(18,2)").as("mn"),
        round(max("c_acctbal"), 2).cast("decimal(18,2)").as("mx"),
        n.as("n"))
    st.select(col("n_name"), col("n"), col("m").cast("double").as("mean_bal"),
      concat(col("n_name"), lit(": "), col("m").cast("string"), lit(" +/- "),
        col("sd").cast("string"), lit(" (range "), col("mn").cast("string"),
        lit(" to "), col("mx").cast("string"), lit(")")).as("report_line"))
      .orderBy("n_name")
  })

  // ----------------------------------------------------------- A13/W2
  /** Top-k mean: rank within group, mean of the top 3 (communication-
    * capacity metric shape). Bounded-state top-k aggregate
    * (`graft_top_k`, O(k) state per group with map-side combine)
    * rather than a `row_number` window — the window form sorts each
    * return-flag partition (size ∝ corpus) on a single task. It ranks
    * struct(−price, orderkey, linenumber) ascending, the window's order;
    * the mean folds `a − nv` left-to-right (negation is exact), the same
    * summation order both engines' windowed formulation produces (window
    * output is rank-ascending); the fold is an interpreted HOF but runs
    * on 3 groups × 3 elements.
    * Ref: History/.../Dimensionality_communication_analysis.py:265-295. */
  val a13 = Q("a13_topk_mean", Some("""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
      FROM lineitem)
    SELECT l_returnflag, round(avg(l_extendedprice), 4) AS top3_mean,
           round(max(l_extendedprice), 4) AS max_val
    FROM r WHERE rk <= 3 GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(call_function("graft_top_k", struct(negate(col("l_extendedprice")).as("nv"),
        col("l_orderkey"), col("l_linenumber")), lit(3)).as("top"))
      .select(col("l_returnflag"),
        round(expr("aggregate(top, 0D, (a, x) -> a - x.nv) / size(top)"), 4)
          .as("top3_mean"),
        round(negate(expr("top[0].nv")), 4).as("max_val"))
      .orderBy("l_returnflag")
  })

  // --------------------------------------------------------------- W4
  /** Custom-order sort + ordinal pair canonicalization: an explicit
    * anatomical-style ordering table drives both the sort and the
    * (least,greatest)-by-ordinal pair key.
    * Ref: cross_trial_type_cca_analysis.py:167-205;
    * oxford_GLM_CCA_coefficients_extract.m:378-399. */
  val w4 = Q("w4_custom_order_sort", Some("""
    WITH ord(r_name, ord) AS (VALUES
      ('ASIA', 1), ('AMERICA', 2), ('EUROPE', 3), ('AFRICA', 4), ('MIDDLE EAST', 5)),
    rr AS (SELECT r.r_name, o.ord, count(*) AS n_nations
           FROM region r JOIN ord o ON r.r_name = o.r_name
           JOIN nation n ON r.r_regionkey = n.n_regionkey GROUP BY 1, 2),
    p AS (SELECT a.r_name AS ra, b.r_name AS rb, a.ord AS oa, b.ord AS ob,
                 a.n_nations * b.n_nations AS weight
          FROM rr a JOIN rr b ON a.ord < b.ord)
    SELECT least(oa, ob) AS ord_a, greatest(oa, ob) AS ord_b,
           ra || '~' || rb AS pair, weight
    FROM p ORDER BY 1, 2"""
  ))((s, d) => {
    val ordDf = s.createDataFrame(Seq(
      ("ASIA", 1), ("AMERICA", 2), ("EUROPE", 3), ("AFRICA", 4), ("MIDDLE EAST", 5)))
      .toDF("r_name", "ord")
    val rr = Tables.region(s, d)
      .join(broadcast(ordDf), "r_name")
      .join(Tables.nation(s, d), col("r_regionkey") === col("n_regionkey"))
      .groupBy("r_name", "ord").agg(count(lit(1)).as("n_nations"))
    val a = rr.select(col("r_name").as("ra"), col("ord").as("oa"), col("n_nations").as("na"))
    val b = rr.select(col("r_name").as("rb"), col("ord").as("ob"), col("n_nations").as("nb"))
    a.join(b, col("oa") < col("ob"))
      .select(least(col("oa"), col("ob")).as("ord_a"),
        greatest(col("oa"), col("ob")).as("ord_b"),
        concat(col("ra"), lit("~"), col("rb")).as("pair"),
        (col("na") * col("nb")).as("weight"))
      .orderBy("ord_a", "ord_b")
  })

  // --------------------------------------------------------------- T3
  /** One-sample Wilcoxon signed-rank vs a constant (normal
    * approximation, average-rank ties) through the reusable
    * WilcoxonSignedRank Aggregator — ranks inside a hash aggregate, no
    * global rank window (SURVEY §7.4.1; all rank sums are dyadic
    * rationals, so both engines agree bit-exactly).
    * Ref: cross_trial_type_cca_analysis.py:1356-1400. */
  val t3 = Q("t3_wilcoxon_one_sample", Some("""
    WITH x AS (
      SELECT n_name, avg(c_acctbal) AS v FROM customer
      JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
    dd AS (SELECT n_name, v - 4500.0 AS diff, abs(v - 4500.0) AS ad FROM x
           WHERE v <> 4500.0),
    rk AS (SELECT diff,
                  rank() OVER (ORDER BY ad)
                    + (count(*) OVER (PARTITION BY ad) - 1) / 2.0 AS r
           FROM dd),
    w AS (SELECT count(*) AS n,
                 sum(CASE WHEN diff > 0 THEN r ELSE 0 END) AS w_plus FROM rk)
    SELECT n, round(w_plus, 2) AS w_plus,
           round((w_plus - n * (n + 1) / 4.0) /
                 sqrt(n * (n + 1) * (2 * n + 1) / 24.0), 6) AS z
    FROM w"""
  ))((s, d) => {
    val x = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(avg("c_acctbal").as("v"))
    val wsr = udaf(graft.functions.WilcoxonSignedRank,
      org.apache.spark.sql.Encoders.scalaDouble)
    x.select((col("v") - 4500.0).as("diff"))
      .agg(wsr(col("diff")).as("w"))
      .select(col("w.n_eff").as("n"),
        round(col("w.w_plus"), 2).as("w_plus"),
        round(col("w.z"), 6).as("z"))
  })

  // --------------------------------------------------------------- T8
  /** Flip detection & report: per event_type, correlation of value with
    * time; `flipped` iff r < -0.5; report line (S5-style).
    * Ref: cross_trial_type_cca_analysis.py:2996-3129. */
  /** r from exact Pearson moments (the j10 boundary class, retired
    * r16): corr()'s double accumulation is order-dependent in both
    * engines. t is integer epoch seconds, so Σt and Σt² ride scale-0
    * decimals — exact integers with 10^28 headroom (t² ≈ 3·10^18/term
    * would overflow both a long sum and the scale-6 decimal at corpus
    * group sizes); the value legs ride the standard 6-dp stable sum. */
  private def pearsonMomentsSql(yExpr: String, tExpr: String): String =
    s"""count(*) AS n,
        ${stableSumSql(yExpr)} AS sx,
        ${stableSumSql(tExpr, 0)} AS sy,
        ${stableSumSql(s"$yExpr * $tExpr")} AS sxy,
        ${stableSumSql(yExpr + " * " + yExpr)} AS sxx,
        ${stableSumSql(s"$tExpr * $tExpr", 0)} AS syy"""
  private val pearsonRSql =
    "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))"
  private def pearsonMoments = {
    val n = count(lit(1))
    (n,
      stableSum(col("value")), stableSum(col("t"), 0),
      stableSum(col("value") * col("t")),
      stableSum(col("value") * col("value")),
      stableSum(col("t") * col("t"), 0))
  }
  private def pearsonR = {
    val (n, sx, sy, sxy, sxx, syy) = pearsonMoments
    ((n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), n)
  }

  val t8 = Q("t8_flip_report", Some(s"""
    WITH e AS ($evSql),
    m AS (SELECT event_type, ${pearsonMomentsSql("value", "t")} FROM e GROUP BY 1),
    c AS (SELECT event_type, round($pearsonRSql, 6) AS r, n FROM m)
    SELECT event_type, r, n,
           CASE WHEN r < -0.5 THEN 'FLIPPED' ELSE 'ok' END AS status
    FROM c ORDER BY 1"""
  ))((s, d) => {
    val (rr, n) = pearsonR
    ev(s, d).groupBy("event_type")
      .agg(round(rr, 6).as("r"), n.as("n"))
      .withColumn("status", when(col("r") < -0.5, "FLIPPED").otherwise("ok"))
      .select("event_type", "r", "n", "status")
      .orderBy("event_type")
  })

  // ------------------------------------------------------- T8 (grouped)
  /** Grouped text rendering of the flip report: one line per event type
    * rendered as `type(r=…)`, aggregated into a single report string per
    * status — the engine form of the reference's grouped console report.
    * The r value is rendered through DECIMAL(9,6) so both engines print
    * the identical fixed-point string (double→string would diverge on
    * E-notation), and lines are sorted lexicographically on BOTH sides.
    * Ref: cross_trial_type_cca_analysis.py:2996-3129. */
  val t8g = Q("t8_flip_report_grouped", Some(s"""
    WITH e AS ($evSql),
    m AS (SELECT event_type, ${pearsonMomentsSql("value", "t")} FROM e GROUP BY 1),
    c AS (SELECT event_type, round($pearsonRSql, 6) AS r, n FROM m),
    s AS (SELECT event_type,
                 event_type || '(r=' || CAST(CAST(r AS DECIMAL(9,6)) AS VARCHAR) || ')' AS line,
                 CASE WHEN r < -0.5 THEN 'FLIPPED' ELSE 'ok' END AS status,
                 n
          FROM c)
    SELECT status, count(*) AS n_types, CAST(SUM(n) AS BIGINT) AS n_events,
           string_agg(line, '; ' ORDER BY line) AS report
    FROM s GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val (rr, n) = pearsonR
    ev(s, d).groupBy("event_type")
      .agg(round(rr, 6).as("r"), n.as("n"))
      .select(col("event_type"),
        concat(col("event_type"), lit("(r="),
          col("r").cast("decimal(9,6)").cast("string"), lit(")")).as("line"),
        when(col("r") < -0.5, "FLIPPED").otherwise("ok").as("status"),
        col("n"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_types"), sum("n").as("n_events"),
        array_join(array_sort(collect_list(col("line"))), "; ").as("report"))
      .orderBy("status")
  })

  // ------------------------------------------------------------ P3/P4
  /** Concentration pivot: condition-state pivot (low vs high discount)
    * per group, then the concentration difference C = v_low − v_high.
    * Ref: Matlab_part/Oxford_GLM_summary.m:124-257 (P3), :336-511 (P4). */
  val p4 = Q("p4_concentration_pivot", Some("""
    SELECT l_returnflag,
           round(avg(CASE WHEN l_discount < 0.05 THEN l_extendedprice END), 4) AS v_low,
           round(avg(CASE WHEN l_discount >= 0.05 THEN l_extendedprice END), 4) AS v_high,
           round(avg(CASE WHEN l_discount < 0.05 THEN l_extendedprice END)
               - avg(CASE WHEN l_discount >= 0.05 THEN l_extendedprice END), 4) AS concentration
    FROM lineitem GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(avg(when(col("l_discount") < 0.05, col("l_extendedprice"))), 4).as("v_low"),
        round(avg(when(col("l_discount") >= 0.05, col("l_extendedprice"))), 4).as("v_high"),
        round(avg(when(col("l_discount") < 0.05, col("l_extendedprice"))) -
          avg(when(col("l_discount") >= 0.05, col("l_extendedprice"))), 4).as("concentration"))
      .orderBy("l_returnflag"))

  // ------------------------------------------------------- S2/S4/S7
  /** Memoized parquet sink round-trip: stage output written once
    * (skip-if-exists memo), then read back as a source — the engine's
    * form of the reference's result cache.
    * Ref: single_session_oxford_CCA_mdl.m:107-170 (S7), :290-321 (S4). */
  val s4s7 = Q("s4_sink_memo_roundtrip", Some("""
    SELECT o_orderpriority, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM orders GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val memoDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_memo",
      Integer.toHexString(d.hashCode), "orders_by_priority")
    val agg = Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        stableSum(col("o_totalprice")).as("total"))
    // skip-if-exists through the Hadoop FS API — the gate keeps working
    // when the memo dir is an hdfs:// / s3a:// URI (see StoreFs)
    if (!graft.operators.StoreFs.datasetComplete(s, memoDir.toString))
      agg.write.mode("overwrite").parquet(memoDir.toString)
    s.read.parquet(memoDir.toString).orderBy("o_orderpriority")
  })

  // ------------------------------------------------------------ S5/S6
  /** PHYSICAL file sinks: the per-nation report is written as a real
    * JSON dataset (`df.write.json`) and a real text file
    * (`df.write.text`), then both are READ BACK as sources and re-joined
    * — the engine-side twin of the reference's .txt/.json report writers,
    * verified end-to-end through the filesystem like s4's parquet memo.
    * Ref: oxford_GLM_CCA_coefficients_extract.m:488-565 (text report),
    * cross_trial_type_cca_analysis_within_session.py:1326-1348 (json). */
  val s5s6 = Q("s5_file_sinks_roundtrip", Some("""
    WITH s AS (
      SELECT n_name, count(*) AS n,
             CAST(round(CAST(SUM(CAST(c_acctbal * 100 AS DECIMAL(28,0))) AS DOUBLE) / count(*)) / 100 AS DECIMAL(18,2)) AS m
      FROM customer c JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
    SELECT n_name, n, CAST(m AS DOUBLE) AS mean_bal,
           n_name || ': n=' || n::VARCHAR || ' mean=' || m::VARCHAR AS report_line
    FROM s ORDER BY 1"""
  ))((s, d) => {
    val sinkDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_file_sinks",
      Integer.toHexString(d.hashCode))
    // integer-cent mean (same boundary-safe rounding as a6)
    val base = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        (round(stableSum(col("c_acctbal") * 100, 0) / count(lit(1))) / 100)
          .cast("decimal(18,2)").as("m"))
    // S6: JSON sink (one dataset, machine-readable)
    base.select(col("n_name"), col("n"), col("m").cast("double").as("mean_bal"))
      .coalesce(1)
      .write.mode("overwrite").json(sinkDir.resolve("report_json").toString)
    // S5: text sink (human-readable report lines)
    base.select(concat(col("n_name"), lit(": n="), col("n").cast("string"),
        lit(" mean="), col("m").cast("string")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(sinkDir.resolve("report_txt").toString)
    // read BOTH back as sources and re-join — proves the files are real
    val j = s.read.json(sinkDir.resolve("report_json").toString)
      .select(col("n_name"), col("n"), col("mean_bal"))
    val t = s.read.text(sinkDir.resolve("report_txt").toString)
      .select(split(col("value"), ":").getItem(0).as("n_name"),
        col("value").as("report_line"))
    j.join(t, "n_name")
      .select(col("n_name"), col("n"), col("mean_bal"), col("report_line"))
      .orderBy("n_name")
  })

  val all: Seq[Q] = Seq(fComposite, f7, f8, j8, a6, a13, w4, t3, t8, t8g, p4, s4s7, s5s6)
}
