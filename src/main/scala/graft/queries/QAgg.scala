package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Deterministic._

/** Aggregations (A1–A14), scalar functions (C1–C8), pivots (P1/P2) —
  * SURVEY §2.4, §2.7, §2.10.
  */
object QAgg {

  // ------------------------------------------------------------ A1/A2
  /** PSTH-style trial-averaged aggregation: mean/std/count per group —
    * partial+final hash aggregation, map-side combine for free.
    * Ref: Matlab_part/save_session_results.m:87-106 (headline query:
    * the TPC-H Q1-shaped pricing summary). */
  /** std_qty runs on exact decimal first/second moments (the j10
    * boundary class, retired across the registry in r16): stddev()'s
    * double accumulation is order-dependent in both engines, while
    * Σq and Σq² over 2-dp decimals are exact — both engines round the
    * identical IEEE double. */
  val a1 = Q("a1_group_summary", Some(s"""
    WITH m AS (
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc,
        round(avg(l_quantity), 4) AS avg_qty,
        ${stableSumSql("l_quantity * l_quantity")} AS sqq,
        count(*) AS n
      FROM lineitem GROUP BY 1, 2)
    SELECT l_returnflag, l_linestatus, sum_qty, sum_base, sum_disc, avg_qty,
      round(CASE WHEN n > 1 THEN sqrt(greatest((sqq - sum_qty * sum_qty / n) / (n - 1), 0.0)) END, 4) AS std_qty,
      n
    FROM m ORDER BY 1, 2"""), headline = true
  )((s, d) => {
    val sq = stableSum(col("l_quantity"))
    val sqq = stableSum(col("l_quantity") * col("l_quantity"))
    val n = count(lit(1))
    val nD = n.cast("double")
    Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
      sq.as("sum_qty"),
      stableSum(col("l_extendedprice")).as("sum_base"),
      stableSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc"),
      round(avg("l_quantity"), 4).as("avg_qty"),
      round(when(n > 1,
        sqrt(greatest((sqq - sq * sq / nD) / (nD - lit(1.0)), lit(0.0)))), 4).as("std_qty"),
      n.as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  })

  // ------------------------------------------------------------ A3/A4
  /** Two-level roll-up with SEM: per-entity means, then cross-entity
    * mean/std/SEM — mirrors trial→session→population aggregation.
    * Ref: cross_trial_type_cca_analysis.py:1013-1164. */
  /** Both aggregation levels run on the exact decimal sum (j10 boundary
    * class, closed round 16): a per-user or per-type double mean whose
    * 4-dp rounding lands on a .xxxx5 boundary flips sides between the
    * engines' accumulation orders at SOME scale factor. Level-1 means,
    * the level-2 mean, and the std/SEM (via stable first/second moments
    * — identical decimal sums ⇒ identical IEEE doubles ⇒ identical
    * rounding) are all order-invariant now. */
  val a4 = Q("a4_two_level_rollup", Some(s"""
    WITH l1 AS (
      SELECT user_id, event_type,
             ${stableSumSql("value")} / count(value) AS uavg,
             count(*) AS nu
      FROM events GROUP BY 1, 2),
    l2 AS (
      SELECT event_type,
             ${stableSumSql("uavg", 10)} AS sx,
             ${stableSumSql("uavg * uavg", 10)} AS sxx,
             count(*) AS n,
             CAST(SUM(nu) AS BIGINT) AS n_rows
      FROM l1 GROUP BY 1)
    SELECT event_type,
      round(sx / n, 4) AS mean_val,
      round(CASE WHEN n > 1 THEN sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) END, 4) AS std_val,
      round(CASE WHEN n > 1 THEN sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) / sqrt(n) END, 4) AS sem_val,
      n AS n_users,
      n_rows
    FROM l2 ORDER BY 1"""
  ))((s, d) => {
    val l1 = Tables.events(s, d).groupBy("user_id", "event_type")
      .agg((stableSum(col("value")) / count(col("value"))).as("uavg"),
        count(lit(1)).as("nu"))
    val sx = stableSum(col("uavg"), 10)
    val sxx = stableSum(col("uavg") * col("uavg"), 10)
    val n = count(lit(1)).cast("double")
    val std = sqrt(greatest((sxx - sx * sx / n) / (n - lit(1.0)), lit(0.0)))
    l1.groupBy("event_type").agg(
      round(sx / n, 4).as("mean_val"),
      round(when(n > 1, std), 4).as("std_val"),
      round(when(n > 1, std / sqrt(n)), 4).as("sem_val"),
      count(lit(1)).as("n_users"),
      sum("nu").cast("long").as("n_rows"))
      .orderBy("event_type")
  })

  // ------------------------------------------------------------ A7/A8
  /** Peak amplitude max(|x|) and signed peak (value at argmax|x|,
    * deterministic tie-break). One-pass `max_by` over the total order
    * (|v| DESC, event_id ASC) — O(1) state per group with map-side
    * combine; the previous window-rank form sorted each event-type
    * partition (size ∝ corpus) on one task. Selection only, no
    * accumulation, so the result is value-exact by construction.
    * Ref: cross_trial_type_cca_analysis.py:744-767, 1071-1096. */
  val a7 = Q("a7_signed_peak", Some("""
    WITH r AS (
      SELECT event_type, value, abs(value) AS av,
             row_number() OVER (PARTITION BY event_type
               ORDER BY abs(value) DESC, event_id) AS rn
      FROM events)
    SELECT event_type, max(av) AS peak_abs,
           max(CASE WHEN rn = 1 THEN value END) AS signed_peak
    FROM r GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    Tables.events(s, d)
      .select(col("event_type"), col("value"), abs(col("value")).as("av"),
        (-col("event_id").cast("long")).as("neg_id"))
      .groupBy("event_type")
      .agg(max("av").as("peak_abs"),
        max_by(col("value"), struct(col("av"), col("neg_id"))).as("signed_peak"))
      .orderBy("event_type")
  })

  // ---------------------------------------------------------------- A9
  /** Cumulative sum (cumulative explained-variance analog); DECIMAL
    * accumulation makes the running sum order-independent-exact.
    * Ref: Matlab_part/perform_region_pca.m:204. */
  val a9 = Q("a9_cumulative_sum", Some("""
    SELECT p_brand, p_partkey,
      CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) OVER (
        PARTITION BY p_brand ORDER BY p_partkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_price
    FROM part ORDER BY p_brand, p_partkey"""
  ))((s, d) =>
    Tables.part(s, d).select(col("p_brand"), col("p_partkey"),
      decimalSum(col("p_retailprice"), 18, 2)
        .over(Window.partitionBy("p_brand").orderBy("p_partkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("cum_price"))
      .orderBy("p_brand", "p_partkey"))

  // -------------------------------------------------------- A11 / P2
  /** Threshold-availability sweep: thresholds × groups count matrix.
    * Ref: Matlab_part/analyze_neuron_count_thresholds.m:40-60. */
  val a11 = Q("a11_threshold_sweep", Some("""
    WITH nc AS (
      SELECT n.n_regionkey, n.n_nationkey, count(c.c_custkey) AS n_cust
      FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    thr AS (SELECT * FROM (VALUES (1), (2), (3), (5), (8)) v(threshold))
    SELECT r.r_name, thr.threshold,
           CAST(SUM(CASE WHEN nc.n_cust >= thr.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_qualifying
    FROM nc JOIN region r ON nc.n_regionkey = r.r_regionkey CROSS JOIN thr
    GROUP BY 1, 2 ORDER BY 1, 2"""
  ))((s, d) => {
    val nc = Tables.nation(s, d).join(Tables.customer(s, d),
        col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy("n_regionkey", "n_nationkey")
      .agg(count(col("c_custkey")).as("n_cust"))
    val thr = s.createDataFrame(Seq(1, 2, 3, 5, 8).map(Tuple1(_)))
      .toDF("threshold")
    nc.join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .crossJoin(broadcast(thr))
      .groupBy("r_name", "threshold")
      .agg(sum(when(col("n_cust") >= col("threshold"), 1L).otherwise(0L)).as("n_qualifying"))
      .orderBy("r_name", "threshold")
  })

  // --------------------------------------------------------------- A12
  /** Effective dimensionality: participation ratio, entropy dim, d90.
    * Ref: History/.../Dimensionality_communication_analysis.py:85-151. */
  val a12 = Q("a12_effective_dim", Some("""
    WITH lam AS (
      SELECT p_brand, p_partkey, p_retailprice AS l,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) OVER (
          PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) OVER (
          PARTITION BY p_brand) AS DOUBLE) AS tot,
        row_number() OVER (PARTITION BY p_brand
          ORDER BY p_retailprice DESC, p_partkey) AS k
      FROM part)
    SELECT p_brand,
      round(pow(max(tot), 2) / sum(l * l), 4) AS participation_ratio,
      round(exp(-SUM((l / tot) * ln(l / tot))), 4) AS entropy_dim,
      min(CASE WHEN cum / tot >= 0.9 THEN k END) AS d90,
      count(*) AS n
    FROM lam GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val wOrd = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey"))
    val lam = Tables.part(s, d).select(
      col("p_brand"), col("p_partkey"), col("p_retailprice").as("l"),
      decimalSum(col("p_retailprice"), 18, 2)
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("cum"),
      decimalSum(col("p_retailprice"), 18, 2)
        .over(Window.partitionBy("p_brand")).cast("double").as("tot"),
      row_number().over(wOrd).as("k"))
    lam.groupBy("p_brand").agg(
      round(pow(max("tot"), 2) / sum(col("l") * col("l")), 4).as("participation_ratio"),
      round(exp(-sum((col("l") / col("tot")) * log(col("l") / col("tot")))), 4).as("entropy_dim"),
      min(when(col("cum") / col("tot") >= 0.9, col("k"))).as("d90"),
      count(lit(1)).as("n"))
      .orderBy("p_brand")
  })

  // --------------------------------------------------------------- C1
  /** String key compose/split/regex-normalize.
    * Ref: Matlab_part/oxford_GLM_CCA_coefficients_extract.m:138,177-185. */
  val c1 = Q("c1_string_keys", Some("""
    SELECT p_partkey,
      p_brand || '_' || replace(p_type, ' ', '_') AS type_key,
      string_split(p_name, ' ')[1] AS name_head,
      regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
      regexp_extract(p_brand, '#(\d+)', 1) AS brand_num
    FROM part ORDER BY p_partkey"""
  ))((s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      concat(col("p_brand"), lit("_"), regexp_replace(col("p_type"), " ", "_")).as("type_key"),
      split(col("p_name"), " ").getItem(0).as("name_head"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
      regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"))
      .orderBy("p_partkey"))

  // --------------------------------------------------------------- C4
  /** Unit-conversion heuristic: scale a column ×50 iff the group max
    * suggests it is in the wrong unit.
    * Ref: Matlab_part/segment_mdl_to_trials.m:181-188. */
  val c4 = Q("c4_unit_heuristic", Some("""
    WITH m AS (SELECT event_type, max(value) AS mx FROM events GROUP BY 1)
    SELECT e.event_id,
      CAST(CASE WHEN m.mx < 200 THEN round(e.value * 50) ELSE round(e.value) END AS BIGINT) AS value_bins
    FROM events e JOIN m ON e.event_type = m.event_type
    ORDER BY e.event_id"""
  ))((s, d) => {
    val e = Tables.events(s, d)
    val m = e.groupBy("event_type").agg(max("value").as("mx"))
    e.join(broadcast(m), "event_type")
      .select(col("event_id"),
        when(col("mx") < 200, round(col("value") * 50)).otherwise(round(col("value")))
          .cast("long").as("value_bins"))
      .orderBy("event_id")
  })

  // --------------------------------------------------------------- C5
  /** Time-axis synthesis: linspace(-1.5, 3.0, 226) as a generated
    * relation. Ref: Matlab_part/segment_mdl_to_trials.m:248. */
  val c5 = Q("c5_time_axis", Some("""
    SELECT CAST(b AS INTEGER) AS rel_bin, round(-1.5 + b * (4.5 / 225.0), 6) AS t_sec
    FROM range(0, 226) r(b) ORDER BY 1"""
  ))((s, d) =>
    s.range(0, 226).select(
      col("id").cast("int").as("rel_bin"),
      round(lit(-1.5) + col("id") * (lit(4.5) / lit(225.0)), 6).as("t_sec"))
      .orderBy("rel_bin"))

  // --------------------------------------------------------------- C7
  /** Significance-star labeling (chained CASE).
    * Ref: Matlab_part/Oxford_GLM_summary.m:932-961. */
  val c7 = Q("c7_significance_stars", Some("""
    SELECT CASE WHEN l_discount < 0.001 THEN '***'
                WHEN l_discount < 0.01 THEN '**'
                WHEN l_discount < 0.05 THEN '*'
                ELSE 'ns' END AS stars, count(*) AS n
    FROM lineitem GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    Tables.lineitem(s, d).select(
      when(col("l_discount") < 0.001, "***")
        .when(col("l_discount") < 0.01, "**")
        .when(col("l_discount") < 0.05, "*")
        .otherwise("ns").as("stars"))
      .groupBy("stars").agg(count(lit(1)).as("n"))
      .orderBy("stars"))

  // --------------------------------------------------------------- C8
  /** NaN/Inf audit (data-quality flags per group); NaN injected via a
    * predicate to exercise isnan semantics.
    * Ref: Matlab_part/segment_mdl_to_trials.m:259-272. */
  val c8 = Q("c8_nan_audit", Some(s"""
    WITH x AS (
      SELECT event_type,
             CASE WHEN value < 1.0 THEN 'NaN'::DOUBLE ELSE value END AS v
      FROM events)
    SELECT event_type,
      CAST(SUM(CASE WHEN isnan(v) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
      count(*) AS n,
      round(${stableSumSql("CASE WHEN NOT isnan(v) THEN v END")}
            / count(CASE WHEN NOT isnan(v) THEN v END), 4) AS avg_clean
    FROM x GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        when(col("value") < 1.0, lit(Double.NaN)).otherwise(col("value")).as("v"))
      .groupBy("event_type")
      // clean mean via the exact decimal sum (j10 boundary class): the
      // NaN rows are already NULL under the CASE, and DECIMAL cast of
      // the surviving finite doubles is engine-exact
      .agg(sum(when(isnan(col("v")), 1L).otherwise(0L)).as("n_nan"),
        count(lit(1)).as("n"),
        round(stableSum(when(!isnan(col("v")), col("v")))
          / count(when(!isnan(col("v")), col("v"))), 4).as("avg_clean"))
      .orderBy("event_type"))

  // ------------------------------------------------------------- JSON
  /** JSON field extraction (S6 sink counterpart — map-typed access).
    * Ref: cross_trial_type_cca_analysis_within_session.py:1326-1348. */
  val json = Q("s6_json_extract", Some("""
    SELECT event_type,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      count(*) AS n
    FROM events GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum("k").cast("long").as("sum_k"), count(lit(1)).as("n"))
      .orderBy("event_type"))

  // ---------------------------------------------------------------- P1
  /** Region×region matrix pivot (connectivity-matrix analog).
    * Ref: Single_trial_level/CCA_test_all.py:481-541. */
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private def mcol(r: String) = "m_" + r.replace(" ", "_")
  val p1 = Q("p1_matrix_pivot", Some {
    val cases = regions.map(r =>
      s"round(CAST(SUM(CASE WHEN sr.r_name = '$r' THEN CAST(l.l_extendedprice AS DECIMAL(28,6)) END) AS DOUBLE), 4) AS ${mcol(r)}")
      .mkString(",\n      ")
    s"""
    SELECT cr.r_name AS region_c,
      $cases
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    GROUP BY 1 ORDER BY 1"""
  })((s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val cTax = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name").as("region_c"))
    val sTax = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("r_name").as("region_s"))
    val base = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(cTax, o("o_custkey") === cTax("c_custkey")) // cTax/sTax are customer/supplier-scaled
      .join(sTax, li("l_suppkey") === sTax("s_suppkey"))
    val aggs = regions.map(r =>
      round(stableSum(when(col("region_s") === r, col("l_extendedprice"))), 4).as(mcol(r)))
    base.groupBy("region_c").agg(aggs.head, aggs.tail: _*)
      .orderBy("region_c")
  })

  // --------------------------------------------------- KMV sketch
  /** K-minimum-values distinct-count sketch — `graft_top_k(h, k)` over
    * the group's DISTINCT hashes — cardinality estimation with O(k)
    * sketch state per group (the planning primitive for
    * dedup/shuffle-width sizing at corpus scale). The 60-bit hash is
    * the first 15 hex chars of the value's md5 (engine-portable); the
    * estimator (k−1)/U(k) and the exact-when-under-k contract are
    * downstream arithmetic replayed by the oracle's
    * rank-over-distinct-hash window. Distinctness is the input's: the
    * exact count rides along as the fidelity report and already pays
    * the (flag, partkey) distinct, so the hash runs once per distinct
    * key and the sketch reads rows distinct on (flag, h), as the
    * oracle's `hx` does. A sketch-only consumer would shuffle that
    * distinct set where a deduplicating sketch aggregate ships O(k) per
    * map task; no registry query is one. */
  private val kmvK = 128
  private val kmvPow = 1L << 60 // 16^15

  val kmv = Q("sketch_kmv_distinct", Some {
    val h15 = "(" + (1 to 15).map(c =>
      s"(strpos('0123456789abcdef', md5(l_partkey::VARCHAR)[$c]) - 1) * ${1L << (4 * (15 - c))}")
      .mkString(" + ") + ")"
    s"""
    WITH hx AS (SELECT DISTINCT l_returnflag AS g, $h15 AS h FROM lineitem),
    r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hx),
    s AS (SELECT g, max(h) AS hk, count(*) AS m FROM r WHERE rn <= $kmvK GROUP BY 1),
    x AS (SELECT l_returnflag AS g, count(DISTINCT l_partkey) AS n_exact
          FROM lineitem GROUP BY 1),
    e AS (SELECT s.g, x.n_exact,
                 CASE WHEN s.m < $kmvK THEN s.m::DOUBLE
                      ELSE ($kmvK - 1) / (s.hk::DOUBLE / $kmvPow) END AS est
          FROM s JOIN x USING (g))
    SELECT g AS l_returnflag, n_exact,
           CAST(round(est, 0) AS BIGINT) AS n_est,
           round(abs(CAST(round(est, 0) AS BIGINT) - n_exact)::DOUBLE / n_exact, 6) AS rel_err
    FROM e ORDER BY 1"""
  })((s, d) => {
    val h = conv(substring(md5(encode(col("l_partkey").cast("string"), "UTF-8")), 1, 15),
      16, 10).cast("long")
    val est = when(size(col("ks")) < kmvK, size(col("ks")).cast("double"))
      .otherwise(lit(kmvK - 1) /
        (element_at(col("ks"), kmvK).cast("double") / lit(kmvPow.toDouble)))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"), h.as("h")).agg(count(lit(1)).as("n_keys"))
      .groupBy("l_returnflag")
      .agg(call_function("graft_top_k", col("h"), lit(kmvK)).as("ks"),
        sum(col("n_keys")).as("n_exact"))
      .withColumn("n_est", round(est, 0).cast("long"))
      .select(col("l_returnflag"), col("n_exact"), col("n_est"),
        round(abs(col("n_est") - col("n_exact")).cast("double") / col("n_exact"), 6)
          .as("rel_err"))
      .orderBy("l_returnflag")
  })

  // ------------------------------------------- KMV set-overlap sketch
  /** Cross-corpus overlap estimation from KMV sketches — the planning
    * form of "how much does source A overlap source B" (dedup /
    * decontamination sizing): three O(k)-state `graft_top_k` sketches
    * (A, B, A∪B) over the distinct 60-bit word
    * BIGRAM hashes (the unigram vocabulary of the synthetic corpus is
    * ~31 tokens — trivially shared; bigrams give a k-exceeding,
    * partially-overlapping universe), then pure array arithmetic. For x in the union sketch K,
    * x ∈ A ⟺ x ∈ sketch(A) (K's elements are ≤ kth-min(A∪B) ≤
    * kth-min(A)), so ρ = |K ∩ sk(A) ∩ sk(B)| / |K∩| estimates the
    * Jaccard and ρ·n̂(A∪B) the intersection size; when the union has
    * fewer than k distinct hashes every sketch is its full set and the
    * "estimates" are exact. Exact legs ride along as the fidelity
    * report. */
  private val ovA = "src1"
  private val ovB = "src2"

  val kmvOverlap = Q("sketch_kmv_overlap", Some {
    val h15 = "(" + (1 to 15).map(c =>
      s"(strpos('0123456789abcdef', sh[$c]) - 1) * ${1L << (4 * (15 - c))}")
      .mkString(" + ") + ")"
    def estSql(tbl: String) =
      s"""CASE WHEN (SELECT count(*) FROM $tbl) < $kmvK
              THEN (SELECT count(*) FROM $tbl)::DOUBLE
              ELSE ($kmvK - 1) / ((SELECT max(h) FROM $tbl)::DOUBLE / $kmvPow) END"""
    s"""
    WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents
               WHERE source IN ('$ovA', '$ovB') AND len(string_split(text, ' ')) >= 2),
    sg AS (SELECT source, md5(concat_ws(' ', w[i], w[i+1])) AS sh
           FROM w, LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)),
    t AS (SELECT DISTINCT source, $h15 AS h FROM sg),
    ha AS (SELECT h FROM t WHERE source = '$ovA'),
    hb AS (SELECT h FROM t WHERE source = '$ovB'),
    hu AS (SELECT DISTINCT h FROM t),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT $kmvK),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT $kmvK),
    ku AS (SELECT h FROM hu ORDER BY h LIMIT $kmvK),
    est AS (SELECT ${estSql("ka")} AS ea, ${estSql("kb")} AS eb, ${estSql("ku")} AS eu,
                   (SELECT count(*) FROM ku JOIN ka USING (h) JOIN kb USING (h)) AS m,
                   (SELECT count(*) FROM ku) AS keff,
                   (SELECT count(*) FROM ha JOIN hb USING (h)) AS exact_intersect,
                   (SELECT count(*) FROM hu) AS exact_union)
    SELECT '$ovA' AS source_a, '$ovB' AS source_b,
           CAST(round(ea, 0) AS BIGINT) AS est_a,
           CAST(round(eb, 0) AS BIGINT) AS est_b,
           CAST(round(eu, 0) AS BIGINT) AS est_union,
           CAST(round(m::DOUBLE / keff * eu, 0) AS BIGINT) AS est_intersect,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(exact_intersect AS BIGINT) AS exact_intersect
    FROM est"""
  })((s, d) => {
    val toks = graft.operators.Dedup.shingles(
        Tables.documentsP(s, d).filter(col("source").isin(ovA, ovB)),
        "text", Seq("source"), n = 2, dedup = false)
      .select(col("source"),
        shiftrightunsigned(col("sh_hi"), 4).as("h"))
    // (source, h) distinct: four plan subtrees consume it (three
    // sketches + the exact legs), so it is scope-persisted — Catalyst
    // does not CSE across aggregation branches. Each sketch reads
    // distinct hashes from it, so graft_top_k's k least are the KMV.
    val dist = graft.operators.CacheScope.persist(toks.distinct())
    def est(ks: org.apache.spark.sql.Column) =
      when(size(ks) < kmvK, size(ks).cast("double"))
        .otherwise(lit(kmvK - 1) /
          (element_at(ks, kmvK).cast("double") / lit(kmvPow.toDouble)))
    def sketch(hs: org.apache.spark.sql.DataFrame, as: String) =
      hs.agg(call_function("graft_top_k", col("h"), lit(kmvK)).as(as))
    val skA = sketch(dist.filter(col("source") === ovA), "ka")
    val skB = sketch(dist.filter(col("source") === ovB), "kb")
    val skU = sketch(dist.select("h").distinct(), "ku")
    val exact = dist.groupBy("h").agg(count(lit(1)).as("ns"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("ns") === 2, 1L).otherwise(0L)).as("exact_intersect"))
    skU.crossJoin(broadcast(skA)).crossJoin(broadcast(skB))
      .crossJoin(broadcast(exact))
      .withColumn("m",
        size(array_intersect(array_intersect(col("ku"), col("ka")), col("kb"))))
      .withColumn("keff", size(col("ku")))
      .select(lit(ovA).as("source_a"), lit(ovB).as("source_b"),
        round(est(col("ka")), 0).cast("long").as("est_a"),
        round(est(col("kb")), 0).cast("long").as("est_b"),
        round(est(col("ku")), 0).cast("long").as("est_union"),
        round(col("m").cast("double") / col("keff") * est(col("ku")), 0)
          .cast("long").as("est_intersect"),
        col("exact_union"), col("exact_intersect"))
  })

  val all: Seq[Q] = Seq(a1, a4, a7, a9, a11, a12, c1, c4, c5, c7, c8, json, p1,
    kmv, kmvOverlap)
}
