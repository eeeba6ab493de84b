package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Deterministic._

/** Window/ranking/sampling (W1–W8) and set operations (SO1–SO5) —
  * SURVEY §2.5–§2.6.
  */
object QWindowSet {

  // ----------------------------------------------------- W1/W2/W3
  /** Rank by |metric| desc + percent-based removal slice: keep the
    * bottom (100−ρ)% of ranked rows, ρ=30, with n_keep ≥ 2 guard.
    * Ref: Matlab_part/Oxford_glm_sensitivity.m:276-303. */
  val w1 = Q("w1_rank_slice", Some("""
    WITH r AS (
      SELECT c_nationkey, c_custkey, c_acctbal,
        row_number() OVER (PARTITION BY c_nationkey
          ORDER BY abs(c_acctbal) DESC, c_custkey) AS rnk,
        count(*) OVER (PARTITION BY c_nationkey) AS n
      FROM customer)
    SELECT c_nationkey,
      count(*) AS n_kept,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS kept_bal
    FROM r
    WHERE rnk > LEAST(CAST(round(n * 30 / 100.0) AS BIGINT), n - 2)
    GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val w = Window.partitionBy("c_nationkey").orderBy(abs(col("c_acctbal")).desc, col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rnk"),
        count(lit(1)).over(Window.partitionBy("c_nationkey")).as("n"))
      .filter(col("rnk") >
        least(round(col("n") * 30 / 100.0).cast("long"), col("n") - 2))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_kept"),
        decimalSum(col("c_acctbal"), 18, 2).cast("double").as("kept_bal"))
      .orderBy("c_nationkey")
  })

  // ---------------------------------------------------------------- W5
  /** First-match selection: first row (in key order) satisfying a
    * predicate, per group (sign-baseline analog).
    * Ref: cross_trial_type_cca_analysis.py:1069-1096. */
  val w5 = Q("w5_first_match", Some("""
    WITH f AS (
      SELECT c_nationkey, c_custkey, c_acctbal,
        row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
      FROM customer WHERE c_acctbal > 0)
    SELECT c_nationkey, c_custkey AS first_pos_cust, c_acctbal AS first_pos_bal
    FROM f WHERE rn = 1 ORDER BY c_nationkey"""
  ))((s, d) =>
    // first-in-key-order = argmin by the unique key: one hash aggregate
    // with O(1) state per group (min + min_by, map-side combine) in
    // place of the row_number window the oracle replays, which sorts
    // each corpus-scaled partition on one task. c_custkey is unique, so
    // min_by is deterministic and the pair is exactly the rn = 1 row.
    Tables.customer(s, d).filter(col("c_acctbal") > 0)
      .groupBy("c_nationkey")
      .agg(min("c_custkey").as("first_pos_cust"),
        expr("min_by(c_acctbal, c_custkey)").as("first_pos_bal"))
      .orderBy("c_nationkey"))

  // ---------------------------------------------------------------- W6
  /** Seeded deterministic STRATIFIED sampling: k=3 per group via the
    * engine's arithmetic hash (replayable on any SQL engine, stable
    * across partitionings — SURVEY §7.4.1). Selection runs through the
    * bounded-state top-k aggregate (`graft_top_k` over struct(hrand,
    * key) ascending, the window's order: O(k) state per stratum,
    * map-side combine) rather than the row_number window the oracle
    * replays — the window form sorts each stratum (size ∝ corpus) on
    * one task.
    * Ref: Matlab_part/perform_region_analysis.m:122-124 (seed 12345). */
  val w6 = Q("w6_seeded_sample", Some(s"""
    WITH h AS (
      SELECT c_nationkey, c_custkey,
        ${hrandSql("c_custkey", 12345L)} AS hr
      FROM customer),
    r AS (
      SELECT c_nationkey, c_custkey,
        row_number() OVER (PARTITION BY c_nationkey ORDER BY hr, c_custkey) AS rn
      FROM h)
    SELECT c_nationkey, c_custkey FROM r WHERE rn <= 3
    ORDER BY c_nationkey, c_custkey"""
  ))((s, d) => {
    Tables.customer(s, d)
      .groupBy("c_nationkey")
      .agg(call_function("graft_top_k", struct(hrand(col("c_custkey"), 12345L),
        col("c_custkey").cast("long").as("k")), lit(3)).as("ks"))
      .select(col("c_nationkey"), explode(col("ks.k")).as("c_custkey"))
      .orderBy("c_nationkey", "c_custkey")
  })

  // ---------------------------------------------------------------- W7
  /** Seeded permutation WITHIN a session-like group (trial-shuffle
    * analog): key → shuffled key via hash-ordered row_number zip. The
    * reference shuffles trials within one session, never globally
    * (Matlab_part/perform_session_cca.m:128-133); partitioning the
    * window keeps the rank parallel at scale. */
  val w7 = Q("w7_seeded_permutation", Some(s"""
    WITH a AS (
      SELECT s_nationkey AS grp, s_suppkey,
        row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) AS rn
      FROM supplier),
    b AS (
      SELECT s_nationkey AS grp, s_suppkey AS shuffled_key,
        row_number() OVER (PARTITION BY s_nationkey
          ORDER BY ${hrandSql("s_suppkey", 777L)}, s_suppkey) AS rn
      FROM supplier)
    SELECT a.grp, a.s_suppkey, b.shuffled_key
    FROM a JOIN b ON a.grp = b.grp AND a.rn = b.rn
    ORDER BY a.s_suppkey"""
  ))((s, d) => {
    val sup = Tables.supplier(s, d)
    val a = sup.select(col("s_nationkey").as("grp"), col("s_suppkey"),
      row_number().over(
        Window.partitionBy("s_nationkey").orderBy("s_suppkey")).as("rn"))
    val b = sup.select(col("s_nationkey").as("grp"), col("s_suppkey").as("shuffled_key"),
      row_number().over(Window.partitionBy("s_nationkey")
        .orderBy(hrand(col("s_suppkey"), 777L), col("s_suppkey"))).as("rn"))
    a.join(b, Seq("grp", "rn")).select("grp", "s_suppkey", "shuffled_key")
      .orderBy("s_suppkey")
  })

  // ------------------------------------------------------- W8 / SO2
  /** Contiguous k-fold assignment (k=5) WITHIN a session-like group +
    * train/test complement sizes per (group, fold). The reference folds
    * within one session's trials (Matlab_part/perform_session_cca.m:
    * 275-295); the partitioned window avoids a global single-task sort. */
  val w8 = Q("w8_kfold_split", Some("""
    WITH r AS (
      SELECT c_nationkey AS grp, c_custkey,
        row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn,
        count(*) OVER (PARTITION BY c_nationkey) AS n
      FROM customer),
    f AS (SELECT grp, c_custkey,
                 CAST(FLOOR((rn - 1) * 5.0 / n) AS BIGINT) AS fold, n FROM r)
    SELECT grp, fold, count(*) AS n_test, max(n) - count(*) AS n_train,
           min(c_custkey) AS first_key, max(c_custkey) AS last_key
    FROM f GROUP BY 1, 2 ORDER BY 1, 2"""
  ))((s, d) => {
    val r = Tables.customer(s, d).select(
      col("c_nationkey").as("grp"),
      col("c_custkey"),
      row_number().over(
        Window.partitionBy("c_nationkey").orderBy("c_custkey")).as("rn"),
      count(lit(1)).over(Window.partitionBy("c_nationkey")).as("n"))
    r.select(col("grp"), col("c_custkey"),
        floor((col("rn") - 1) * 5.0 / col("n")).cast("long").as("fold"), col("n"))
      .groupBy("grp", "fold")
      .agg(count(lit(1)).as("n_test"),
        (max("n") - count(lit(1))).as("n_train"),
        min("c_custkey").as("first_key"), max("c_custkey").as("last_key"))
      .orderBy("grp", "fold")
  })

  // ---------------------------------------------------------------- W9
  /** Per-stratum Bernoulli mixture sampling — operators.Sampling
    * .stratifiedSample: the training-data domain-mixing step ("web at
    * 10%, books at 80%") keyed on the stable doc id, so the mixture is
    * reproducible across runs/partitionings and exactly replayable by
    * the oracle's CASE + hrand chain. Pure row-wise filter (no shuffle
    * before the report aggregate); hrand < 2^31 is exact in a double,
    * so the < comparison is bit-identical on both engines. */
  private val mixSeed = 20240817L
  private val mixRates = Map(
    "src1" -> 0.9, "src2" -> 0.6, "src3" -> 0.3, "src4" -> 0.05)
  private val mixDefault = 0.15

  val w9 = Q("w9_stratified_mixture", Some {
    val caseSql = "CASE source " +
      mixRates.toSeq.sortBy(_._1).map { case (k, v) => s"WHEN '$k' THEN $v" }
        .mkString(" ") + s" ELSE $mixDefault END"
    s"""
    WITH r AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
                      CAST($caseSql AS DOUBLE) AS sample_rate,
                      (${hrandSql("doc_id", mixSeed)}) / 2147483648.0 AS coin
               FROM documents)
    SELECT source, sample_rate, count(*) AS n_docs,
           CAST(sum(CASE WHEN coin < sample_rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN coin < sample_rate THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM r GROUP BY 1, 2 ORDER BY 1"""
  })((s, d) => {
    val docs = Tables.documentsP(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val kept = graft.operators.Sampling.stratifiedSample(
        docs, "source", "doc_id", mixRates, mixDefault, mixSeed)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_tok").as("kept_tokens"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"), "left")
      .select(col("source"),
        mixRates.toSeq.sortBy(_._1).foldLeft(lit(mixDefault)) {
          case (acc, (k, v)) => when(col("source") === k, lit(v)).otherwise(acc)
        }.as("sample_rate"),
        col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("source")
  })

  // ------------------------------------------------- SO1/SO3/SO4/SO5
  /** Union ∪ intersect ∩ difference over key sets, tagged and stacked
    * (distinct semantics). Ref: cross_trial_type_cca_analysis.py:
    * 1022-1032; perform_session_cca.m:158-166,290. */
  val so1 = Q("so_set_algebra", Some("""
    WITH cset AS (SELECT DISTINCT c_nationkey AS k FROM customer),
         sset AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
    SELECT 'both' AS tag, k FROM (SELECT k FROM cset INTERSECT SELECT k FROM sset)
    UNION ALL
    SELECT 'cust_only' AS tag, k FROM (SELECT k FROM cset EXCEPT SELECT k FROM sset)
    UNION ALL
    SELECT 'either' AS tag, k FROM (SELECT k FROM cset UNION SELECT k FROM sset)
    ORDER BY tag, k"""
  ))((s, d) => {
    val cset = Tables.customer(s, d).select(col("c_nationkey").as("k")).distinct()
    val sset = Tables.supplier(s, d).select(col("s_nationkey").as("k")).distinct()
    cset.intersect(sset).select(lit("both").as("tag"), col("k"))
      .unionAll(cset.except(sset).select(lit("cust_only").as("tag"), col("k")))
      .unionAll(cset.union(sset).distinct().select(lit("either").as("tag"), col("k")))
      .orderBy("tag", "k")
  })

  /** Membership filter (`ismember` / IN-list semi join).
    * Ref: oxford_GLM_CCA_coefficients_extract.m:176-179. */
  val so5 = Q("so5_membership", Some("""
    SELECT o_orderpriority, count(*) AS n
    FROM orders WHERE o_orderstatus IN ('F', 'P')
    GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "P"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority"))

  // --------------------------------------------------------------- W11
  /** Leak-free train/val/test split — operators.Sampling.groupSplit:
    * the 80/10/10 coin is tossed per SOURCE (md5-hash → seeded hrand →
    * exact 31-bit/2³¹ uniform), never per document, so near-duplicate
    * siblings within a host cannot straddle the train/eval boundary —
    * the contamination-safe split discipline for web corpora. Output
    * is the per-(split, source) doc/token audit; a source appearing
    * under exactly one split IS the leak-freedom proof. The oracle
    * replays the positional hex parse, the affine hrand and the same
    * double comparisons. */
  private val splitSeed = 20260814L

  val w11 = Q("w11_group_split", Some {
    val hexParse = "(" + (1 to 8).map(k =>
      s"(strpos('0123456789abcdef', sh[$k]) - 1) * ${1L << (4 * (8 - k))}")
      .mkString(" + ") + s") % ${graft.operators.Dedup.mixM}"
    s"""
    WITH d AS (SELECT doc_id, source, md5(source) AS sh,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
               FROM documents WHERE text IS NOT NULL),
    h AS (SELECT doc_id, source, nt, $hexParse AS h1 FROM d),
    r AS (SELECT doc_id, source, nt,
                 (${hrandSql("h1", splitSeed)}) / 2147483648.0 AS u
          FROM h),
    a AS (SELECT source, nt,
                 CASE WHEN u < 0.8 THEN 'train'
                      WHEN u < 0.9 THEN 'valid'
                      ELSE 'test' END AS split
          FROM r)
    SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM a GROUP BY 1, 2 ORDER BY split, source"""
  })((s, d) =>
    // RAW scan, not documentsP: the per-row work is one md5 + a token
    // count — the light-operator class of the input-choice policy
    // (SCALE.md §Dedup input choice), where the pre-repartition is a
    // pure extra exchange wave. The r11–r13 creep on this query
    // (0.27 → 0.36 → 0.44 s on untouched code) sat in that wave's
    // scheduling noise; the first groupBy redistributes anyway.
    graft.operators.Sampling.groupSplit(
        Tables.documents(s, d).filter(col("text").isNotNull),
        "source", size(split(col("text"), " ")).cast("long"),
        Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)), seed = splitSeed)
      .orderBy("split", "source"))

  val all: Seq[Q] = Seq(w1, w5, w6, w7, w8, w9, so1, so5, w11)
}
