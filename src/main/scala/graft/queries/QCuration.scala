package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Deterministic._

/** Training-corpus construction operators beyond filtering/dedup: the
  * sequence-packing layout a trainer consumes, the regex flagging
  * battery (PII / ban-list sweeps), and hash-sample quantile sketches —
  * the "turn a curated corpus into training artifacts and audits" end
  * of the LLM-data-pipeline family.
  */
object QCuration {

  // ------------------------------------------------------- Packing
  /** Concat-and-chunk sequence packing (operators.Packing): every doc's
    * global token offset and the fixed-length training sequences it
    * lands in, under the deterministic hash-bucketed document order.
    * The oracle replays the same layout as ONE global cumsum over
    * (bucket, id) — bucket_offset + within_bucket_prefix is exactly
    * that cumsum, which is the identity the two-parallel-passes design
    * rests on. All-integer arithmetic end to end: the hash, the `div`s
    * and the running sums are exact in BIGINT on both engines. */
  private val packSeqLen = 512L
  private val packBuckets = 8
  private val packSeed = 90210L

  val pack = Q("pack_sequences", Some(s"""
    WITH d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             (${hrandSql("doc_id", packSeed)}) * $packBuckets // 2147483648 AS pack_bucket
      FROM documents WHERE text IS NOT NULL),
    c AS (
      SELECT doc_id, n_tok, pack_bucket,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY pack_bucket, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      FROM d)
    SELECT doc_id, n_tok, pack_bucket, tok_start,
           CAST(tok_start // $packSeqLen AS BIGINT) AS seq_first,
           CAST((tok_start + GREATEST(n_tok, 1) - 1) // $packSeqLen AS BIGINT) AS seq_last
    FROM c ORDER BY doc_id"""
  ))((s, d) => {
    val docs = Tables.documentsP(s, d).filter(col("text").isNotNull)
    graft.operators.Packing.packSequences(
        docs, "doc_id", size(split(col("text"), " ")),
        seqLen = packSeqLen, numBuckets = packBuckets, seed = packSeed)
      .orderBy("doc_id")
  })

  // ------------------------------------------- Sliding-window chunks
  /** Sliding-window chunking with overlap (operators.Packing
    * .slidingChunks): the long-context / retrieval-indexing layout —
    * windows of ≤ 64 tokens every 48 tokens, trailing short chunk
    * kept — rolled up per source into the chunk-count, token-
    * duplication-factor (overlap overhead a storage planner budgets
    * for) and tail-chunk audit. Row-local explode, no shuffle before
    * the roll-up; all-integer until the final rounded ratio. */
  private val chunkSize = 64
  private val chunkStride = 48

  val chunks = Q("pack_sliding_chunks", Some(s"""
    WITH d AS (SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents WHERE text IS NOT NULL),
    c AS (SELECT doc_id, source, n_tok,
                 unnest(generate_series(0,
                   GREATEST(0, (n_tok - $chunkSize + $chunkStride - 1) // $chunkStride)
                     * $chunkStride, $chunkStride)) AS chunk_start
          FROM d),
    l AS (SELECT source, doc_id, n_tok, chunk_start,
                 LEAST($chunkSize, n_tok - chunk_start) AS chunk_len
          FROM c)
    SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
           CAST(sum(chunk_len) AS BIGINT) AS chunk_tokens,
           CAST(sum(CASE WHEN chunk_start = 0 THEN n_tok ELSE 0 END) AS BIGINT)
             AS corpus_tokens,
           round(CAST(sum(chunk_len) AS DOUBLE)
                 / sum(CASE WHEN chunk_start = 0 THEN n_tok ELSE 0 END), 6)
             AS dup_factor,
           CAST(sum(CASE WHEN chunk_len < $chunkSize THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tail_chunks
    FROM l GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val docs = Tables.documentsP(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
    graft.operators.Packing
      .slidingChunks(docs, col("nt"), chunkSize, chunkStride)
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("chunk_tokens"),
        sum(when(col("chunk_start") === 0, col("n_tok")).otherwise(0L))
          .as("corpus_tokens"),
        round(sum(col("chunk_len")).cast("double")
          / sum(when(col("chunk_start") === 0, col("n_tok")).otherwise(0L)), 6)
          .as("dup_factor"),
        sum(when(col("chunk_len") < chunkSize, 1L).otherwise(0L))
          .as("n_tail_chunks"))
      .orderBy("source")
  })

  // ---------------------------------------------- Priority sampling
  /** Weighted sampling without replacement by PRIORITY SAMPLING
    * (operators.Sampling.prioritySample; Duffield–Lund–Thorup 2007):
    * per source, the 4 highest-priority docs under p = n_tok·2³¹ /
    * (hrand+1) — heavier docs surface ∝ weight — plus the (k+1)-th
    * priority threshold τ and the Σ max(w, τ) estimate of the
    * source's total token mass, the subset-sum property that makes a
    * tiny sample double as a weight-total estimator. O(k) aggregator
    * state, no per-source sort; every double derives from exact
    * integer operands (ranking ties impossible off-lattice). */
  private val priK = 4
  private val priSeed = 20250813L

  val prisample = Q("samp_priority_weighted", Some(s"""
    WITH d AS (SELECT source, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 ${hrandSql("doc_id", priSeed)} AS hr
               FROM documents WHERE text IS NOT NULL),
    p AS (SELECT source, doc_id, n_tok,
                 CAST(n_tok AS DOUBLE) * 2147483648 / (hr + 1) AS pri
          FROM d),
    r AS (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY pri DESC, doc_id) AS rk
          FROM p),
    g AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                 max(CASE WHEN rk = ${priK + 1} THEN pri END) AS tau_raw
          FROM r GROUP BY 1),
    e AS (SELECT r.source,
                 CAST(SUM(CAST(round(GREATEST(CAST(r.n_tok AS DOUBLE),
                                              COALESCE(g.tau_raw, 0)), 6)
                          AS DECIMAL(28,6))) AS DOUBLE) AS est_raw
          FROM r JOIN g USING (source) WHERE rk <= $priK GROUP BY 1)
    SELECT r.source, r.rk, r.doc_id, r.n_tok, round(r.pri, 6) AS priority,
           round(COALESCE(g.tau_raw, 0), 6) AS tau, g.n_docs, g.total_tokens,
           round(e.est_raw, 6) AS est_total
    FROM r JOIN g USING (source) JOIN e USING (source)
    WHERE r.rk <= $priK ORDER BY r.source, r.rk"""
  ))((s, d) =>
    graft.operators.Sampling.prioritySample(
        Tables.documentsP(s, d).filter(col("text").isNotNull)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).as("n_tok")),
        "source", "doc_id", "n_tok", k = priK, seed = priSeed)
      .select(col("source"), col("rk"), col("sample_key").as("doc_id"),
        col("weight").as("n_tok"), col("priority"), col("tau"),
        col("n_rows").as("n_docs"), col("total_weight").as("total_tokens"),
        col("est_total"))
      .orderBy("source", "rk"))

  // ------------------------------------------------- Pattern flags
  /** Regex flagging battery (operators.TextOps.patternFlags) rolled up
    * per source: the PII/ban-list sweep as a corpus audit report. The
    * battery pins one PII-shaped pattern (emails — structurally zero on
    * this corpus, proving the mechanism without manufactured hits) and
    * two term patterns with real populations. Patterns live in the
    * Java∩RE2 regex subset so both engines count identically. */
  /** The one email pattern shared by the detect half (flags battery)
    * and the rewrite half (piiRedact) — one definition so tightening
    * it cannot make the two halves of the audit disagree. */
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  private val flagPatterns = Seq(
    "email" -> emailPat,
    "banned_term" -> "\\bslow\\b",
    "brand_term" -> "\\bspark\\b")

  val flags = Q("text_pattern_flags", Some(s"""
    WITH f AS (
      SELECT source,
        CAST(len(regexp_extract_all(text, '$emailPat')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(text, '${flagPatterns(1)._2}')) AS BIGINT) AS n_banned_term,
        CAST(len(regexp_extract_all(text, '${flagPatterns(2)._2}')) AS BIGINT) AS n_brand_term
      FROM documents WHERE text IS NOT NULL)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN n_email > 0 OR n_banned_term > 0 OR n_brand_term > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(n_email) AS BIGINT) AS total_email,
           CAST(sum(n_banned_term) AS BIGINT) AS total_banned_term,
           CAST(sum(n_brand_term) AS BIGINT) AS total_brand_term
    FROM f GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    graft.operators.TextOps.patternFlags(
        Tables.documentsP(s, d).filter(col("text").isNotNull), "text", flagPatterns)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("flagged").cast("long")).as("n_flagged"),
        sum("n_email").as("total_email"),
        sum("n_banned_term").as("total_banned_term"),
        sum("n_brand_term").as("total_brand_term"))
      .orderBy("source"))

  // ------------------------------------------------- PII redaction
  /** PII scrub (operators.TextOps.redact) — the REWRITE half of the
    * pattern audit above: emails/phones/IPs replaced by class tokens,
    * reported per source with the per-class totals, the net character
    * delta, and one exact redacted sample (min over redacted docs with
    * an email hit) so the oracle verifies the REWRITTEN TEXT itself,
    * not just counts. The corpus text is synthetic (structurally zero
    * PII — the flags query proves that), so the query plants
    * deterministic PII spans derived from doc_id (mod-7 email, mod-11
    * phone, mod-13 IP — the mm_* family's deterministic-payload
    * convention) and the oracle replays the identical augmentation:
    * the redaction logic is exercised on real hits either way. */
  private val piiRules = Seq(
    ("email", emailPat, "<EMAIL>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  val piiRedact = Q("text_pii_redact", Some(s"""
    WITH aug AS (
      SELECT source,
        text ||
        CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 soon' ELSE '' END ||
        CASE WHEN doc_id % 13 = 0
             THEN ' host 10.0.' || (doc_id % 250) || '.7 up' ELSE '' END AS t
      FROM documents WHERE text IS NOT NULL),
    red AS (
      SELECT source, t,
        CAST(len(regexp_extract_all(t, '${piiRules(0)._2}')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(t, '${piiRules(1)._2}')) AS BIGINT) AS n_phone,
        CAST(len(regexp_extract_all(t, '${piiRules(2)._2}')) AS BIGINT) AS n_ip,
        regexp_replace(regexp_replace(regexp_replace(t,
          '${piiRules(0)._2}', '<EMAIL>', 'g'),
          '${piiRules(1)._2}', '<PHONE>', 'g'),
          '${piiRules(2)._2}', '<IP>', 'g') AS tr
      FROM aug)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_docs_pii,
           CAST(sum(n_email) AS BIGINT) AS total_email,
           CAST(sum(n_phone) AS BIGINT) AS total_phone,
           CAST(sum(n_ip) AS BIGINT) AS total_ip,
           CAST(sum(len(t) - len(tr)) AS BIGINT) AS chars_delta,
           min(CASE WHEN n_email > 0 THEN tr END) AS sample_redacted
    FROM red GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val aug = Tables.documentsP(s, d).filter(col("text").isNotNull)
      .withColumn("t", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-867-5309 soon"))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 250).cast("string"),
            lit(".7 up"))).otherwise(lit(""))))
    graft.operators.TextOps.redact(aug, "t", "tr", piiRules)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_email") + col("n_phone") + col("n_ip") > 0, 1L)
          .otherwise(0L)).as("n_docs_pii"),
        sum("n_email").as("total_email"),
        sum("n_phone").as("total_phone"),
        sum("n_ip").as("total_ip"),
        sum((length(col("t")) - length(col("tr"))).cast("long")).as("chars_delta"),
        min(when(col("n_email") > 0, col("tr"))).as("sample_redacted"))
      .orderBy("source")
  })

  // --------------------------------------------- Quantile sketch
  /** Distribution sketch by bottom-k hash sample: per group, the k rows
    * with the smallest deterministic hash are a uniform random sample
    * (order-invariant and mergeable — the same property KMV uses for
    * distinct counts), and the sample's order statistics estimate the
    * group's quantiles with O(1/√k) error. Bounded state: the sample
    * is selected by the O(k)-state `graft_top_k` (never a corpus-wide
    * sort), measures are fetched by an equi-join on the sampled keys,
    * and the final sort_array touches k values per group. The estimate
    * is DETERMINISTIC (hash sample + fixed index convention), so the
    * oracle replays it exactly — est_p* are sketch outputs, not exact
    * percentiles; the exact-percentile operator is f10's histogram. */
  private val qsK = 256
  private val qsSeed = 4242L

  val qsketch = Q("sketch_quantile_sample", Some(s"""
    WITH h AS (
      SELECT o_orderpriority AS pri, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS m,
             ${hrandSql("o_orderkey", qsSeed)} AS hr
      FROM orders),
    r AS (
      SELECT pri, m,
             row_number() OVER (PARTITION BY pri ORDER BY hr, o_orderkey) AS rn
      FROM h),
    s AS (
      SELECT pri, list_sort(list(m)) AS sm FROM r WHERE rn <= $qsK GROUP BY pri),
    c AS (
      SELECT o_orderpriority AS pri, count(*) AS n_rows FROM orders GROUP BY 1)
    SELECT c.pri AS o_orderpriority, c.n_rows,
           CAST(len(sm) AS BIGINT) AS n_sample,
           sm[GREATEST(1, CAST(ceil(0.50 * len(sm)) AS BIGINT))] AS est_p50,
           sm[GREATEST(1, CAST(ceil(0.90 * len(sm)) AS BIGINT))] AS est_p90,
           sm[GREATEST(1, CAST(ceil(0.99 * len(sm)) AS BIGINT))] AS est_p99
    FROM c JOIN s ON c.pri = s.pri ORDER BY 1"""
  ))((s, d) => {
    val orders = Tables.orders(s, d)
    // bottom-k by (hr, key) ascending, the oracle's window order
    val keys = orders.groupBy(col("o_orderpriority").as("pri"))
      .agg(call_function("graft_top_k", struct(hrand(col("o_orderkey"), qsSeed),
        col("o_orderkey").cast("long").as("k")), lit(qsK)).as("ks"))
      .select(col("pri"), explode(col("ks.k")).as("o_orderkey"))
    val meas = keys.join(
        orders.select(col("o_orderpriority").as("pri"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("m")),
        Seq("pri", "o_orderkey"))
      .groupBy("pri").agg(sort_array(collect_list(col("m"))).as("sm"))
    def est(p: Double) = element_at(col("sm"),
      greatest(lit(1L), ceil(lit(p) * size(col("sm")))).cast("int"))
    orders.groupBy(col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n_rows"))
      .join(meas, "pri")
      .select(col("pri").as("o_orderpriority"), col("n_rows"),
        size(col("sm")).cast("long").as("n_sample"),
        est(0.50).as("est_p50"), est(0.90).as("est_p90"), est(0.99).as("est_p99"))
      .orderBy("o_orderpriority")
  })

  // -------------------------------------------- Temperature mixture
  /** Temperature-based mixture construction (operators.Sampling
    * .temperatureRates): computes the per-domain sampling rates that
    * w9's stratified sampler consumes — w_d ∝ T_d^0.7 domain weights
    * over token totals, a 30% token budget spent by weight, rates
    * clipped at 1. All cross-domain math runs on the domain-count
    * frame; the rounded-pow → DECIMAL-normalizer chain makes every
    * output double derive from identical operands on both engines. */
  private val mixTau = 0.7
  private val mixBudget = 0.3

  val mixrates = Q("mix_temperature_rates", Some(s"""
    WITH t AS (
      SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL GROUP BY 1),
    p AS (
      SELECT source, n_tokens,
             round(pow(CAST(n_tokens AS DOUBLE), $mixTau), 6) AS pw
      FROM t),
    n AS (
      SELECT CAST(SUM(CAST(pw AS DECIMAL(28,6))) AS DOUBLE) AS norm,
             CAST(SUM(n_tokens) AS BIGINT) AS total
      FROM p)
    SELECT source, n_tokens,
           round(pw / norm, 6) AS weight,
           round(LEAST(1.0, $mixBudget * total * (pw / norm) / n_tokens), 6) AS rate,
           CAST(round(LEAST(1.0, $mixBudget * total * (pw / norm) / n_tokens) * n_tokens)
                AS BIGINT) AS expected_tokens
    FROM p, n ORDER BY source"""
  ))((s, d) =>
    graft.operators.Sampling.temperatureRates(
        Tables.documentsP(s, d).filter(col("text").isNotNull),
        "source", size(split(col("text"), " ")),
        temperature = mixTau, budgetFrac = mixBudget)
      .orderBy("source"))

  // ------------------------------------------------ Epoch scheduling
  /** Data-constrained epoch planning — operators.Sampling.epochSchedule:
    * when the training budget (2× the corpus here) exceeds the data,
    * each domain repeats; epochs cap at 4 (the Muennighoff et al. 2023
    * diminishing-returns point), shortfall is reported rather than
    * silently redistributed, and realized_weight shows the mixture
    * actually served after the cap. All math on the domain-count
    * frame; weights ride the 6-dp/DECIMAL discipline of
    * mix_temperature_rates. */
  private val epMult = 2.0
  private val epMax = 4.0
  val epochs = Q("mix_epoch_schedule", Some(s"""
    WITH t AS (
      SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL GROUP BY 1),
    p AS (
      SELECT source, n_tokens,
             round(pow(CAST(n_tokens AS DOUBLE), $mixTau), 6) AS pw
      FROM t),
    n AS (
      SELECT CAST(SUM(CAST(pw AS DECIMAL(28,6))) AS DOUBLE) AS norm,
             CAST(SUM(n_tokens) AS BIGINT) AS total
      FROM p),
    s AS (
      SELECT source, n_tokens, pw / norm AS weight,
             CAST(round($epMult * total * (pw / norm)) AS BIGINT) AS target_tokens,
             CAST(round($epMax * n_tokens) AS BIGINT) AS cap
      FROM p, n),
    f AS (
      SELECT source, n_tokens, weight, target_tokens,
             LEAST(target_tokens, cap) AS served_tokens,
             target_tokens > cap AS capped
      FROM s),
    g AS (SELECT CAST(SUM(served_tokens) AS BIGINT) AS tot_served FROM f)
    SELECT source, n_tokens, round(weight, 6) AS weight, target_tokens,
           round(CAST(target_tokens AS DOUBLE) / n_tokens, 6) AS epochs,
           served_tokens, capped,
           round(CAST(served_tokens AS DOUBLE) / tot_served, 6) AS realized_weight
    FROM f, g ORDER BY source"""
  ))((s, d) =>
    graft.operators.Sampling.epochSchedule(
        Tables.documentsP(s, d).filter(col("text").isNotNull),
        "source", size(split(col("text"), " ")),
        temperature = mixTau, budgetMult = epMult, maxEpochs = epMax)
      .orderBy("source"))

  // ------------------------------------------- Perplexity pruning
  /** CCNet-style per-domain perplexity pruning (Wenzek et al. 2020):
    * documents are bucketed head/middle/tail WITHIN their source by
    * bigram-LM perplexity terciles, and the tail (most improbable
    * third) is dropped. Per-domain cuts matter — a global threshold
    * would discard whole low-resource domains that are merely unlike
    * the majority. Scoring reuses TextOps.bigramLogprob (the
    * text_perplexity_bigram signal); the tercile cuts use the exact
    * distributed-histogram selection of f10_percentile_threshold —
    * groupBy (source, 6-dp avg_nll) counts, cumulative window over
    * the value-domain-bounded DISTINCT-value frame partitioned by
    * source, cut = min value whose cumulative count reaches
    * ceil(n/3) / ceil(2n/3) — so no corpus-scaled frame ever crosses
    * an unpartitioned sort, and the source-bounded cuts frame
    * broadcasts back. Bucketing compares VALUES (tie-safe: equal
    * scores land in the same bucket on both engines). Docs with < 2
    * tokens have no bigram signal and are excluded, as in
    * text_perplexity_bigram. */
  val pplPrune = Q("curate_perplexity_prune", Some(s"""
    WITH ${QText.pplDocCte},
    d AS (SELECT p.doc_id, doc.source, p.avg_nll,
                 round(exp(p.avg_nll), 4) AS ppl
          FROM p JOIN documents doc ON p.doc_id = doc.doc_id),
    h AS (SELECT source, avg_nll, count(*) AS c FROM d GROUP BY 1, 2),
    cm AS (SELECT source, avg_nll,
                  CAST(sum(c) OVER (PARTITION BY source ORDER BY avg_nll
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                  CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
           FROM h),
    ct AS (SELECT source,
                  min(CASE WHEN cum >= CAST(CEIL(n / 3.0) AS BIGINT)
                           THEN avg_nll END) AS cut1,
                  min(CASE WHEN cum >= CAST(CEIL(2 * n / 3.0) AS BIGINT)
                           THEN avg_nll END) AS cut2
           FROM cm GROUP BY 1)
    SELECT d.doc_id, d.source, d.avg_nll, d.ppl,
           CASE WHEN d.avg_nll <= ct.cut1 THEN 'head'
                WHEN d.avg_nll <= ct.cut2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           d.avg_nll <= ct.cut2 AS keep
    FROM d JOIN ct USING (source) ORDER BY doc_id"""
  ))((s, d) =>
    graft.operators.TextOps.perplexityPrune(
        Tables.documentsP(s, d), "doc_id", "text", "source", QText.ppxAlpha,
        memoKey = Some(graft.operators.Memo.corpusKey("bglm", d)))
      .select("doc_id", "source", "avg_nll", "ppl", "bucket", "keep")
      .orderBy("doc_id"))

  // --------------------------------------- Reference quality classifier
  /** CCNet/GPT-3-style reference classifier — operators.Classifier
    * .logisticScore: logistic regression fit by 3 fixed Newton/IRLS
    * steps to separate the reference slice (lang = 'en' here — in
    * production, a trusted corpus like wiki) from the rest, then score
    * every doc with the learned model. Features are row-local: the
    * 'th'/'he' marker-bigram rates the lang-ID heuristic proves
    * informative (text_lang_id), the en-stopword ratio, and mean word
    * length — the hand-thresholded battery as a LEARNED score.
    * Training is one decimal-summed aggregate pass per step with the
    * 5×5 Newton solve inside the plan; β never touches the driver.
    * Not SQL-expressible (matrix solve) → golden-fixture gate +
    * independent numpy IRLS replay in tools/check_kernels.py
    * (bit-exact: max|diff| = 0 at all three scales).
    *
    * Honesty note on the demo corpus: the synthetic generator assigns
    * `lang` independently of the text, so NO text feature separates it
    * and scores sit near the base rate — the gate pins the exact
    * MATH; the operator's separation behavior is proven on a
    * separable corpus in LibraryOpsSpec (pos.min > neg.max after 3
    * steps). */
  /** The classifier's 6-dp feature frame — (doc_id, y, x1..x4) — shared
    * by `curate_quality_classifier` and `curate_classifier_calibration`
    * (identical derivation is what makes the calibration a pure
    * composition; the numpy replay in tools/check_kernels.py re-derives
    * the same columns via DuckDB). The memo tag below ("clf-thhe-v1")
    * NAMES THIS RECIPE: Classifier's β key folds in idCol/featCols/
    * labelCol/iters but not the feature DERIVATION, so any caller
    * reusing the tag must feed byte-identical feature columns — a new
    * recipe gets a new tag, never a reused one. */
  private def clfFeatures(s: org.apache.spark.sql.SparkSession, d: String) = {
    import graft.operators.TextOps.occurrences
    Tables.documentsP(s, d).filter(col("text").isNotNull)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tok"),
        occurrences("text", "th").as("n_th"),
        occurrences("text", "he").as("n_he"),
        size(expr("filter(toks, w -> w IN ('the','a','and','of','to'))"))
          .as("n_stop"),
        length(col("text")).as("n_chars"))
      .select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        round(col("n_th").cast("double") / col("n_tok"), 6).as("x1"),
        round(col("n_he").cast("double") / col("n_tok"), 6).as("x2"),
        round(col("n_stop").cast("double") / col("n_tok"), 6).as("x3"),
        round((col("n_chars") - col("n_tok") + 1).cast("double") /
          (col("n_tok") * 10), 6).as("x4"))
  }

  val qualityClf = Q("curate_quality_classifier",
    Some(Q.fixtureOracle("curate_quality_classifier", "doc_id")))((s, d) =>
    graft.operators.Classifier.logisticScore(clfFeatures(s, d), "doc_id",
        Seq("x1", "x2", "x3", "x4"), "y", carry = Seq("y"), iters = 3,
        memoKey = Some(graft.operators.Memo.corpusKey("clf-thhe-v1", d)))
      .orderBy("doc_id"))

  // -------------------------------------- classifier calibration / ECE
  /** Reliability diagram + expected calibration error of the reference
    * classifier — the acceptance check that decides whether
    * `curate_quality_classifier`'s scores can be used as sampling
    * WEIGHTS (calibrated probabilities) or only as a ranking: decile
    * bins over the predicted probability, per-bin predicted-vs-observed
    * positive rate and |gap|, plus the n-weighted mean gap (ECE,
    * Naeini 2015) on every row. Binning is row-local (fixed-width on
    * the score, NOT quantile — no sort anywhere), both per-bin means
    * ride the DECIMAL stable-sum, and the ECE roll-up aggregates the
    * ≤10-row bin frame. Scores come from the same IRLS solve as the
    * classifier query (matrix step → fixture oracle + the numpy
    * calibration replay in tools/check_kernels.py). */
  val clfCalibration = Q("curate_classifier_calibration",
    Some(Q.fixtureOracle("curate_classifier_calibration", "bin")))((s, d) => {
    val scored = graft.operators.Classifier.logisticScore(clfFeatures(s, d),
      "doc_id", Seq("x1", "x2", "x3", "x4"), "y", carry = Seq("y"), iters = 3,
      memoKey = Some(graft.operators.Memo.corpusKey("clf-thhe-v1", d)))
    val bins = scored
      .withColumn("bin", least(floor(col("score") * 10).cast("long"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(stableSum(col("score")) / count(lit(1)), 6).as("conf"),
        round(stableSum(col("y").cast("double")) / count(lit(1)), 6).as("acc"))
      .withColumn("gap", round(abs(col("acc") - col("conf")), 6))
    val tot = bins.agg(sum(col("n")).as("n_tot"),
      stableSum(col("gap") * col("n")).as("wgap"))
    bins.crossJoin(broadcast(tot))
      .withColumn("ece", round(col("wgap") / col("n_tot"), 6))
      .select("bin", "n", "conf", "acc", "gap", "ece")
      .orderBy("bin")
  })

  // ------------------------------------------------ Unigram surprisal
  /** Unigram-LM surprisal scoring (operators.TextOps.unigramLogprob):
    * the corpus is its own language model; each doc's score is the
    * mean −ln p(token). The vocab build and the scoring join are both
    * token-keyed equi-shuffles; the per-doc mean rides the rounded
    * DECIMAL sum, so scores are bit-stable across partitionings. */
  val unigram = Q("text_unigram_logprob", Some("""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
    v AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_total FROM toks),
    s AS (
      SELECT doc_id, round(-ln(CAST(cnt AS DOUBLE) / n_total), 6) AS nll
      FROM toks JOIN v USING (tok) CROSS JOIN n)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           round(CAST(SUM(CAST(nll AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             AS logprob_score
    FROM s GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    graft.operators.TextOps.unigramLogprob(
        Tables.documentsP(s, d), "doc_id", "text")
      .orderBy("doc_id"))

  // ------------------------------------------- rejected-rows ledger
  /** Per-stage exclusion ledger over the curation funnel's gates —
    * operators.Ledger.rejectLedger: every document is attributed to
    * the FIRST gate that rejects it (the funnel's six quality rules in
    * severity order, then exact-dedup canonicality), each stage reports
    * its drop count plus the 3 smallest rejected doc_ids as
    * inspectable examples, and survivors land in the terminal `kept`
    * row. The engine analog of the reference's failure logger /
    * exclusion reports (Matlab_part/initialize_session_logger.m:239-458)
    * — same report, no imperative log: one row-local CASE, one
    * stage-keyed aggregate with O(3) sample state per stage. */
  private val ledgerStages = Seq(
    ("1_too_short", "n_tok < 20"), ("2_too_long", "n_tok > 90"),
    ("3_words_too_short", "mean_wlen < 4"), ("4_words_too_long", "mean_wlen > 12"),
    ("5_no_stopwords", "n_stop < 1"), ("6_too_repetitive", "distinct_ratio < 0.3"),
    ("7_exact_duplicate", "non-canonical copy"))

  val ledger = Q("pipeline_reject_ledger", Some {
    val dimRows = (ledgerStages :+ ("kept", "kept")).zipWithIndex
      .map { case ((n, r), i) => s"(CAST($i AS BIGINT), '$n', '$r')" }
      .mkString(", ")
    s"""
    WITH qm AS (SELECT doc_id, text,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  (length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
                    / len(string_split(text, ' ')) AS mean_wlen,
                  len(list_filter(string_split(text, ' '),
                      w -> w IN ('the','a','and','of','to'))) AS n_stop,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE
                    / len(string_split(text, ' ')) AS distinct_ratio
                FROM documents WHERE text IS NOT NULL),
    k AS (SELECT md5(text) AS th, min(doc_id) AS keep_id FROM qm
          WHERE NOT (n_tok < 20 OR n_tok > 90 OR mean_wlen < 4.0
                     OR mean_wlen > 12.0 OR n_stop < 1 OR distinct_ratio < 0.3)
          GROUP BY 1),
    att AS (SELECT qm.doc_id,
              CASE WHEN n_tok < 20 THEN 0 WHEN n_tok > 90 THEN 1
                   WHEN mean_wlen < 4.0 THEN 2 WHEN mean_wlen > 12.0 THEN 3
                   WHEN n_stop < 1 THEN 4 WHEN distinct_ratio < 0.3 THEN 5
                   WHEN qm.doc_id <> k.keep_id THEN 6
                   ELSE 7 END AS stage_idx
            FROM qm LEFT JOIN k ON md5(qm.text) = k.th),
    g AS (SELECT stage_idx, count(*) AS n_rows,
                 array_to_string(list_sort(list(doc_id))[1:3], ',') AS sample_ids
          FROM att GROUP BY 1),
    dim AS (SELECT * FROM (VALUES $dimRows) AS t(stage_idx, stage, reason))
    SELECT dim.stage_idx, stage, reason,
           coalesce(g.n_rows, 0) AS n_rows,
           coalesce(g.sample_ids, '') AS sample_ids
    FROM dim LEFT JOIN g ON dim.stage_idx = g.stage_idx
    ORDER BY dim.stage_idx"""
  })((s, d) => {
    import graft.operators.Ledger, Ledger.Stage
    // NULL-text rows are dropped on BOTH legs: a NULL text makes every
    // SQL CASE comparison NULL (falls through to 'kept') while the
    // engine's NULL-fails-the-gate convention rejects at stage 0 — a
    // latent cross-engine divergence (r8 ADVICE).
    val q = graft.operators.TextOps.qualityFilter(
      Tables.documentsP(s, d).filter(col("text").isNotNull), "text",
      minTokens = 20, maxTokens = 90, minMeanWlen = 4.0, maxMeanWlen = 12.0,
      minStopwords = 1, minDistinctRatio = 0.3)
      .withColumn("th", md5(encode(col("text"), "UTF-8")))
    val keepers = q.filter(col("keep"))
      .groupBy("th").agg(min("doc_id").as("keep_id"))
    val full = q.join(keepers, Seq("th"), "left")
    Ledger.rejectLedger(full, "doc_id", Seq(
      Stage(ledgerStages(0)._1, ledgerStages(0)._2, col("n_tok") >= 20),
      Stage(ledgerStages(1)._1, ledgerStages(1)._2, col("n_tok") <= 90),
      Stage(ledgerStages(2)._1, ledgerStages(2)._2, col("mean_wlen") >= 4.0),
      Stage(ledgerStages(3)._1, ledgerStages(3)._2, col("mean_wlen") <= 12.0),
      Stage(ledgerStages(4)._1, ledgerStages(4)._2, col("n_stop") >= 1),
      Stage(ledgerStages(5)._1, ledgerStages(5)._2, col("distinct_ratio") >= 0.3),
      Stage(ledgerStages(6)._1, ledgerStages(6)._2, col("doc_id") === col("keep_id"))),
      sampleK = 3)
  })

  // ------------------------------------------- token-budget selection
  /** Token-budget corpus cut — operators.Packing.tokenBudgetPrefix:
    * rank the corpus by a quality score (distinct-token ratio here),
    * keep the best-scoring prefix whose running token total fits the
    * budget. The engine runs the two-pass banded prefix (no global
    * window); the oracle replays the identical total order
    * (score DESC, doc_id) with one window cumsum — the band
    * decomposition reproduces that cumsum exactly because the band is
    * a monotone function of the score. All-BIGINT running totals, the
    * score rounded once at 6 dp on both engines. */
  private val budgetTokens = 15000L

  val tokenBudget = Q("curate_token_budget", Some(s"""
    WITH d AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                       / len(string_split(text, ' ')), 6) AS score
               FROM documents WHERE len(string_split(text, ' ')) >= 1),
    c AS (SELECT doc_id, score, n_tok,
                 CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_tokens
          FROM d)
    SELECT doc_id, score, n_tok, cum_tokens FROM c
    WHERE cum_tokens <= $budgetTokens ORDER BY score DESC, doc_id"""
  ))((s, d) => {
    val base = Tables.documentsP(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") >= 1)
      .withColumn("score",
        round(size(array_distinct(col("toks"))).cast("double") / col("n_tok"), 6))
    graft.operators.Packing.tokenBudgetPrefix(base, "doc_id", "score",
      col("n_tok"), budget = budgetTokens, bandWidth = 0.1)
  })

  // -------------------------------------- gate + ledger integration
  /** The numeric gate FEEDING the rejection ledger as one composable
    * pipeline — the full analog of the reference's exclusion flow,
    * where perform_region_analysis.m:43-75,136-183 gates regions and
    * initialize_session_logger.m:239-458 logs each exclusion with its
    * reason: the per-supplier metric frame of `quality_gate_numeric`
    * runs through operators.Ledger.rejectLedger with the gate's rules
    * as stages in severity order, so every supplier is attributed to
    * its FIRST failing rule, each stage reports its count plus the 3
    * smallest supplier keys as inspectable examples, and survivors
    * land in `kept`. One metric aggregate + one stage-keyed aggregate
    * with O(3) sample state — composition adds no new shuffle shape. */
  private val gateLedgerStages = Seq(
    ("1_too_few_rows", "n < 20"), ("2_null_rate", "null_pct > 0.01"),
    ("3_zero_rate", "zero_pct > 0.06"), ("4_low_mean", "mean_qty < 25.0"))

  val gateLedger = Q("quality_gate_ledger", Some {
    val dimRows = (gateLedgerStages :+ ("kept", "kept")).zipWithIndex
      .map { case ((n, r), i) => s"(CAST($i AS BIGINT), '$n', '$r')" }
      .mkString(", ")
    s"""
    WITH m AS (SELECT l_suppkey, count(*) AS n,
           round(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS null_pct,
           round(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS zero_pct,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*), 4) AS mean_qty
         FROM lineitem GROUP BY 1),
    att AS (SELECT l_suppkey,
              CASE WHEN n < 20 THEN 0 WHEN null_pct > 0.01 THEN 1
                   WHEN zero_pct > 0.06 THEN 2 WHEN mean_qty < 25.0 THEN 3
                   ELSE 4 END AS stage_idx
            FROM m),
    g AS (SELECT stage_idx, count(*) AS n_rows,
                 array_to_string(list_sort(list(l_suppkey))[1:3], ',') AS sample_ids
          FROM att GROUP BY 1),
    dim AS (SELECT * FROM (VALUES $dimRows) AS t(stage_idx, stage, reason))
    SELECT dim.stage_idx, stage, reason,
           coalesce(g.n_rows, 0) AS n_rows,
           coalesce(g.sample_ids, '') AS sample_ids
    FROM dim LEFT JOIN g ON dim.stage_idx = g.stage_idx
    ORDER BY dim.stage_idx"""
  })((s, d) => {
    import graft.operators.Ledger, Ledger.Stage
    val m = Tables.lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"),
        round(sum(when(col("l_discount").isNull, 1).otherwise(0)).cast("double")
          / count(lit(1)), 6).as("null_pct"),
        round(sum(when(col("l_discount") === 0, 1).otherwise(0)).cast("double")
          / count(lit(1)), 6).as("zero_pct"),
        round(stableSum(col("l_quantity"), 6) / count(lit(1)), 4).as("mean_qty"))
    Ledger.rejectLedger(m, "l_suppkey", Seq(
      Stage(gateLedgerStages(0)._1, gateLedgerStages(0)._2, col("n") >= 20),
      Stage(gateLedgerStages(1)._1, gateLedgerStages(1)._2, col("null_pct") <= 0.01),
      Stage(gateLedgerStages(2)._1, gateLedgerStages(2)._2, col("zero_pct") <= 0.06),
      Stage(gateLedgerStages(3)._1, gateLedgerStages(3)._2, col("mean_qty") >= 25.0)),
      sampleK = 3)
  })

  // ------------------------------------- token budget in BPE units
  /** Token-budget cut denominated in SUBWORD tokens —
    * operators.TextOps.bpeTokenCount (the committed Sennrich merge
    * list, QText.bpeMerges) feeding the same banded two-pass prefix as
    * `curate_token_budget`: rank by quality score, keep the best
    * prefix whose running BPE-token total fits the budget. This is the
    * unit a trainer consumes — whitespace words under-count the
    * sequence length the budget actually buys (~2.3 pieces/word on
    * this corpus), so a word-denominated budget overshoots. The
    * tokenizer is a row-local codegen'd string chain; the oracle
    * replays the identical chain and cumsum. */
  private val budgetBpeTokens = 40000L

  val tokenBudgetBpe = Q("curate_token_budget_bpe", Some(s"""
    WITH d AS (SELECT doc_id,
                 ${QText.bpeCountDuck("text")} AS n_tok,
                 round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                       / len(string_split(text, ' ')), 6) AS score
               FROM documents WHERE len(string_split(text, ' ')) >= 1),
    c AS (SELECT doc_id, score, n_tok,
                 CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_tokens
          FROM d)
    SELECT doc_id, score, n_tok, cum_tokens FROM c
    WHERE cum_tokens <= $budgetBpeTokens ORDER BY score DESC, doc_id"""
  ))((s, d) => {
    val base = Tables.documentsP(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 1)
      .withColumn("score",
        round(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")), 6))
      .withColumn("n_tok",
        graft.operators.TextOps.bpeTokenCount(col("text"), QText.bpeMerges))
    graft.operators.Packing.tokenBudgetPrefix(base, "doc_id", "score",
      col("n_tok"), budget = budgetBpeTokens, bandWidth = 0.1)
  })

  // ------------------------------------------- numeric quality gate
  /** Group-level numeric data-quality gate — the engine analog of the
    * reference's per-region NaN-% / zero-% / min-mean-rate gate
    * (Matlab_part/perform_region_analysis.m:136-183): per supplier,
    * the null rate and zero rate of the discount column and the mean
    * quantity, gated on row count + all three metrics, with the failed
    * rules named in a deterministic reasons string (the exclusion
    * report). One hash aggregate; the mean rides a DECIMAL sum so the
    * gate compares bit-identical doubles on both engines. */
  val qualityGate = Q("quality_gate_numeric", Some("""
    WITH m AS (SELECT l_suppkey, count(*) AS n,
           round(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS null_pct,
           round(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS zero_pct,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*), 4) AS mean_qty
         FROM lineitem GROUP BY 1)
    SELECT l_suppkey, n, null_pct, zero_pct, mean_qty,
           (n >= 20 AND null_pct <= 0.01 AND zero_pct <= 0.06
            AND mean_qty >= 25.0) AS passed,
           concat_ws(',',
             CASE WHEN n < 20 THEN 'too_few_rows' END,
             CASE WHEN null_pct > 0.01 THEN 'null_rate' END,
             CASE WHEN zero_pct > 0.06 THEN 'zero_rate' END,
             CASE WHEN mean_qty < 25.0 THEN 'low_mean' END) AS fail_reasons
    FROM m ORDER BY 1"""
  ))((s, d) => {
    val m = Tables.lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"),
        round(sum(when(col("l_discount").isNull, 1).otherwise(0)).cast("double")
          / count(lit(1)), 6).as("null_pct"),
        round(sum(when(col("l_discount") === 0, 1).otherwise(0)).cast("double")
          / count(lit(1)), 6).as("zero_pct"),
        round(stableSum(col("l_quantity"), 6) / count(lit(1)), 4).as("mean_qty"))
    m.select(col("l_suppkey"), col("n"), col("null_pct"), col("zero_pct"),
        col("mean_qty"),
        (col("n") >= 20 && col("null_pct") <= 0.01 && col("zero_pct") <= 0.06
          && col("mean_qty") >= 25.0).as("passed"),
        concat_ws(",",
          when(col("n") < 20, "too_few_rows"),
          when(col("null_pct") > 0.01, "null_rate"),
          when(col("zero_pct") > 0.06, "zero_rate"),
          when(col("mean_qty") < 25.0, "low_mean")).as("fail_reasons"))
      .orderBy("l_suppkey")
  })

  // ------------------------------------------- per-domain cap
  /** Per-domain document cap — operators.Sampling.domainCap: keep the
    * 20 best documents of every source under (distinct-token-ratio
    * DESC, doc_id), with each domain's pre-cap count beside the kept
    * rows. The engine selects through the bounded-state top-k
    * aggregate (O(cap) state per domain, map-side combine — a crawl's
    * hottest host never sorts its corpus-sized posting on one task);
    * the oracle replays the row_number window over the identical
    * 6-dp-rounded score with the unique-id tie-break, so the kept set
    * and ranks are bit-equal. */
  private val domainCapK = 20

  val domainCap = Q("curate_domain_cap", Some(s"""
    WITH d AS (SELECT doc_id, source,
                 round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                       / len(string_split(text, ' ')), 6) AS score
               FROM documents WHERE text IS NOT NULL),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn,
                 count(*) OVER (PARTITION BY source) AS n_docs
          FROM d)
    SELECT source, CAST(rn AS BIGINT) AS rk, doc_id, score, n_docs
    FROM r WHERE rn <= $domainCapK ORDER BY source, rk"""
  ))((s, d) => {
    val base = Tables.documentsP(s, d).filter(col("text").isNotNull)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("score",
        round(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")), 6))
    graft.operators.Sampling.domainCap(base, "source", "doc_id",
        col("score"), domainCapK)
      .orderBy("source", "rk")
  })

  // ------------------------------------------- DSIR importance weights
  /** DSIR-style importance weights — operators.TextOps.dsirWeights:
    * add-one-smoothed unigram LMs on the English subset (target) and
    * the whole corpus (raw), every document scored by its
    * log-likelihood ratio. The published importance-resampling
    * selector for "more of THIS distribution" corpus shifts. The
    * oracle rebuilds both LMs from the same token stream and replays
    * the 6-dp term rounding + DECIMAL doc sums. */
  val dsir = Q("curate_dsir_weights", Some("""
    WITH toks AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
             unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
    v AS (SELECT tok, count(*) AS cnt_c, sum(tgt) AS cnt_t FROM toks GROUP BY 1),
    n AS (SELECT sum(cnt_c) AS n_c, sum(cnt_t) AS n_t, count(*) AS v FROM v),
    s AS (
      SELECT doc_id,
             round(ln(CAST(cnt_t + 1 AS DOUBLE) / (n_t + v))
                   - ln(CAST(cnt_c + 1 AS DOUBLE) / (n_c + v)), 6) AS term
      FROM toks JOIN v USING (tok) CROSS JOIN n)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           round(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE), 6) AS log_weight
    FROM s GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    // coalesce: a NULL lang must count as non-target (the SQL CASE's
    // ELSE 0), not poison the conditional count with NULL
    graft.operators.TextOps.dsirWeights(
        Tables.documentsP(s, d), "doc_id", "text",
        coalesce(col("lang") === "en", lit(false)))
      .orderBy("doc_id"))

  // ------------------------------------------- quality/cost skyline
  /** Pareto frontier of the quality-vs-cost tradeoff: the documents no
    * other document beats on BOTH axes (higher stopword-density
    * quality, fewer tokens) — the skyline a budget-constrained
    * curation run selects exemplars from ("best quality available at
    * every length budget"). Domination is strict in at least one
    * coordinate, so equal-(length, quality) docs co-survive.
    *
    * The skyline is computed WITHOUT any pairwise comparison: per-doc
    * (n_tok, quality) is row-local, per-LENGTH max quality is a
    * value-keyed aggregate (the frame is bounded by the token-length
    * RANGE — a value dimension, not the corpus), the
    * strictly-shorter-prefix max is one running-max window over that
    * length frame (unpartitioned but length-bounded — allowlisted in
    * PlanAuditSpec), and the verdict is a broadcast join back to the
    * doc stream: doc on frontier ⇔ q = its length's max AND q > every
    * shorter length's max. O(n) + O(L log L) instead of the naive
    * O(n²) dominance test. */
  val skyline = Q("curate_pareto_skyline", Some("""
    WITH q AS (SELECT doc_id,
                      len(string_split(text, ' ')) AS n_tok,
                      round(len(list_filter(string_split(text, ' '),
                            w -> w IN ('the','a','and','of','to')))::DOUBLE
                        / len(string_split(text, ' ')), 6) AS qv
               FROM documents WHERE text IS NOT NULL),
    g AS (SELECT n_tok, max(qv) AS qmax FROM q GROUP BY 1),
    p AS (SELECT n_tok, qmax,
                 max(qmax) OVER (ORDER BY n_tok
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM g)
    SELECT doc_id, q.n_tok, q.qv AS quality
    FROM q JOIN p USING (n_tok)
    WHERE q.qv = p.qmax AND (p.pmax IS NULL OR q.qv > p.pmax)
    ORDER BY q.n_tok, doc_id"""
  ))((s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    val q = Tables.documentsP(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), size(toks).as("n_tok"),
        round(size(expr("filter(split(text, ' '), w -> w IN ('the','a','and','of','to'))"))
          .cast("double") / size(toks), 6).as("qv"))
    val g = q.groupBy("n_tok").agg(max("qv").as("qmax"))
    val p = g.withColumn("pmax",
      max(col("qmax")).over(Window.orderBy("n_tok")
        .rowsBetween(Window.unboundedPreceding, -1)))
    q.join(broadcast(p), "n_tok")
      .filter(col("qv") === col("qmax") &&
        (col("pmax").isNull || col("qv") > col("pmax")))
      .select(col("doc_id"), col("n_tok"), col("qv").as("quality"))
      .orderBy("n_tok", "doc_id")
  })

  val all: Seq[Q] = Seq(pack, chunks, prisample, flags, piiRedact, qsketch,
    mixrates, epochs, pplPrune, qualityClf, clfCalibration, unigram, ledger,
    qualityGate, gateLedger, tokenBudget, tokenBudgetBpe, domainCap, dsir, skyline)
}
