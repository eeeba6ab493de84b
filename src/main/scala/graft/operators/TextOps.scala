package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Deterministic

/** Reusable text-analysis operators for corpus curation: token
  * counting, heuristic quality scoring, marker-based language ID and
  * shingle fingerprinting. DataFrame-in → DataFrame-out, schema
  * parameterized; all pure Catalyst expression chains (codegen'd, no
  * UDFs) built from engine-portable primitives (whitespace split,
  * replace-based substring counting, md5 hex).
  */
object TextOps {

  /** Substring occurrence count via the replace trick — portable to any
    * SQL engine with `replace`. */
  def occurrences(textCol: String, pattern: String): Column =
    ((length(col(textCol)) - length(expr(s"replace($textCol, '$pattern', '')"))) /
      pattern.length).cast("long")

  /** Per-group token statistics: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single other chars) and characters. */
  def tokenStats(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    docs.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("ws_tokens"),
        sum(size(expr(s"regexp_extract_all($textCol, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long")).as("bpe_tokens"),
        sum(length(col(textCol)).cast("long")).as("chars"))

  /** Heuristic quality roll-up per group: stopword ratio, mean word
    * length, short-document count. */
  def qualityStats(docs: DataFrame, groupCol: String, textCol: String,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to"),
      shortDocTokens: Int = 30): DataFrame = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    val q = docs
      .withColumn("toks", split(col(textCol), " "))
      .select(
        col(groupCol),
        size(col("toks")).as("n_tok"),
        size(expr(s"filter(toks, w -> w IN ($stopList))")).as("n_stop"),
        length(col(textCol)).as("n_chars"))
    // ratio means via the exact decimal sum (the j10 boundary class):
    // avg(double)'s accumulation order differs between engines, and a
    // 6-dp .xxxxxx5 boundary mean flips sides at some corpus size
    import graft.functions.Deterministic.stableSum
    q.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        round(stableSum(col("n_stop").cast("double") / col("n_tok"), 12)
          / count(lit(1)), 6).as("stopword_ratio"),
        round(stableSum((col("n_chars") - col("n_tok") + 1).cast("double") / col("n_tok"), 12)
          / count(lit(1)), 6).as("mean_word_len"),
        sum(when(col("n_tok") < shortDocTokens, 1L).otherwise(0L)).as("n_short"))
  }

  /** Marker-n-gram language ID: per-language marker occurrence scores,
    * argmax with first-marker (alphabetical) tie-break. Adds `predicted`
    * to the input rows. */
  def languageId(docs: DataFrame, textCol: String,
      markers: Seq[(String, Seq[String])]): DataFrame = {
    val langs = markers.map(_._1)
    val scored = markers.foldLeft(docs) { case (df, (l, pats)) =>
      df.withColumn(s"s_$l", pats.map(p => occurrences(textCol, p)).reduce(_ + _))
    }
    val best = greatest(langs.map(l => col(s"s_$l")): _*)
    val pred = langs.foldRight(lit(null).cast("string")) { (l, acc) =>
      when(col(s"s_$l") === best, lit(l)).otherwise(acc)
    }
    scored.withColumn("predicted", pred).drop(langs.map(l => s"s_$l"): _*)
  }

  /** BM25 relevance ranking of documents against a fixed query-term
    * list: the standard corpus-curation scorer (rank a crawl against a
    * quality/topic probe query; keep the head). Returns the global
    * top-`topK` as (rank, idCol, score).
    *
    * Exact-by-construction across engines: term frequency is
    * `size(w) − size(array_remove(w, term))` (native collection
    * expressions, no interpreted lambda in the per-row path, and no
    * replace-counting — the replace trick undercounts ADJACENT repeated
    * tokens because matches share the separator space); corpus stats
    * (N, df per term, avgdl) are one aggregate row broadcast back; the
    * per-term score chain is assembled in fixed left-to-right term
    * order (double addition is order-sensitive) and the oracle renders
    * the SAME Scala double constants, so both engines evaluate an
    * identical IEEE expression tree, rounded at 4 dp like the repo's
    * other transcendental chains.
    *
    * Scale shape: one pass for stats, one for scores, and the global
    * top-k is `orderBy(...).limit(k)` — Spark plans TakeOrderedAndProject
    * (per-partition heaps + driver merge of k), never a single-task
    * global sort; the rank column is a row_number over only the k
    * surviving rows. */
  def bm25Rank(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25Rank needs at least one query term")
    require(topK >= 1, s"bm25Rank needs topK >= 1, got $topK")
    val base = docs
      .withColumn("w", split(col(textCol), " "))
      .select(col(idCol) +: size(col("w")).cast("double").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          (size(col("w")) - size(array_remove(col("w"), t)))
            .cast("double").as(s"tf$i")
        }: _*)
    val statCols =
      count(lit(1)).cast("double").as("n") +:
        (sum(col("dl")) / count(lit(1))).as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val withStats = base.crossJoin(broadcast(stats))
    val termScores = terms.indices.map { i =>
      val idf = log((col("n") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5)) + lit(1.0))
      val tfPart = (col(s"tf$i") * lit(k1 + 1)) /
        (col(s"tf$i") + lit(k1) * (lit(1 - b) + lit(b) * (col("dl") / col("avgdl"))))
      idf * tfPart
    }
    val scored = withStats
      .select(col(idCol), round(termScores.reduceLeft(_ + _), 4).as("score"))
    val top = scored.orderBy(col("score").desc, col(idCol)).limit(topK)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col(idCol))).cast("long"))
      .select(col("rank"), col(idCol), col("score"))
  }

  /** Gopher-style quality gate: evaluates a battery of document-quality
    * rules (token-count bounds, mean-word-length bounds, stopword
    * presence, distinct-token ratio — the repetition signal) and labels
    * every document keep/drop with the FIRST failing rule as the reason
    * (rule order = severity order, deterministic). One row-wise pass,
    * all native expressions; the repetitiousness signal uses
    * `array_distinct` rather than any windowed self-count, so the rule
    * battery stays embarrassingly parallel at corpus scale.
    *
    * Output: input columns + (n_tok, mean_wlen, n_stop, distinct_ratio,
    * keep, drop_reason — NULL when kept). Thresholds are the classic
    * published ranges scaled for the synthetic corpus; callers tune. */
  def qualityFilter(docs: DataFrame, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 100000,
      minMeanWlen: Double = 2.0, maxMeanWlen: Double = 12.0,
      minStopwords: Int = 1, minDistinctRatio: Double = 0.05,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")): DataFrame = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    val q = docs
      .withColumn("toks", split(col(textCol), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("mean_wlen",
        (length(col(textCol)) - col("n_tok") + lit(1)).cast("double") / col("n_tok"))
      .withColumn("n_stop",
        size(expr(s"filter(toks, w -> w IN ($stopList))")).cast("long"))
      .withColumn("distinct_ratio",
        size(array_distinct(col("toks"))).cast("double") / col("n_tok"))
      .drop("toks")
    // first failing rule wins: evaluation order is the severity order
    val reason =
      when(col("n_tok") < minTokens, "too_short")
        .when(col("n_tok") > maxTokens, "too_long")
        .when(col("mean_wlen") < minMeanWlen, "words_too_short")
        .when(col("mean_wlen") > maxMeanWlen, "words_too_long")
        .when(col("n_stop") < minStopwords, "no_stopwords")
        .when(col("distinct_ratio") < minDistinctRatio, "too_repetitive")
        .otherwise(lit(null).cast("string"))
    q.withColumn("drop_reason", reason)
      .withColumn("keep", col("drop_reason").isNull)
  }

  /** Unigram language-model surprisal per document — the CCNet-style
    * LM quality score, with the corpus itself as the model: build the
    * unigram distribution p(w) = count(w)/N over all docs, then score
    * each doc by its mean token negative log-probability. Low scores =
    * stereotypical text, high scores = rare-token-heavy text; both
    * tails are the standard curation cut.
    *
    * Scale shape: the model build is ONE token-keyed aggregate
    * (map-side combine reduces each partition to its distinct tokens
    * before the shuffle — the classic vocab-build job), and scoring
    * joins the exploded token stream to the vocab on the token key —
    * an equi-join that lets Catalyst broadcast a small vocabulary or
    * shuffle a 100 TB one, then re-groups by doc. Nothing corpus-sized
    * ever converges on fewer keys than (token) or (doc).
    *
    * Determinism: p(w) is a ratio of exact integers, each token's
    * −ln p is rounded to 6 dp, and the per-doc mean divides their
    * DECIMAL sum — accumulation order never reaches a float, so the
    * score is bit-stable across partitionings and engines.
    *
    * Output: (idCol, carry..., n_tok, logprob_score), one row per doc
    * with non-NULL text. */
  def unigramLogprob(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = (idCol +: carry).map(col)
    val toks = docs.filter(col(textCol).isNotNull)
      .select(keys :+ explode(split(col(textCol), " ")).as("tok"): _*)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val n = toks.select(count(lit(1)).as("n_total"))
    toks.join(vocab, "tok").crossJoin(broadcast(n))
      .withColumn("nll",
        round(-log(col("cnt").cast("double") / col("n_total")), 6))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_tok"),
        (Deterministic.stableSum(col("nll"), 6) / count(lit(1))).as("logprob_score"))
      .withColumn("logprob_score", round(col("logprob_score"), 6))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): fit two add-one-
    * smoothed unigram LMs — one on the TARGET subset (the distribution
    * you want more of), one on the whole raw corpus — and weight every
    * document by its log-likelihood ratio
    * log p_target(doc) − log p_raw(doc). Documents that look like the
    * target rank high; resampling the corpus by these weights shifts
    * the mixture toward the target domain without hand-written rules.
    *
    * Scale shape mirrors [[unigramLogprob]]: BOTH models come out of
    * the SAME token-keyed aggregate (the target counts ride as a
    * conditional sum beside the corpus counts — one vocab build, not
    * two), scoring is one equi-join of the token stream against that
    * vocab, and the doc roll-up is one id-keyed aggregate. Nothing
    * corpus-sized converges on fewer keys than (token) or (doc).
    *
    * Determinism: both likelihoods are add-one ratios of exact
    * integers; each token's log-ratio term is rounded to 6 dp and the
    * per-doc sum rides DECIMAL — bit-stable across partitionings and
    * engines. Tokens outside the target subset's support still score
    * (the +1 smoothing), exactly as the paper's estimator requires.
    *
    * Output: (idCol, n_tok, log_weight), one row per doc with
    * non-NULL text; log_weight > 0 ⇔ the doc is more probable under
    * the target LM. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), isTarget.cast("long").as("tgt"),
        explode(split(col(textCol), " ")).as("tok"))
    val vocab = toks.groupBy("tok")
      .agg(count(lit(1)).as("cnt_c"), sum("tgt").as("cnt_t"))
    val tot = vocab.agg(sum("cnt_c").as("n_c"), sum("cnt_t").as("n_t"),
      count(lit(1)).as("v"))
    toks.join(vocab, "tok").crossJoin(broadcast(tot))
      .withColumn("term", round(
        log((col("cnt_t") + 1).cast("double") / (col("n_t") + col("v")))
          - log((col("cnt_c") + 1).cast("double") / (col("n_c") + col("v"))), 6))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tok"),
        round(Deterministic.stableSum(col("term"), 6), 6).as("log_weight"))
  }

  /** N-gram novelty score: the fraction of a document's DISTINCT
    * word n-grams that appear in no other document — high novelty =
    * genuinely new content, low novelty = boilerplate / near-dup /
    * template text. The positive complement of the dedup family: where
    * near-dup pairs tell you what to REMOVE, novelty ranks what the
    * corpus gains by KEEPING a document (and a corpus-level novelty
    * drop over time is the standard crawl-saturation signal).
    *
    * Shape: one shingle pass ((hi, lo) md5 gram keys, distinct per doc
    * via [[Dedup.shingles]]), document frequency by ONE gram-keyed window
    * over that stream, then the per-doc roll-up — shuffles key on
    * (gram) and (doc), never fewer. All-integer until the one rounded
    * ratio. Output: (idCol, n_grams, n_novel, novelty). */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Dedup.shingles(docs, textCol, Seq(idCol), n)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh_hi", "sh_lo")))
    sh.groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  /** Named-regex flagging battery: one `n_<name>` match-count column
    * per pattern plus a `flagged` bit — the mechanism behind the two
    * standard curation passes that are regex sweeps over every
    * document: PII detection (emails, phone numbers, IP addresses,
    * URLs) and ban-list term filtering (the C4-style "bad words"
    * gate). The pattern set is caller data, not code: production runs
    * plug in their PII/ban-list battery, the registry query pins a
    * fixed battery for the oracle.
    *
    * One row-local pass, no shuffle — `regexp_count` per pattern over
    * the text column, embarrassingly parallel at corpus scale. Pattern
    * hygiene is the caller's contract: patterns must be valid in BOTH
    * Java regex and the oracle engine's dialect (RE2) for gate parity,
    * which in practice means the common subset (no backrefs, no
    * lookbehind). A NULL text yields NULL counts and flagged = NULL
    * (unknown), mirroring SQL three-valued logic.
    *
    * Output: input columns + n_<name> per pattern (declaration order)
    * + `flagged` (any count > 0). */
  def patternFlags(docs: DataFrame, textCol: String,
      patterns: Seq[(String, String)]): DataFrame = {
    require(patterns.nonEmpty, "patternFlags needs at least one pattern")
    val counted = countPatterns(docs, textCol, patterns)
    val any = patterns.map { case (name, _) => col(s"n_$name") > 0 }
      .reduce(_ || _)
    counted.withColumn("flagged", any)
  }

  /** The shared counting stage of [[patternFlags]] and [[redact]]: one
    * `n_<name>` long column per (name, pattern) — a single definition
    * so the detect and rewrite halves cannot drift apart (the
    * counts-match invariant PropertySpec pins). */
  private def countPatterns(docs: DataFrame, textCol: String,
      patterns: Seq[(String, String)]): DataFrame =
    patterns.foldLeft(docs) { case (df, (name, pat)) =>
      df.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)).cast("long"))
    }

  /** PII-class redaction — the REWRITE half of the [[patternFlags]]
    * audit (detect → redact is the standard pre-training privacy pass:
    * emails, phone numbers, IPs replaced by class tokens before the
    * corpus ships). Each rule is (name, pattern, token); matches of
    * `pattern` are replaced by `token`, rules applied in declaration
    * order. Per-rule counts `n_<name>` are taken BEFORE any rewrite, so
    * a rule whose matches an earlier rule consumed still reports what
    * the raw text contained. Pattern hygiene as in [[patternFlags]]:
    * the Java∩RE2 subset, and tokens must be literal (no `$n` group
    * references — Java would expand them, RE2 oracles would not).
    *
    * Scale shape: counts and replacement are row-local codegen'd regex
    * over the text column — zero shuffles, embarrassingly parallel; a
    * corpus-scale scrub job is this projection plus a parquet write.
    * Output: input columns + n_<name> per rule + `out` (the scrubbed
    * text; NULL text stays NULL). */
  def redact(docs: DataFrame, textCol: String, out: String,
      rules: Seq[(String, String, String)]): DataFrame = {
    require(rules.nonEmpty, "redact needs at least one rule")
    val counted = countPatterns(docs, textCol, rules.map(r => (r._1, r._2)))
    val scrubbed = rules.foldLeft(col(textCol)) { case (c, (_, pat, tok)) =>
      regexp_replace(c, pat, tok)
    }
    counted.withColumn(out, scrubbed)
  }

  /** Benchmark decontamination: the training docs sharing at least one
    * distinct word `ngram` with a held-out evaluation set — the standard
    * pre-training hygiene pass (eval n-grams must not leak into the
    * training corpus). Output: one row per CONTAMINATED train doc,
    * (idCol, n_shared = distinct shared shingles).
    *
    * Scale shape: the eval side is benchmark-sized (thousands of docs)
    * while train is the corpus, so the eval shingle set is deduped and
    * BROADCAST — the corpus shingle stream passes through a broadcast
    * hash join UN-deduplicated (no corpus-wide shuffle) and only the
    * matching occurrences (rare by construction) reach the per-doc
    * distinct count. Never an all-pairs or corpus-shuffling plan. */
  def contamination(train: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, ngram: Int = 5): DataFrame = {
    val evalSh = Dedup.shingles(evalSet, textCol, Seq.empty, ngram)
    val trainSh = Dedup.shingles(train, textCol, Seq(idCol), ngram, dedup = false)
    trainSh.join(broadcast(evalSh), Seq("sh_hi", "sh_lo"))
      .groupBy(idCol)
      .agg(countDistinct(col("sh_hi"), col("sh_lo")).as("n_shared"))
  }

  /** Gopher-style intra-document repetition signals over word n-grams:
    * `top_bigram_frac` (occurrences of the most frequent bigram over all
    * bigram occurrences — boilerplate headers/footers light this up) and
    * `dup_trigram_frac` (fraction of trigram occurrences whose trigram
    * appears more than once — templated spam lights this up). One row
    * per document with ≥ 3 tokens (both signals defined), idCol +
    * `carry` + the two fractions.
    *
    * Both signals run in ONE row-local native expression
    * (functions.RepetitionSignals, `graft_repetition`): the fractions
    * are per-document values, so the earlier two-scan gram-explode +
    * gram-keyed groupBy + join formulation paid two corpus shuffles to
    * reassemble row-local ratios. One scan, zero shuffles before
    * whatever aggregate the caller runs; bit-identical ratios
    * (spec-pinned). */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = (idCol +: carry).map(col)
    docs
      .select(keys :+ expr(s"graft_repetition($textCol)").as("r"): _*)
      .filter(col("r").isNotNull) // < 3 tokens: either signal undefined
      .select(keys :+ col("r.top_bigram_frac").as("top_bigram_frac") :+
        col("r.dup_trigram_frac").as("dup_trigram_frac"): _*)
  }

  /** Per-group vocabulary statistics: distinct token count, total
    * token occurrences, hapax legomena (tokens occurring exactly once)
    * and the type-token ratio — the standard corpus-composition report
    * (vocabulary growth / lexical diversity per source or language).
    *
    * Unlike the row-local signals, vocabulary is a CROSS-document
    * property, so the (group, token) count shuffle is inherent — but
    * it is one map-side-combinable aggregate of the token stream, and
    * the per-group roll-up runs on the (bounded) vocabulary table, not
    * on occurrences. */
  def vocabStats(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    docs
      .select(col(groupCol), explode(split(col(textCol), " ")).as("t"))
      .groupBy(groupCol, "t").agg(count(lit(1)).as("c"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("vocab"),
        sum("c").as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        round(count(lit(1)).cast("double") / sum("c"), 6).as("type_token_ratio"))

  /** Robust length-outlier gate per group: exact lower median and MAD
    * (median absolute deviation) of the whitespace token count, then
    * every document with |len − median| > `c`·MAD flagged. The robust
    * pair is the curation-grade outlier detector (mean/stddev move with
    * the outliers they are supposed to catch; median/MAD do not).
    *
    * Both order statistics are computed on the f10 distinct-value
    * HISTOGRAM form: group → (value, count) → running sum over
    * DISTINCT values, so the rank windows run over the value domain
    * (token lengths — bounded) rather than corpus rows, and everything
    * is exact integer arithmetic end-to-end (no interpolated quantile,
    * no doubles) — deterministic at any scale and replayable by a
    * rank-over-rows oracle. The two tiny (group, statistic) tables are
    * broadcast back; the corpus is scanned, never sorted.
    *
    * Output per group: n_docs, median_tok, mad_tok, n_outliers. */
  def robustLengthOutliers(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, c: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(c >= 1, s"robustLengthOutliers needs c >= 1, got $c")
    // NULL text ⇒ NULL token count; dropped up front — a NULL entering
    // the histogram would sit at a different end of the rank window in
    // Spark (NULLS FIRST default) than in a NULLS-LAST oracle, silently
    // shifting the median. A null-text doc has no length to gate on.
    val l = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), col(groupCol),
        size(split(col(textCol), " ")).cast("long").as("nt"))
    // lower median over a (group, value, count) histogram: the value at
    // row-rank ceil(n/2) — rank windows over distinct values, not rows
    def histMedian(hist: DataFrame, v: String, out: String): DataFrame = {
      val wCum = Window.partitionBy(groupCol).orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(groupCol)
      hist
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(wTot))
        .withColumn("k", ceil(lit(0.5) * col("n")).cast("long"))
        .filter(col("cum") - col("c") < col("k") && col("k") <= col("cum"))
        .select(col(groupCol), col(v).as(out))
    }
    val med = histMedian(
      l.groupBy(groupCol, "nt").agg(count(lit(1)).as("c")), "nt", "med")
    // the deviation HISTOGRAM carries everything downstream: the MAD is
    // its median, and the outlier count is a sum of its cells — so the
    // corpus is scanned exactly twice (length histogram, deviation
    // histogram) and the final aggregate runs on the tiny histogram,
    // never a third corpus pass. `med` is constant per group, so
    // keeping it in the histogram key adds no rows.
    val devHist = l.join(broadcast(med), groupCol)
      .select(col(groupCol), col("med"), abs(col("nt") - col("med")).as("dv"))
      .groupBy(groupCol, "med", "dv").agg(count(lit(1)).as("c"))
    val mad = histMedian(devHist, "dv", "mad")
    devHist.join(broadcast(mad), groupCol)
      .groupBy(groupCol)
      .agg(sum("c").as("n_docs"),
        max("med").as("median_tok"),
        max("mad").as("mad_tok"),
        sum(when(col("dv") > lit(c) * col("mad"), col("c")).otherwise(lit(0L)))
          .as("n_outliers"))
  }

  /** Per-document shingle fingerprint: count + lexicographic min of the
    * word n-gram md5s (non-distinct count, so `n_shingles` = tokens −
    * n + 1). Both values are per-document, so this is a pure
    * PROJECTION: the occurrence count is token arithmetic and the min
    * md5 is read from the shingle set of [[Dedup.minhashSigTable]] (the
    * overall min equals the distinct-set min) — no explode, no groupBy
    * shuffle. The set is sorted (hi, lo) digest pairs in unsigned
    * order, the order of their lowercase hex spellings, so the minimum
    * is pair 0, spelled as two zero-padded 16-digit halves. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    def half(i: Int) = lpad(hex(element_at(col("s"), i)), 16, "0")
    Dedup.minhashSigTable(
        docs.withColumn("n_shingles",
          (size(split(col(textCol), " ")) - n + 1).cast("long")),
        idCol, textCol, Seq("n_shingles"), n, 1)
      .select(col(idCol), col("n_shingles"),
        lower(concat(half(1), half(2))).as("fingerprint"))
  }

  /** Per-document bigram-LM negative log-likelihood with add-α
    * smoothing — the CCNet-style perplexity signal (Wenzek et al.
    * 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data"): documents whose word sequences are improbable
    * under a corpus LM are boilerplate/garble candidates; documents
    * too probable are templated. Complements [[unigramLogprob]] with
    * ORDER sensitivity: P(w₂|w₁) = (c(w₁,w₂) + α) / (c₁(w₁) + α·V)
    * over corpus bigram counts, c₁ the bigram-start total, V the
    * corpus vocab.
    *
    * Shape: the bigram stream is built ROW-LOCALLY with native
    * `arrays_zip(slice, slice)` (no interpreted lambda, no positional
    * self-join shuffle); counts are two map-side-combinable aggregates
    * (bigram-keyed, unigram-keyed); scoring joins the stream to the
    * count tables on their natural keys. Per-position NLLs are
    * rounded then DECIMAL-summed, so the per-doc mean is bit-stable
    * under any partitioning; perplexity is exp of the ROUNDED mean,
    * rounded once more — both engines evaluate identical operands.
    *
    * Output: (idCol, n_bigrams, avg_nll, ppl) for docs with ≥ 2
    * tokens.
    *
    * `memoKey` parks the TRAINED LM — the (w1, w2) → (c, c1, nv) count
    * table, a bigram-TYPE-sized model frame, never doc-sized — in the
    * session memo tier as an eager localCheckpoint leaf (the
    * codebook/IRLS-β discipline): the two registry consumers
    * (text_perplexity_bigram, curate_perplexity_prune) train the SAME
    * corpus LM, and per-evaluation only the scoring pass (bigram
    * stream ⋈ LM + per-doc fold) re-runs. The per-DOC scores are
    * deliberately NOT memoized — they are corpus-sized, which the
    * memo contract excludes. */
  def bigramLogprob(docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5, memoKey: Option[String] = None): DataFrame = {
    require(alpha > 0.0, s"bigramLogprob needs alpha > 0, got $alpha")
    val w = docs
      .withColumn("w", split(col(textCol), " "))
      .filter(size(col("w")) >= 2)
      .select(col(idCol), col("w"))
    val bg = CacheScope.persist(w.select(col(idCol),
        explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1))).as("pr"))
      .select(col(idCol), col("pr.0").as("w1"), col("pr.1").as("w2")))
    // nv rides on every LM row (8 bytes) so scoring needs no separate
    // 1-row vocab broadcast — the psiDrift job-count trick
    def buildLm: DataFrame = {
      val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val c1 = cb.groupBy("w1").agg(sum("c").as("c1"))
      val v = w.select(explode(col("w")).as("u"))
        .agg(countDistinct("u").as("nv"))
      cb.join(c1, Seq("w1")).crossJoin(broadcast(v))
        .select(col("w1"), col("w2"), col("c"), col("c1"), col("nv"))
    }
    val lm = memoKey.map(mk => Memo.cached(s"$mk/bigram-lm") {
      buildLm.localCheckpoint(true)
    }).getOrElse(buildLm)
    val scored = bg.join(lm, Seq("w1", "w2"))
      .select(col(idCol),
        round(-log((col("c") + lit(alpha)) /
          (col("c1") + lit(alpha) * col("nv"))), 6).as("nll"))
    // The per-term nll is an exact 6-dp decimal, so the 6-dp-rounded
    // mean has an EXACT integer form: with K = Σ nll·10⁶ and n terms,
    // half-up rounding is (2K + n) div (2n), all in integers. Rounding
    // the double quotient instead is a latent engine split: the same
    // pre-round double (e.g. 3.3986804999999998, sf1 doc family 885)
    // rounds DOWN under Spark's exact-BigDecimal round but UP under
    // DuckDB's, whose value·10⁶ multiply lands exactly on .5 — a
    // round()-implementation divergence the stable SUM alone cannot
    // close. Integer arithmetic is identical everywhere.
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (Deterministic.decimalSum(col("nll"), 28, 6)
          * lit(1000000L)).cast("long").as("k6"))
      .select(col(idCol), col("n_bigrams"),
        (expr("(2 * k6 + n_bigrams) div (2 * n_bigrams)").cast("double")
          / lit(1000000.0)).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 4))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    * ranked retrieval lists — the standard way to combine a lexical
    * (BM25) and a semantic (embedding-cosine) leg without score
    * calibration: rrf(d) = Σ_lists 1/(k + rank_list(d)), documents
    * absent from a list contribute 0 from it. Each input is
    * (idCol, rankCol) ALREADY truncated to its own top-K, so the fused
    * frame is at most Σ K rows — the final re-rank window is
    * deliberately unpartitioned over that bounded frame (same shape as
    * [[bm25Rank]]'s post-LIMIT rank), never corpus-scaled. Lists join
    * by full outer equi-join on the id: N-1 tiny hash joins.
    *
    * Output: (rank, idCol, rrf, <name>_rank per input list). */
  def rrfFuse(lists: Seq[(String, DataFrame)], idCol: String,
      rankCol: String, k: Int = 60, topK: Int = 10): DataFrame = {
    require(lists.size >= 2, s"rrfFuse needs >= 2 lists, got ${lists.size}")
    require(k >= 1 && topK >= 1, s"rrfFuse needs k, topK >= 1")
    val legs = lists.map { case (nm, df) =>
      df.select(col(idCol), col(rankCol).cast("long").as(s"${nm}_rank"))
    }
    val joined = legs.reduce(_.join(_, Seq(idCol), "full_outer"))
    val rrf = lists.map { case (nm, _) =>
      coalesce(lit(1.0) / (lit(k) + col(s"${nm}_rank")).cast("double"), lit(0.0))
    }.reduce(_ + _)
    joined.withColumn("rrf", round(rrf, 6))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf").desc, col(idCol))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("rank") +: col(idCol) +: col("rrf") +:
        lists.map { case (nm, _) => col(s"${nm}_rank") }: _*)
  }

  /** CCNet-style per-domain perplexity pruning (Wenzek et al. 2020):
    * bucket documents head/middle/tail WITHIN their domain by
    * [[bigramLogprob]] perplexity terciles and flag the tail (most
    * improbable third) for dropping. Per-domain cuts are the point —
    * a global threshold discards whole low-resource domains that are
    * merely unlike the majority.
    *
    * Tercile cuts use exact distributed-histogram selection (the
    * f10_percentile_threshold pattern): counts per (domain, 6-dp
    * avg_nll), a cumulative window over the value-domain-bounded
    * DISTINCT-value frame partitioned by domain, cut = min value whose
    * cumulative count reaches ceil(n/3) / ceil(2n/3). No corpus-scaled
    * frame crosses an unpartitioned sort; the domain-bounded cuts
    * frame broadcasts back. Bucketing compares VALUES, so ties land in
    * the same bucket deterministically. Docs with < 2 tokens carry no
    * bigram signal and are excluded, as in [[bigramLogprob]].
    *
    * Output: (idCol, domainCol, avg_nll, ppl, bucket, keep). */
  def perplexityPrune(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, alpha: Double = 0.5,
      memoKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bigramLogprob(docs, idCol, textCol, alpha, memoKey)
      .join(docs.select(idCol, domainCol), Seq(idCol))
    val wCum = Window.partitionBy(domainCol).orderBy("avg_nll")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = scored.groupBy(domainCol, "avg_nll").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(Window.partitionBy(domainCol)))
      .groupBy(domainCol)
      .agg(
        min(when(col("cum") >= ceil(col("n") / lit(3.0)).cast("long"),
          col("avg_nll"))).as("cut1"),
        min(when(col("cum") >= ceil(col("n") * 2 / lit(3.0)).cast("long"),
          col("avg_nll"))).as("cut2"))
    scored.join(broadcast(cuts), Seq(domainCol))
      .select(col(idCol), col(domainCol), col("avg_nll"), col("ppl"),
        when(col("avg_nll") <= col("cut1"), "head")
          .when(col("avg_nll") <= col("cut2"), "middle")
          .otherwise("tail").as("bucket"),
        (col("avg_nll") <= col("cut2")).as("keep"))
  }

  // --------------------------------------------------- BPE tokenizer
  // Subword tokenization (Sennrich, Haddow & Birch 2016, "Neural
  // Machine Translation of Rare Words with Subword Units"): a text is
  // seeded as per-character symbols and a LEARNED merge list is applied
  // in priority order, each merge fusing every adjacent (x, y) symbol
  // pair into xy. This is the unit a trainer actually consumes — the
  // token-denominated curation operators (budget, packing, mixing)
  // over-count with whitespace words.
  //
  // Representation: every symbol is wrapped U+0001 symbol U+0002 inside
  // one string, so a merge rule is ONE plain `replace` of
  // "(x)(y)" with "(xy)" in that encoding — non-
  // overlapping left-to-right, exactly the order Sennrich's reference
  // apply visits pairs, and exactly the semantics of `replace` in
  // every SQL engine (the DuckDB oracle replays the chain verbatim via
  // chr(1)/chr(2) concatenation). Space symbols are never part of a
  // merge rule, so merges cannot cross word boundaries — the whole
  // text encodes in ONE pass, no per-word explode. The entire
  // tokenizer is a flat codegen'd string-function chain: no UDF, no
  // higher-order lambda (both measured interpreted), no shuffle.

  private val BpeL = "\u0001" // symbol open
  private val BpeR = "\u0002" // symbol close

  private def bpeWrapped(x: String) = s"$BpeL$x$BpeR"

  /** The merge-applied symbol string for `textCol` (internal encoding;
    * consumers use [[bpeTokenCount]] / [[bpePieces]]). `merges` is the
    * learned rule list IN PRIORITY ORDER; symbols must not contain
    * spaces or the U+0001/U+0002 delimiters. */
  def bpeEncoded(textCol: Column, merges: Seq[(String, String)]): Column = {
    merges.foreach { case (x, y) =>
      require(x.nonEmpty && y.nonEmpty &&
        !(x + y).exists(c => c == ' ' || c == '\u0001' || c == '\u0002'),
        s"BPE merge symbols must be non-empty and delimiter/space-free, got ($x, $y)")
    }
    val seeded = regexp_replace(textCol, "(?s)(.)", s"$BpeL$$1$BpeR")
    merges.foldLeft(seeded) { case (c, (x, y)) =>
      replace(c, lit(bpeWrapped(x) + bpeWrapped(y)), lit(bpeWrapped(x + y)))
    }
  }

  /** BPE token count of `textCol` under `merges`: symbols after all
    * merges, minus the space symbols (spaces separate words; they are
    * not tokens). Empty/NULL text counts 0. */
  def bpeTokenCount(textCol: Column, merges: Seq[(String, String)]): Column = {
    val nSyms = size(split(bpeEncoded(textCol, merges), BpeR + BpeL))
    val nSpaces = length(textCol) - length(replace(textCol, lit(" "), lit("")))
    when(textCol.isNull || length(textCol) === 0, lit(0L))
      .otherwise((nSyms - nSpaces).cast("long"))
  }

  /** Exploded (idCol, pos, piece) token rows of each document under
    * `merges` — the tokenizer's inspection surface (piece frequencies,
    * vocab coverage). `pos` is the 1-based symbol position INCLUDING
    * space symbols (so it is a stable within-doc order key); space
    * pieces themselves are dropped. Row-local explode — no shuffle. */
  def bpePieces(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    docs
      .filter(col(textCol).isNotNull && length(col(textCol)) >= 1)
      .select(col(idCol),
        posexplode(split(replace(bpeEncoded(col(textCol), merges),
          lit(BpeL), lit("")), BpeR)))
      .filter(col("col") =!= "" && col("col") =!= " ")
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("piece"))

  /** Canonical text normalization — the pre-dedup cleanup pass: lower-
    * case, collapse whitespace runs to single spaces, trim. Row-local
    * projection (adds `norm_text`); run it BEFORE exact/near dedup so
    * cosmetic variants (case, spacing) collapse into one canonical
    * form. The regex stays in the Java∩RE2 subset so external engines
    * replay it byte-for-byte on ASCII corpora. */
  def normalize(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("norm_text",
      trim(regexp_replace(lower(col(textCol)), "\\s+", " ")))

  /** Out-of-vocabulary rate under a top-`vocabSize` frequency vocab —
    * the tokenizer-budget planning report: what fraction of each
    * group's token mass a truncated vocabulary fails to cover. The
    * vocab build is one token-keyed count (map-side combined) then a
    * top-`vocabSize` selection via orderBy+limit — Spark plans this as
    * TakeOrderedAndProject (per-partition top-k, O(vocabSize) state per
    * task, merged on the driver), so the 10⁸–10⁹-distinct-token frame
    * of a web corpus never funnels through one partition (cnt desc,
    * token asc — deterministic ties); the scoring pass LEFT-joins the
    * BROADCAST vocab, so the corpus stream is scanned once and never
    * shuffled by token. */
  def oovRate(docs: DataFrame, groupCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol), explode(split(col(textCol), " ")).as("__tok"))
    val vocab = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__tok"))
      .limit(vocabSize)
      .select(col("__tok"), lit(1L).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Per-document TF-IDF keyword extraction: the `topK` terms that most
    * distinguish each document from the corpus — tf · (ln((N+1)/(df+1))
    * + 1), the smoothed-idf convention that keeps corpus-wide terms
    * finite. The metadata-tagging staple (search facets, topic hints,
    * weak labels) next to BM25's query-side ranking.
    *
    * Scale shape: term frequencies are one (doc, token)-keyed count,
    * document frequencies one token-keyed count joined back on the
    * token key (broadcast for a bounded vocab, shuffle for a web-scale
    * one — Catalyst's choice), and the top-K rank window is PARTITIONED
    * by document, so every sort is one document's vocabulary. Scores
    * are rounded to 6 dp BEFORE ranking: the rounded value is the
    * cross-engine parity layer (ln differs by ulps across libm
    * implementations), and ties inside a 6-dp bucket break by token.
    *
    * Output: (idCol, rk, term, score), rk ∈ 1..topK.
    *
    * `memoKey` parks the trained IDF side — the (term, df, N) table, a
    * vocab-TYPE-sized model frame (the bigram-LM / codebook class) —
    * in the session memo tier as an eager localCheckpoint leaf, with
    * the doc count N riding per row so scoring needs no separate 1-row
    * broadcast; per evaluation only the tf count + score join + per-doc
    * rank re-run. */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      topK: Int, memoKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    def buildIdf: DataFrame = {
      val n = docs.filter(col(textCol).isNotNull)
        .agg(count(lit(1)).as("__n"))
      toks.select(col(idCol), col("term")).distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select(col("term"), col("df"), col("__n"))
    }
    val idf = memoKey.map(mk => Memo.cached(s"$mk/tfidf-idf") {
      buildIdf.localCheckpoint(true)
    }).getOrElse(buildIdf)
    val scored = tf.join(idf, "term")
      .withColumn("score", round(col("tf") *
        (log((col("__n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= topK)
      .select(col(idCol), col("rk").cast("long").as("rk"),
        col("term"), col("score"))
  }

  /** Zipf-law fit of the per-group token frequency spectrum: regress
    * ln(count) on ln(rank) over each group's top-`topN` tokens and
    * report the slope (Zipf exponent ≈ −1 for natural language — a
    * corpus whose exponent drifts far off is boilerplate-heavy or
    * deduplication-starved), intercept and R². The standard
    * corpus-health diagnostic next to [[vocabStats]]'s type/token
    * ratios.
    *
    * Scale shape: one token-keyed count (map-side combined), then the
    * rank is a `row_number` window PARTITIONED by the group — each
    * sort is bounded by one group's vocabulary, never the corpus —
    * truncated to `topN` before the ln/regression pass, which runs on
    * the (groups × topN)-row remainder. No unpartitioned window, no
    * corpus-frame sort. The regression runs on exact-decimal moment
    * sums of the per-row ln values (the j10 boundary class): the
    * regr_* aggregates accumulate doubles in partitioning-dependent
    * order, while the 12-dp stable sums make slope/intercept/R² the
    * identical IEEE double in any engine and under any shuffle.
    *
    * Output: (groupCol, n_types, slope, intercept, r2) — n_types ≤
    * topN (smaller when the group's vocabulary is smaller). */
  def zipfFit(docs: DataFrame, groupCol: String, textCol: String,
      topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Deterministic.stableSum
    val tc = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol), explode(split(col(textCol), " ")).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__cnt"))
    val ranked = tc.withColumn("__rnk",
        row_number().over(Window.partitionBy(col(groupCol))
          .orderBy(col("__cnt").desc, col("__tok"))))
      .filter(col("__rnk") <= topN)
    val x = log(col("__rnk")); val y = log(col("__cnt"))
    val n = count(lit(1))
    val sx = stableSum(x, 12); val sy = stableSum(y, 12)
    val sxy = stableSum(x * y, 12)
    val sxx = stableSum(x * x, 12); val syy = stableSum(y * y, 12)
    val slopeRaw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r2Raw = (n * sxy - sx * sy) * (n * sxy - sx * sy) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    ranked.groupBy(col(groupCol))
      .agg(n.as("n_types"),
        round(slopeRaw, 4).as("slope"),
        round((sy - slopeRaw * sx) / n, 4).as("intercept"),
        round(r2Raw, 4).as("r2"))
  }
}
