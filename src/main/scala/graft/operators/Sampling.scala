package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Deterministic

/** Corpus sampling operators for training-data mixture construction.
  *
  * The core primitive is per-stratum Bernoulli sampling with the
  * engine's partition-invariant deterministic hash
  * ([[Deterministic.hrand01]]): "sample web at 12%, books at 80%" is
  * the domain-mixing step of every large-scale pre-training pipeline,
  * and keying the coin on a stable id (never `rand()`) makes the
  * sample reproducible across runs, cluster sizes and partitionings —
  * and exactly replayable by the SQL oracle.
  */
object Sampling {

  /** Per-stratum Bernoulli sample: keep a row of stratum `s` iff
    * hrand01(key) < rates(s) (strata absent from `rates` use
    * `defaultRate`). Pure row-wise filter — no shuffle, no sort, no
    * per-stratum pass; the rate lookup is a literal CASE chain over the
    * (small, fixed) strata map, evaluated in sorted-key order so the
    * plan is deterministic. Adds `sample_rate` to surviving rows.
    *
    * NULL semantics, stated: a NULL stratum falls through every CASE
    * arm to `defaultRate` (SQL null-equality is never true); a NULL
    * sampling key hashes to NULL, the `<` predicate is NULL, and the
    * row is DROPPED — key nullability is the caller's contract. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      rates: Map[String, Double], defaultRate: Double, seed: Long): DataFrame = {
    (defaultRate +: rates.values.toSeq).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"sampling rate out of [0,1]: $r"))
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("sample_rate", rate)
      .filter(Deterministic.hrand01(col(keyCol), seed) < col("sample_rate"))
  }

  /** Weighted sampling WITHOUT replacement by priority sampling
    * (Duffield, Lund & Thorup, JACM 2007): each row gets priority
    * `p = w · 2³¹ / (hrand(key) + 1)` — a deterministic stand-in for
    * `w / uniform(0,1]` — and the k highest-priority rows per stratum
    * are the sample. Heavier rows surface with probability ∝ their
    * weight, and the (k+1)-th priority τ makes the sample a subset-sum
    * sketch: `Σ_sample max(w, τ)` is an unbiased estimate of the
    * stratum's total weight, so the sample doubles as a per-stratum
    * weight-total estimator (the property the output exposes).
    *
    * Scale shape: ONE hash aggregate with the O(k)-state `graft_top_k`
    * over struct(−priority, key, weight) ascending — no per-stratum
    * sort, no window over corpus-sized groups; map-side combine reduces
    * each task to ≤ k+1 rows per stratum before the shuffle.
    * Determinism: hrand+1 and w are integers exact in doubles, `w·2³¹`
    * < 2⁵³ for any realistic weight, IEEE division is correctly rounded
    * and negation is exact — both engines rank identical priorities
    * (ties broken by key ASC).
    *
    * Output: one row per sampled row — (strata, rk, key, weight,
    * priority, tau, n_rows, total_weight, est_total), with the
    * group-level columns repeated on each sample row. `weightCol` must
    * be a positive integer column; NULL keys/weights are the caller's
    * contract: their NULL priority ranks FIRST, since a NULL struct
    * field sorts before every value. */
  def prioritySample(df: DataFrame, strataCol: String, keyCol: String,
      weightCol: String, k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"priority sampling needs k >= 1, got $k")
    val pri = col(weightCol).cast("double") * lit(Deterministic.M.toDouble) /
      (Deterministic.hrand(col(keyCol), seed) + lit(1L))
    val grouped = df
      .groupBy(col(strataCol))
      .agg(call_function("graft_top_k", struct(negate(pri).as("nv"),
          col(keyCol).cast("long").as("key"), col(weightCol).cast("long").as("w")),
          lit(k + 1)).as("top"),
        count(lit(1)).as("n_rows"),
        sum(col(weightCol).cast("long")).as("total_weight"))
      // τ = (k+1)-th priority; a stratum smaller than k+1 is sampled
      // whole and τ = 0 makes the estimator exact (max(w, 0) = w).
      .withColumn("tau_raw",
        when(size(col("top")) === k + 1,
          negate(element_at(col("top"), k + 1).getField("nv"))).otherwise(lit(0.0)))
    val sample = grouped
      .select(col(strataCol), col("n_rows"), col("total_weight"), col("tau_raw"),
        posexplode(col("top")).as(Seq("idx", "r")))
      .filter(col("idx") < k)
    val est = sample.groupBy(strataCol).agg(
      Deterministic.stableSum(round(greatest(col("r.w").cast("double"), col("tau_raw")), 6))
        .as("est_raw"))
    sample.join(est, strataCol)
      .select(col(strataCol), (col("idx") + 1).cast("long").as("rk"),
        col("r.key").as("sample_key"), col("r.w").as("weight"),
        round(negate(col("r.nv")), 6).as("priority"), round(col("tau_raw"), 6).as("tau"),
        col("n_rows"), col("total_weight"), round(col("est_raw"), 6).as("est_total"))
  }

  /** Temperature-based mixture rates — the step that COMPUTES the rates
    * [[stratifiedSample]] consumes, instead of taking them as given:
    * domain weights w_d ∝ T_d^τ over per-domain token totals T_d
    * (τ = 1 reproduces natural proportions, τ → 0 flattens toward
    * uniform — the standard published re-balancing for multilingual /
    * multi-domain pre-training mixtures), then per-domain Bernoulli
    * rates that spend a token `budget` according to those weights,
    * clipped at 1 (a domain too small for its share is taken whole —
    * the remainder is NOT redistributed; iterate on the budget if
    * spend-exactness matters).
    *
    * Shape: one aggregate to domain totals (domain-count rows), all
    * mixture math on that tiny frame. Determinism: T_d^τ is rounded to
    * 6 dp and the normalizer is its DECIMAL sum, so every double in
    * the output derives from identical operands in any engine —
    * accumulation order never reaches a float.
    *
    * Output: (strataCol, n_tokens, weight, rate, expected_tokens). */
  def temperatureRates(df: DataFrame, strataCol: String, nTok: Column,
      temperature: Double, budgetFrac: Double): DataFrame = {
    require(temperature > 0.0 && temperature <= 1.0,
      s"temperature in (0,1], got $temperature")
    require(budgetFrac > 0.0 && budgetFrac <= 1.0,
      s"budgetFrac in (0,1], got $budgetFrac")
    val totals = df.groupBy(strataCol).agg(sum(nTok.cast("long")).as("n_tokens"))
    // the cross-domain aggregates ride along via an unpartitioned
    // window over the DOMAIN-COUNT frame (tiny by construction)
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    totals
      .withColumn("pw", round(pow(col("n_tokens").cast("double"), temperature), 6))
      .withColumn("norm",
        Deterministic.decimalSum(col("pw"), 28, 6).over(w)
          .cast("double"))
      .withColumn("total", sum("n_tokens").over(w))
      .withColumn("weight", col("pw") / col("norm"))
      .withColumn("rate",
        least(lit(1.0), lit(budgetFrac) * col("total") * col("weight") / col("n_tokens")))
      .withColumn("expected_tokens",
        round(col("rate") * col("n_tokens")).cast("long"))
      .select(col(strataCol), col("n_tokens"),
        round(col("weight"), 6).as("weight"), round(col("rate"), 6).as("rate"),
        col("expected_tokens"))
  }

  /** Epoch/repeat scheduling for a DATA-CONSTRAINED token budget — the
    * planning step [[temperatureRates]] cannot express: when the
    * training budget EXCEEDS the corpus (the standard modern regime),
    * each domain must be repeated, and repeating past a few epochs
    * stops helping (the Muennighoff et al. 2023 data-constrained
    * scaling result — returns decay rapidly beyond ~4 epochs). Given
    * temperature weights w_d ∝ T_d^τ and a budget of `budgetMult` ×
    * total corpus tokens, each domain's target is w_d · budget; its
    * epoch count target/T_d is CAPPED at `maxEpochs`, the shortfall is
    * reported (not silently redistributed — rebalancing is a policy
    * choice the caller iterates on), and `realized_weight` shows the
    * mixture actually served after capping — the number that tells
    * you whether the cap broke your target mixture.
    *
    * Same shape and determinism discipline as [[temperatureRates]]:
    * one aggregate to domain totals, all schedule math on the
    * domain-count frame (the unpartitioned window is bounded by the
    * domain dimension), 6-dp-rounded weights over a DECIMAL
    * normalizer. Output: (strataCol, n_tokens, weight, target_tokens,
    * epochs, served_tokens, capped, realized_weight). */
  def epochSchedule(df: DataFrame, strataCol: String, nTok: Column,
      temperature: Double, budgetMult: Double,
      maxEpochs: Double): DataFrame = {
    require(temperature > 0.0 && temperature <= 1.0,
      s"temperature in (0,1], got $temperature")
    require(budgetMult > 0.0, s"budgetMult > 0, got $budgetMult")
    require(maxEpochs >= 1.0, s"maxEpochs >= 1, got $maxEpochs")
    val totals = df.groupBy(strataCol).agg(sum(nTok.cast("long")).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    totals
      .withColumn("pw", round(pow(col("n_tokens").cast("double"), temperature), 6))
      .withColumn("norm",
        Deterministic.decimalSum(col("pw"), 28, 6).over(w)
          .cast("double"))
      .withColumn("total", sum("n_tokens").over(w))
      .withColumn("weight", col("pw") / col("norm"))
      .withColumn("target_tokens",
        round(lit(budgetMult) * col("total") * col("weight")).cast("long"))
      .withColumn("cap", round(lit(maxEpochs) * col("n_tokens")).cast("long"))
      .withColumn("served_tokens", least(col("target_tokens"), col("cap")))
      .withColumn("tot_served", sum("served_tokens").over(w))
      .select(col(strataCol), col("n_tokens"),
        round(col("weight"), 6).as("weight"),
        col("target_tokens"),
        round(col("target_tokens").cast("double") / col("n_tokens"), 6).as("epochs"),
        col("served_tokens"),
        (col("target_tokens") > col("cap")).as("capped"),
        round(col("served_tokens").cast("double") / col("tot_served"), 6)
          .as("realized_weight"))
  }

  /** Leak-free train/val/test split: the split coin is tossed per
    * GROUP (domain/host), never per document — all documents of a
    * group land in the same split, so near-duplicates and boilerplate
    * siblings (which overwhelmingly live within one host) cannot
    * straddle the train/eval boundary and leak supervision into the
    * held-out sets. The standard contamination-safe split discipline
    * for web corpora.
    *
    * `fracs` are (name, fraction) in declaration order, summing to 1;
    * the group's deterministic uniform u = hrand(md5-hash(group),
    * seed) / 2³¹ (exact in a double — 31-bit integer over a power of
    * two) is compared against the cumulative fractions, so the
    * assignment is reproducible across runs/partitionings and
    * replayable in SQL. The last split takes the remainder.
    *
    * One row-local hash + one (split, group) aggregate. Output:
    * (split, groupCol, n_docs, n_tokens). */
  def groupSplit(df: DataFrame, groupCol: String, nTok: Column,
      fracs: Seq[(String, Double)], seed: Long): DataFrame = {
    require(fracs.size >= 2, s"groupSplit needs >= 2 splits, got ${fracs.size}")
    require(math.abs(fracs.map(_._2).sum - 1.0) < 1e-9,
      s"groupSplit fractions must sum to 1, got ${fracs.map(_._2).sum}")
    val h1 = conv(substring(md5(encode(col(groupCol).cast("string"), "UTF-8")), 1, 8),
      16, 10).cast("long") % graft.operators.Dedup.mixM
    val u = Deterministic.hrand(h1, seed) / lit(Deterministic.M.toDouble)
    val cums = fracs.scanLeft(0.0)(_ + _._2).tail
    val split = fracs.init.zip(cums.init)
      .foldLeft(when(lit(false), lit(null).cast("string"))) {
        case (c, ((name, _), cum)) => c.when(u < cum, name)
      }.otherwise(fracs.last._1)
    df.withColumn("split", split)
      .groupBy("split", groupCol)
      .agg(count(lit(1)).as("n_docs"), sum(nTok.cast("long")).as("n_tokens"))
  }

  /** Per-domain document cap — the "no single host dominates the
    * corpus" curation rule every crawl pipeline applies before mixing:
    * keep the `cap` best documents of each domain under the total
    * order (score DESC, id ASC), reporting each kept doc's rank and
    * the domain's pre-cap size.
    *
    * Selection runs through the bounded-state top-k aggregate
    * (`graft_top_k` over struct(−score, id)): O(cap) state per domain with
    * map-side combine, instead of the row_number window the oracle
    * replays — the window form sorts a domain's ENTIRE posting on one
    * task, and a crawl's hottest host is exactly where that posting is
    * corpus-sized. Determinism: the caller pre-rounds `score`, ties
    * break on the unique id, so the kept set and ranks are unique.
    *
    * Output: (domainCol, rk, idCol, score, n_docs), rk ≤ cap. */
  def domainCap(df: DataFrame, domainCol: String, idCol: String,
      score: Column, cap: Int): DataFrame = {
    require(cap >= 1, s"domainCap needs cap >= 1, got $cap")
    df.groupBy(domainCol)
      .agg(call_function("graft_top_k", struct(negate(score.cast("double")).as("ns"),
          col(idCol).cast("long").as("id")), lit(cap)).as("ks"),
        count(lit(1)).as("n_docs"))
      .select(col(domainCol), posexplode(col("ks")).as(Seq("p", "r")), col("n_docs"))
      .select(col(domainCol), (col("p") + 1).cast("long").as("rk"),
        col("r.id").as(idCol), negate(col("r.ns")).as("score"), col("n_docs"))
  }
}
