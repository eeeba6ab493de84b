package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Deterministic.stableSum

/** Planning diagnostics: the statistics a 100 TB job needs BEFORE it
  * picks a physical strategy. Key-skew summaries answer "does this
  * join/aggregation need salting (operators.SkewJoin) or AQE skew
  * handling, and how wide should the shuffle be" — cheaply, from one
  * aggregation pass, instead of discovering the skew as a straggler
  * task an hour into the run.
  */
object Diagnostics {

  /** One-row skew summary of `keyCol` in `df`: key count, row count,
    * heaviest-key count, mean count, skew ratio (max/mean — 1.0 is
    * perfectly uniform), and the heaviest key's share of all rows.
    * Two aggregations (per-key, then global) — shuffle is O(distinct
    * keys) with map-side combine, never O(rows). */
  def keySkew(df: DataFrame, keyCol: String, label: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      .select(lit(label).as("keyspace"),
        col("n_keys"), col("n_rows"), col("max_cnt"),
        round(col("n_rows").cast("double") / col("n_keys"), 6).as("avg_cnt"),
        round(col("max_cnt") * col("n_keys").cast("double") / col("n_rows"), 6)
          .as("skew_ratio"),
        round(col("max_cnt").cast("double") / col("n_rows"), 6).as("top_share"))

  /** Mutual information between two categorical columns (nats), with
    * the marginal entropies and the conditional entropy H(x|y) —
    * "how much does knowing the source tell you about the language":
    * the dependence audit that says whether a stratified sample over
    * one column implicitly stratifies the other, and whether a
    * (x, y)-keyed layout is redundant. MI = Σ p(x,y)·ln(p(x,y)/(p(x)
    * p(y))) over the OBSERVED cells (absent cells contribute 0 — the
    * limit of p·ln p at 0).
    *
    * Shape: one corpus aggregate to the r×c contingency table, all
    * information math on that category-bounded frame (marginals via
    * windows over it). Per-cell terms are rounded then DECIMAL-summed,
    * so every reported number is bit-stable across partitionings and
    * engines. Output (one row): n_rows, h_x, h_y, mi_nats,
    * h_x_given_y, redundancy = MI/min(H) (0 = independent,
    * 1 = one determines the other; 0 when min(H) = 0). */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // NULL categories are excluded from the WHOLE computation (cells,
    // marginals, n_rows): the MI sum joins cells to marginals on
    // equality, which can never match a NULL key, so keeping NULLs in
    // the marginals/entropies while they silently vanish from the MI
    // term made mi_nats/h_x_given_y/redundancy internally inconsistent
    // on corpora with NULL keys (r8 ADVICE). A caller who wants NULL as
    // a real category coalesces to a sentinel before calling.
    val cells = CacheScope.persist(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
        .groupBy(col(xCol), col(yCol)).agg(count(lit(1)).as("c")))
    val tot = cells.agg(sum("c").as("n"))
    def margEnt(k: String, out: String): DataFrame =
      cells.groupBy(col(k)).agg(sum("c").as("ck"))
        .crossJoin(broadcast(tot))
        .select(round(-(col("ck").cast("double") / col("n"))
          * log(col("ck").cast("double") / col("n")), 6).as("t"))
        .agg(stableSum(col("t")).as(out))
    val mx = cells.groupBy(col(xCol)).agg(sum("c").as("cx"))
    val my = cells.groupBy(col(yCol)).agg(sum("c").as("cy"))
    val mi = cells.join(broadcast(mx), xCol).join(broadcast(my), yCol)
      .crossJoin(broadcast(tot))
      .select(round((col("c").cast("double") / col("n"))
        * log(col("c").cast("double") * col("n")
          / (col("cx").cast("double") * col("cy"))), 6).as("t"))
      .agg(stableSum(col("t")).as("mi"))
    tot.crossJoin(broadcast(margEnt(xCol, "hx")))
      .crossJoin(broadcast(margEnt(yCol, "hy")))
      .crossJoin(broadcast(mi))
      .select(col("n").as("n_rows"),
        round(col("hx"), 6).as("h_x"), round(col("hy"), 6).as("h_y"),
        round(col("mi"), 6).as("mi_nats"),
        round(col("hx") - col("mi"), 6).as("h_x_given_y"),
        round(when(least(col("hx"), col("hy")) > 0,
          col("mi") / least(col("hx"), col("hy"))).otherwise(0.0), 6)
          .as("redundancy"))
  }

  /** Per-group Shannon entropy of a categorical column (nats), plus
    * the effective category count e^H — the corpus-diversity audit
    * (e.g. language mix per source). Each category's −p·ln p term is
    * rounded then DECIMAL-summed, so the entropy is bit-stable across
    * partitionings and replayable by external engines. Two keyed
    * aggregations — shuffle is O(groups·categories). */
  def categoryEntropy(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = {
    // internal aliases are __-prefixed so user column names can't collide
    val counts = df.groupBy(col(groupCol), col(catCol))
      .agg(count(lit(1)).as("__cc"))
    val totals = counts.groupBy(col(groupCol))
      .agg(sum(col("__cc")).as("__n"), count(lit(1)).as("n_cats"))
    val p = col("__cc").cast("double") / col("__n")
    counts.join(totals, groupCol)
      .select(col(groupCol), col("__n").as("n"), col("n_cats"),
        round(-p * log(p), 6).as("term"))
      .groupBy(col(groupCol))
      .agg(max(col("n")).as("n_rows"), max(col("n_cats")).as("n_cats"),
        stableSum(col("term")).as("entropy"))
      .withColumn("eff_cats", round(exp(col("entropy")), 6))
  }

  /** Population-stability-index drift of a numeric column against a
    * REFERENCE group — the production data-QA monitor ("is today's
    * crawl/feed distributed like the corpus we validated on"):
    * PSI = Σ_k (q'_k − p'_k)·ln(q'_k/p'_k) over `bins` reference-decile
    * buckets, with the conventional reading psi < 0.1 stable,
    * 0.1–0.2 moderate, > 0.2 drifted. Complements the KS test (t12):
    * KS answers "same distribution?" per pair with a p-value; PSI is
    * the binned, thresholded index dashboards track per period.
    *
    * Determinism & portability: bucket CUT POINTS are the max value of
    * each reference ntile (ordered by value — a total order on the
    * value lattice; the max of tile t is the value at sorted position
    * k_t = t·(n div bins) + min(t, n mod bins), well-defined on the
    * value multiset regardless of tie placement); BOTH legs then
    * re-assign rows by the same `1 + #{cuts < v}` rule, so reference
    * shares are computed under the identical assignment (never from
    * raw tile counts, which would disagree with the rule on boundary
    * ties). Shares are Laplace-smoothed ((c + ½)/(n + bins/2)) so
    * empty buckets stay finite on both engines; per-bucket terms are
    * rounded then DECIMAL-summed.
    *
    * Shape: the cut points come from a DISTRIBUTED rank, never a
    * single-partition sort (a 100 TB reference slice cannot funnel
    * through one task): distinct-value counts (map-side combined) →
    * coarse range buckets from the broadcast (lo, hi) → per-bucket
    * totals with cumulative offsets (a window over the ≤256-row
    * bucket frame — bounded) → within-bucket running rank (window
    * PARTITIONED on the coarse bucket) → pick the values straddling
    * the bins−1 boundary ranks via a broadcast theta-join against the
    * (bins−1)-row rank grid. Cuts collapse to a broadcast 1-row
    * array; one scan of `df` then assigns buckets via flat codegen
    * comparisons, one (group, bucket)-keyed aggregate. Output:
    * (groupCol, n_rows, psi, drifted) per group, reference group
    * included (psi = 0). */
  /** Per-column data-quality profile in ONE aggregate pass: row count,
    * NULL count and fraction, NaN count (numeric columns only — listed
    * by the caller, isnan on non-numerics would not resolve), and the
    * EXACT distinct cardinality — the first report a pipeline runs
    * over a new snapshot (did a join key collapse, did a feed start
    * sending NULLs, is a "unique" id actually unique).
    *
    * Scale shape: one aggregate whose multi-column `countDistinct`
    * Catalyst plans as an Expand (input × profiled-column multiplier)
    * — the standard exact-profile plan, linear with a constant factor
    * of |cols|; the per-column output explode runs on the 1-row
    * totals. At 100 TB swap `countDistinct` for HLL sketches if ±2 %
    * is acceptable — exact is kept here because the oracle contract
    * is hash equality, and uniqueness AUDITS need exact anyway. */
  def missingnessProfile(df: DataFrame, numericCols: Set[String]): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"__null_$c"),
        (if (numericCols(c)) count(when(isnan(col(c)), 1)) else lit(0L))
          .as(s"__nan_$c"),
        countDistinct(col(c)).as(s"__dist_$c"))
    } :+ count(lit(1)).as("__n")
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__n"), explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(s"__null_$c").as("n_null"),
          col(s"__nan_$c").as("n_nan"), col(s"__dist_$c").as("n_distinct"))): _*))
        .as("e"))
      .select(col("e.col_name").as("col_name"), col("__n").as("n_rows"),
        col("e.n_null").as("n_null"), col("e.n_nan").as("n_nan"),
        col("e.n_distinct").as("n_distinct"),
        round(col("e.n_null").cast("double") / col("__n"), 6).as("null_frac"))
  }

  /** EXACT per-group quantile values by rank: for each group and each
    * (name, q) in `qs`, the value at rank ceil(q·n) of the group's
    * `valueCol` order (the f10/oracle rank convention; ties share a
    * distinct-value row, so the selected VALUE is
    * tie-order-independent). Thin wrapper over [[valuesAtRanks]].
    * Exactness matters when the quantile IS the contract (winsorize
    * clips, SLA thresholds); use `percentile_approx` when ±ε is fine.
    *
    * Output: (groupCol, qname, qvalue), one row per group × request. */
  def groupQuantilesByRank(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[(String, Double)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q > 0.0 && q <= 1.0 },
      s"quantile requests must lie in (0, 1], got $qs")
    valuesAtRanks(df, groupCol, valueCol, n =>
      array(qs.map { case (nm, q) =>
        struct(lit(nm).as("qname"),
          ceil(lit(q) * n).cast("long").as("k")) }: _*))
  }

  /** Core of the exact rank-value selections (r17 rewrite): per group,
    * the value at each requested 1-based rank of the group's `valueCol`
    * ordering — via coarse-bin location + one-bin refine, so NOTHING
    * corpus-sized is ever shuffled, sorted, or persisted.
    *
    * The previous construction aggregated a (group, value) DISTINCT
    * histogram and ranked it under a bucketed window. For double-typed
    * columns values rarely collide, so that "histogram" is
    * column-sized: at 100 TB it IS the corpus, and even at bench scale
    * the persist + shuffle of ~50 k rows and its cache machinery was
    * the whole cost of t17 (StageProfile r17: stages reading the
    * cached histogram burned seconds at ~0 CPU).
    *
    * Three column-pruned scans replace it:
    *  1. per-group finite min/max + row count (map-side-combined agg →
    *     a groups-sized broadcast);
    *  2. coarse counts per (group, range-bucket of 1024) — shuffle is
    *     groups × 1024 rows max, never values; a window over that tiny
    *     frame locates, for every requested rank k (computed ROW-LOCAL
    *     from n — `ranks(n)` returns array<struct<qname,k>>), the one
    *     bucket holding rank k and its cumulative offset;
    *  3. a refine scan keeps only rows whose bucket is some request's
    *     target (groups × |qs|-sized broadcast equi-join on
    *     (group, bucket)), builds the distinct-value histogram of THAT
    *     BUCKET ONLY, and ranks it under a (group, qname) window —
    *     off + within-bucket rank is the global rank because the
    *     bucket map is monotone in the value ordering and equal values
    *     share a bucket.
    *
    * Bucketing is done on the DOUBLE cast (monotone for the numeric
    * types this serves; ties in the cast only merge buckets, the
    * refine ranks by the exact value). Non-finite values order the
    * Spark way (−Inf < finite < +Inf < NaN) and are pinned to the edge
    * buckets explicitly, with min/max taken over finite values only so
    * one NaN cannot poison the bin width. The refine window's input is
    * the distinct values of ONE bucket — 1/1024 of the group's value
    * RANGE; pathological mass concentration in one bin degrades toward
    * the old histogram shape, never below it.
    *
    * Output: (groupCol, qname, qvalue), one row per group × request;
    * the rank column n is exposed to `ranks` as the long count of
    * non-null rows in the group. */
  private[operators] def valuesAtRanks(df: DataFrame, groupCol: String,
      valueCol: String, ranks: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coarseB = 1024
    val e = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).as("v"))
    val vd = col("v").cast("double")
    val isFinite = !isnan(vd) && abs(vd) =!= Double.PositiveInfinity
    val scal = e.groupBy(groupCol).agg(
      min(when(isFinite, vd)).as("lo"),
      max(when(isFinite, vd)).as("hi"),
      count(lit(1)).as("__n"))
    val bucket =
      when(isnan(vd) || vd === Double.PositiveInfinity, lit(coarseB - 1))
        .when(vd === Double.NegativeInfinity, lit(0))
        .when(col("lo").isNull || col("hi") <= col("lo"), lit(0))
        .otherwise(least(floor((vd - col("lo")) / (col("hi") - col("lo"))
          * coarseB), lit(coarseB - 1)))
        .cast("int")
    val coarse = e.join(broadcast(scal), groupCol)
      .groupBy(col(groupCol), col("__n"), bucket.as("cb"))
      .agg(count(lit(1)).as("c"))
    val wBin = Window.partitionBy(groupCol).orderBy("cb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val located = coarse
      .withColumn("cum", sum("c").over(wBin))
      .select(col(groupCol), col("cb"), col("c"), col("cum"),
        explode(ranks(col("__n"))).as("r"))
      .filter(col("cum") - col("c") < col("r.k") && col("r.k") <= col("cum"))
      .select(col(groupCol), col("cb"),
        col("r.qname").as("qname"), col("r.k").as("k"),
        (col("cum") - col("c")).as("off"))
    val fine = e.join(broadcast(scal), groupCol)
      .withColumn("cb", bucket)
      .join(broadcast(located), Seq(groupCol, "cb"))
      .groupBy(col(groupCol), col("qname"), col("k"), col("off"), col("v"))
      .agg(count(lit(1)).as("c"))
    val wV = Window.partitionBy(col(groupCol), col("qname")).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fine.withColumn("cum", col("off") + sum("c").over(wV))
      .filter(col("cum") - col("c") < col("k") && col("k") <= col("cum"))
      .select(col(groupCol), col("qname"), col("v").as("qvalue"))
  }

  /** Population-stability-index drift per group vs a reference slice —
    * exact ntile cuts via the distributed-rank construction (see
    * [[groupQuantilesByRank]]), then a second map-side-combined pass
    * assigns every row a bucket against the 1-row broadcast cut array
    * (shuffle = groups × bins, never corpus-sized) and the smoothed
    * shares fold to one PSI per group.
    *
    * Toy-scale cost adjudication (r10 task 4, measured r12 at sf0.1 =
    * 100 k rows, local[32]): a warm evaluation is ~2.6 s solo-bench =
    * 24 AQE query-stage jobs × ~0.1 s scheduling floor; per-stage data
    * work is microseconds. The r12 trims cut the two removable jobs —
    * the boundary ranks are row-local (n on the bucketed frame, no
    * ks broadcast/theta join) and the reference side folds to ONE
    * 1-row (rn, bucket→count map) broadcast instead of refC + refN —
    * worth ~8 % warm / 23 % cold; the remaining 24 stages are the
    * exchanges the two-pass exact-quantile shape inherently needs
    * (reference histogram, scalars/offs broadcasts, bucketed window,
    * cut fold, assignment scan, counts/totals/grid joins, final agg).
    * Going lower means single-partition global windows — the corpus
    * funnel this construction exists to avoid — so the fixed floor is
    * accepted: at cluster scale the same stages amortize over real
    * data work. */
  def psiDrift(df: DataFrame, groupCol: String, valueCol: String,
      refGroup: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100, s"psiDrift needs 2 <= bins <= 100, got $bins")
    // Reference ntile cuts via the shared refine core ([[valuesAtRanks]]
    // — r17: the previous inline distinct-histogram + persist + bucketed
    // window shape shuffled ~the whole reference column for doubles).
    // Boundary ranks of the bins−1 interior ntile edges, computed
    // row-locally from the reference row count n: tile t's boundary sits
    // at rank t·(n div bins) + least(t, n mod bins); tiles beyond the
    // row count (tiny reference) are empty in ntile and emit no cut —
    // the presence filter keeps only t with a nonzero tile size.
    val ntileRanks: Column => Column = n =>
      filter(
        transform(sequence(lit(1), lit(bins - 1)), t =>
          struct(t.cast("string").as("qname"),
            (t.cast("long") * floor(n / lit(bins))
              + least(t.cast("long"), pmod(n, lit(bins)).cast("long")))
              .as("k"))),
        x => floor(n / lit(bins)) > 0 ||
          x.getField("qname").cast("long") <= pmod(n, lit(bins)).cast("long"))
    val cuts = valuesAtRanks(
        df.filter(refGroup).select(lit(1).as("__g"), col(valueCol).as("v")),
        "__g", "v", ntileRanks)
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(" +
        "struct(cast(qname AS INT) AS t, qvalue AS v))), x -> x.v)")
        .as("cuts"))
    // bucket = 1 + #{cuts < v}, UNROLLED over the bins-1 cut positions:
    // a higher-order filter() runs interpreted per row (repo codegen
    // discipline); the flat comparison chain stays in whole-stage
    // codegen. Absent trailing cuts (tiny reference) compare NULL →
    // contribute 0, which matches the filter() semantics.
    val bucketExpr = "1" + (1 until bins).map(i =>
      s" + (CASE WHEN element_at(cuts, $i) < v THEN 1 ELSE 0 END)").mkString
    val assigned = df.select(col(groupCol), col(valueCol).as("v"))
      .crossJoin(broadcast(cuts))
      .select(col(groupCol), expr(bucketExpr).as("bucket"))
    // coalesce(1): the frame is ≤ groups·bins rows by contract (bins ≤
    // 100), but the agg would otherwise persist as 32 near-empty cached
    // partitions and each of the THREE downstream readers (totals, refF,
    // terms) would spawn a full 32-task stage to read ~50 rows — pure
    // per-task overhead (StageProfile r17: 3 × ~0.9 s stages at ~0 CPU)
    val counts = CacheScope.persist(
      assigned.groupBy(col(groupCol), col("bucket")).agg(count(lit(1)).as("c"))
        .coalesce(1))
    val totals = counts.groupBy(col(groupCol)).agg(sum("c").as("n"))
    // the whole reference side folds to ONE 1-row broadcast (total rn
    // + bucket→count map, ≤bins entries) instead of two separate
    // broadcast jobs (refC per-bucket frame + refN scalar) — the
    // grouped agg keeps the empty-reference behavior (zero groups →
    // zero rows → empty crossJoin → empty output, same as before).
    // Counts are summed BY BUCKET before map_from_entries: a refGroup
    // predicate matching several groups repeats each bucket in the
    // collect_list, and duplicate map keys THROW at runtime under the
    // default spark.sql.mapKeyDedupPolicy=EXCEPTION — the pooled sum
    // makes a multi-group reference well-defined (and is a no-op for
    // the single-group predicates the registry uses)
    val refF = counts.filter(refGroup)
      .groupBy("bucket").agg(sum("c").as("c"))
      .groupBy(lit(true).as("__one"))
      .agg(sum("c").as("rn"),
        map_from_entries(collect_list(struct(col("bucket"), col("c"))))
          .as("rcm"))
      .select(col("rn"), col("rcm"))
    // fixed bucket frame per group: absent buckets still contribute via
    // the smoothed zero share
    val grid = totals.select(col(groupCol), col("n"))
      .crossJoin(broadcast(refF))
      .select(col(groupCol), col("n"), col("rn"), col("rcm"),
        explode(expr(s"sequence(1, $bins)")).as("bucket"))
    val rc = element_at(col("rcm"), col("bucket"))
    val terms = grid
      .join(counts, Seq(groupCol, "bucket"), "left")
      .select(col(groupCol), col("n"),
        round(((coalesce(col("c"), lit(0L)) + lit(0.5)) / (col("n") + lit(bins / 2.0))
            - (coalesce(rc, lit(0L)) + lit(0.5)) / (col("rn") + lit(bins / 2.0)))
          * log(((coalesce(col("c"), lit(0L)) + lit(0.5)) / (col("n") + lit(bins / 2.0)))
            / ((coalesce(rc, lit(0L)) + lit(0.5)) / (col("rn") + lit(bins / 2.0)))),
          6).as("term"))
    terms.groupBy(col(groupCol))
      .agg(max(col("n")).as("n_rows"),
        round(stableSum(col("term")), 6).as("psi"))
      .withColumn("drifted", col("psi") > 0.2)
  }

  /** Embedding-space drift monitor — the [[psiDrift]] analog for a
    * VECTOR column ("is this source/snapshot embedded like the corpus
    * we trained the index on"): each group's centroid is compared to
    * the global centroid by cosine, plus the centroid-norm ratio
    * (cosine catches direction shift, the norm ratio catches
    * magnitude collapse — both move when a crawl snapshot's topic mix
    * or an embedding-model version drifts).
    *
    * Shape: one posexplode pass feeds two (key, dim)-keyed aggregates
    * (per-group and global — map-side combined; shuffle =
    * (groups + 1) · dim rows, never corpus-sized); centroids are
    * rebuilt as arrays on the group-count-bounded frame and the global
    * row broadcasts. Determinism: per-dimension sums ride
    * DECIMAL(28,12) ([[graft.functions.Deterministic.stableSum]] —
    * order-invariant, oracle-replayable); the cosine is the native
    * sequential fold (`graft_cosine`, dimension-ascending — the
    * unrolled-chain order every oracle replays). `drifted` compares
    * the ROUNDED cosine so both engines decide the flag on the same
    * value. Output: (groupCol, n_vecs, cos_to_global, norm_ratio,
    * drifted). */
  def embeddingDrift(vectors: DataFrame, groupCol: String, vecCol: String,
      dim: Int, minCos: Double = 0.99): DataFrame = {
    val ex = CacheScope.persist(vectors
      .select(col(groupCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__i", "__x"))))
    def centroid(keys: Seq[Column], out: DataFrame => DataFrame): DataFrame =
      out(ex.groupBy(keys :+ col("__i"): _*)
        .agg(stableSum(col("__x"), 12).as("__sx"), count(lit(1)).as("__n")))
    val byGroup = centroid(Seq(col(groupCol)), g =>
      g.groupBy(col(groupCol)).agg(max(col("__n")).as("n_vecs"),
        expr("transform(array_sort(collect_list(struct(__i, __sx))), e -> e.__sx)")
          .as("__sums"))
        .select(col(groupCol), col("n_vecs"),
          expr("transform(__sums, s -> s / n_vecs)").as("__cg")))
    val global = centroid(Nil, g =>
      g.groupBy().agg(max(col("__n")).as("__gn"),
        expr("transform(array_sort(collect_list(struct(__i, __sx))), e -> e.__sx)")
          .as("__sums"))
        .select(expr("transform(__sums, s -> s / __gn)").as("__cglob")))
    val dotG = Similarity.dotExpr("__cg", "__cg", dim)
    val dotA = Similarity.dotExpr("__cglob", "__cglob", dim)
    byGroup.crossJoin(broadcast(global))
      .select(col(groupCol), col("n_vecs"),
        round(expr("graft_cosine(__cg, __cglob)"), 6).as("cos_to_global"),
        round(sqrt(expr(dotG)) / sqrt(expr(dotA)), 6).as("norm_ratio"))
      .withColumn("drifted", col("cos_to_global") < minCos)
  }
}
