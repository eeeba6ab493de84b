package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable similarity-search operators over a fixed-width embedding
  * column (`array<float>`/`array<double>`): brute-force cosine top-k
  * (exactness baseline), random-hyperplane LSH buckets and IVF inverted
  * lists (the two scale paths).
  *
  * All vector math is emitted as UNROLLED flat arithmetic chains —
  * ordinary whole-stage-codegen'd expressions with a deterministic
  * left-to-right accumulation order, so results are reproducible
  * bit-for-bit (and replayable by any engine that evaluates the same
  * chain). Higher-order `aggregate`/`zip_with` lambdas are interpreted
  * in Spark and measured ~7× slower on pairwise workloads.
  *
  * Cell sizing: the IVF operators ([[ivfTopK]], [[ivfPqTopK]],
  * [[writeIvfPqIndex]]) and Dedup.embeddingNearDup derive their cell
  * count from the corpus size ([[autoNList]], [[autoCellCount]]). Pass
  * it as `numVectors` (e.g. Tables.rowCount, a session-cached
  * metadata-level statistic); the `vectors.count()` fallback is
  * correct but prices in whatever lineage `vectors` carries. API
  * INVARIANT: `numVectors` must be the row count of the EXACT FRAME
  * passed as `vectors` — a raw-table count over a filtered/derived
  * frame silently mis-sizes the cells.
  */
object Similarity {

  /** Unrolled `dim`-term dot product expression string over two array
    * columns. Outer parentheses are load-bearing: without them a
    * following `/ norm` binds to the last term only. (Kept as the
    * reference formulation the native expression is tested against.) */
  def dotExpr(x: String, y: String, dim: Int = 64): String =
    "(0D" + (1 to dim).map(i =>
      s" + (CAST(element_at($x, $i) AS DOUBLE) * CAST(element_at($y, $i) AS DOUBLE))").mkString + ")"

  /** Cosine similarity column between two array columns — the native
    * codegen expression `graft_cosine` (functions.CosineSimilarity,
    * injected via SparkSessionExtensions in GraftSession): bit-identical
    * to the unrolled [[dotExpr]] chain (same left-to-right fold, proven
    * in LibraryOpsSpec) but compiled as a small loop, with the dimension
    * read from the data. */
  def cosine(x: String, y: String): Column =
    expr(s"graft_cosine($x, $y)")

  /** The per-query top-k tail every search operator ends with: rank
    * `scored` (query_id, cand_id, c) by (c DESC, cand_id) — a total
    * order, so the cut is reproducible — keep rk ≤ k and emit
    * (query_id, rk, cand_id, c AS `scoreAs`). `rk` is an int, or a long
    * when `longRank` (the ADC paths' output type). */
  private def topKPerQuery(scored: DataFrame, k: Int, scoreAs: String,
      longRank: Boolean = false): DataFrame = {
    val rk = row_number().over(
      Window.partitionBy("query_id").orderBy(col("c").desc, col("cand_id")))
    scored.withColumn("rk", if (longRank) rk.cast("long") else rk)
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"), col("c").as(scoreAs))
  }

  /** Brute-force cosine top-k: every query against every other vector,
    * ranked by (rounded cosine DESC, candidate id) so the cut is
    * reproducible. Queries should be a small subset — it is broadcast.
    * Output: (query_id, rk, cand_id, cos). */
  def bruteTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 3): DataFrame =
    topKPerQuery(broadcast(queries).as("a").join(vectors.as("b"),
        col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("query_id"), col(s"b.$idCol").as("cand_id"),
        round(cosine(s"a.$vecCol", s"b.$vecCol"), 6).as("c")), k, "cos")

  /** Contrastive training-pair mining for embedding-model fine-tuning:
    * per query, the top-`kPos` most-similar SAME-label candidates
    * (positives) and the top-`kNeg` most-similar DIFFERENT-label
    * candidates (hard negatives — high-similarity wrong-label
    * neighbors, the pairs a contrastive loss learns most from; random
    * negatives are trivially separable and teach nothing). One scoring
    * pass, then one rank window per (query, kind): the pos/neg split
    * is a column, not a second scan.
    *
    * Scoring here is the brute broadcast pass of [[bruteTopK]]
    * (queries must be a small subset); at corpus scale swap the
    * candidate generation for the IVF/PQ paths ([[ivfTopK]],
    * [[ivfPqTopK]]) and keep the same label-split ranking — hard
    * negatives are by definition high-cosine, so ANN candidate lists
    * contain them.
    *
    * Output: (query_id, kind ∈ pos|neg, rk, cand_id, cos, label_q,
    * label_c). */
  def contrastivePairs(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, kPos: Int = 3,
      kNeg: Int = 3): DataFrame = {
    require(kPos >= 1 && kNeg >= 1, s"contrastivePairs needs kPos, kNeg >= 1")
    val sc = broadcast(queries.select(col(idCol), col(vecCol), col(labelCol))).as("a")
      .join(vectors.as("b"), col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("query_id"), col(s"b.$idCol").as("cand_id"),
        col(s"a.$labelCol").as("label_q"), col(s"b.$labelCol").as("label_c"),
        round(cosine(s"a.$vecCol", s"b.$vecCol"), 6).as("cos"))
      .withColumn("kind",
        when(col("label_q") === col("label_c"), "pos").otherwise("neg"))
    val w = Window.partitionBy("query_id", "kind")
      .orderBy(col("cos").desc, col("cand_id"))
    sc.withColumn("rk", row_number().over(w).cast("long"))
      .filter((col("kind") === "pos" && col("rk") <= kPos) ||
        (col("kind") === "neg" && col("rk") <= kNeg))
      .select(col("query_id"), col("kind"), col("rk"), col("cand_id"),
        col("cos"), col("label_q"), col("label_c"))
  }

  /** Deterministic hyperplane sign for LSH bit j, dimension i (LCG —
    * plain integer arithmetic, replayable anywhere). */
  def lshSign(j: Int, i: Int): Double =
    if ((((j * 64L + i) * 1103515245L + 104729L) / 131072L) % 2 == 0) 1.0 else -1.0

  /** The unrolled ±-chain formulation of one LSH projection — kept as
    * the reference the native expression is bit-tested against. */
  def lshProjExpr(vecCol: String, j: Int, dim: Int = 64): String =
    "0D" + (1 to dim).map { i =>
      val op = if (lshSign(j, i) > 0) "+" else "-"
      s" $op CAST(element_at($vecCol, $i) AS DOUBLE)"
    }.mkString

  /** `bits`-bit random-hyperplane LSH bucket column over `vecCol` — the
    * native codegen expression `graft_lsh_bucket` (functions.LshBucket,
    * injected via SparkSessionExtensions): bit-identical to the unrolled
    * ±-chains (same sequential fold; proven in LibraryOpsSpec) but
    * compiled as a small loop, with the dimension read from the data. */
  def lshBucket(vecCol: String, bits: Int = 8): Column =
    expr(s"graft_lsh_bucket($vecCol, $bits)")

  /** √-rule coarse-quantizer sizing (SCALE.md §ANN): hold the EXPECTED
    * CELL SIZE near `targetCellSize` as the corpus grows instead of
    * letting a constant cell count make within-cell candidate volume
    * O(n²/nList). `ceil(sqrt(n / targetCellSize))` cells gives cell
    * size ~`sqrt(n · targetCellSize)` — the standard IVF √n compromise
    * between within-cell cost and probe-miss recall loss — while the
    * centroid table stays tiny (10⁹ vectors, target 256 → 1 977 cells,
    * still trivially broadcastable). `floor` is the caller's `nList`:
    * sizing only ever grows the constant the operator was tuned with. */
  def autoNList(n: Long, floor: Int, targetCellSize: Int = 256): Int =
    math.max(floor, math.ceil(math.sqrt(n.toDouble / targetCellSize)).toInt)

  /** Cell count for ALL-PAIRS blocking (Dedup.embeddingNearDup):
    * constant target cell POPULATION, i.e. `ceil(n / targetCellSize)`
    * cells. The √ rule above is the right compromise for the QUERY
    * path (per-query probe cost balances centroid scan vs cell scan),
    * but a pair JOIN does cells · pop² work — √n-sized populations
    * make that n^1.5 (measured 50× on 10× data at sf1); constant
    * populations keep it LINEAR (cells · targetCellSize² = n ·
    * targetCellSize). The centroid table grows ∝ n/targetCellSize but
    * broadcasts fine far past any realistic corpus (10⁹ vectors →
    * ~4M centroids is the practical ceiling; shard the corpus before
    * that). `floor` is the caller's `nList`, as in [[autoNList]]. */
  def autoCellCount(n: Long, floor: Int, targetCellSize: Int = 256): Int =
    math.max(floor, math.ceil(n.toDouble / targetCellSize).toInt)

  /** The centroid table rolled into ONE array-of-structs row, for the
    * shuffle-free per-row assignment of [[topCells]]. `collect_list`
    * order is partition-dependent, but the downstream comparator sorts
    * by (c, cent_id) — a deterministic total order — so the result is
    * partition-invariant. */
  def centroidArray(cent: DataFrame): DataFrame =
    cent.agg(collect_list(struct(col("cent_id"), col("cv"))).as("cents"))

  /** The seeded centroid pick every quantizer in the engine starts
    * from: the `n` vectors first in (hrand(id, seed), id) order — a
    * deterministic total order, replayable by the oracles'
    * `row_number` — as (cent_id, cv). */
  private[operators] def seededCentroids(vectors: DataFrame, idCol: String,
      vecCol: String, n: Int, seed: Long): DataFrame = {
    import graft.functions.Deterministic.hrand
    vectors.orderBy(hrand(col(idCol), seed), col(idCol)).limit(n)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cv"))
  }

  /** The IVF coarse quantizer: `nCells` seeded centroids (cent), their
    * one-row array (cents — persisted: the corpus assignment and the
    * query probes both cross against it, and unpersisted each would
    * re-run the pick) and the TOP-1 corpus assignment, the inverted
    * lists (cells: cand_id, cell). */
  private def coarseQuantizer(vectors: DataFrame, idCol: String, vecCol: String,
      nCells: Int, seed: Long): (DataFrame, DataFrame, DataFrame) = {
    val cent = seededCentroids(vectors, idCol, vecCol, nCells, seed)
    val cents = CacheScope.persist(centroidArray(cent))
    val cells = vectors.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .select(col(idCol).as("cand_id"),
        expr(s"element_at(graft_top_cells($vecCol, cents, 1), 1).cent_id").as("cell"))
    (cent, cents, cells)
  }

  /** The IVF probe stage: each QUERY vector's `nProbe` nearest cells
    * (the [[topCells]] ordering against the centroid array `cents`),
    * joined to the inverted lists `cells` (cand_id, cell) — every
    * (query_id, cand_id) pair sharing a probed cell, self-pairs
    * excluded. Probing from the query vectors, not from the corpus
    * assignment, is what makes out-of-corpus queries work; for corpus
    * members it is the same ranking. */
  private def probedPairs(cents: DataFrame, cells: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val probes = queries.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .select(col(idCol).as("query_id"), explode(topCells(vecCol, nProbe)).as("pc"))
      .select(col("query_id"), col("pc.cent_id").as("cell"))
    broadcast(probes).join(cells, "cell")
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id")
  }

  /** Per-row top-`nProbe` cells over the broadcast centroid array —
    * the native codegen-fallback expression `graft_top_cells`
    * (functions.TopCells, injected via SparkSessionExtensions): ranks
    * every centroid by (rounded cosine DESC, cent_id — NULL cosines
    * last, exactly the `row_number` ordering the DuckDB oracles
    * replay) INSIDE one expression, so the plan has no Window and no
    * n×nCells shuffle — the rows that leave the operator are the
    * nProbe survivors, not every (vector, centroid) pair. At the √n
    * sizing rule a windowed assignment shuffles O(n^1.5) rows at
    * corpus scale; this shuffles none — and the native eval runs the
    * per-centroid loop compiled, where the [[topCellsSql]] HOF chain
    * it replaced walked an interpreted Expression tree per
    * (row, centroid): the inner loop that GROWS with corpus size
    * under √n sizing. Bit-identical to the HOF form (spec-pinned). */
  def topCells(vecCol: String, nProbe: Int): Column =
    expr(s"graft_top_cells($vecCol, cents, $nProbe)")

  /** The higher-order-function formulation of [[topCells]] — kept as
    * the reference the native expression is bit-tested against
    * (LibraryOpsSpec), portable to any engine with HOF support. */
  def topCellsSql(vecCol: String, nProbe: Int): Column = {
    val cmp = """(l, r) -> CASE
      WHEN l.c IS NULL AND r.c IS NULL THEN
        CASE WHEN l.cent_id < r.cent_id THEN -1 WHEN l.cent_id > r.cent_id THEN 1 ELSE 0 END
      WHEN l.c IS NULL THEN 1
      WHEN r.c IS NULL THEN -1
      WHEN l.c > r.c THEN -1
      WHEN l.c < r.c THEN 1
      WHEN l.cent_id < r.cent_id THEN -1
      WHEN l.cent_id > r.cent_id THEN 1
      ELSE 0 END"""
    expr(s"slice(array_sort(transform(cents, ct -> " +
      s"struct(round(graft_cosine($vecCol, ct.cv), 6) AS c, ct.cent_id AS cent_id)), $cmp), 1, $nProbe)")
  }

  /** Seeded Lloyd k-means over an embedding column, a FIXED number of
    * iterations (fixed = deterministic AND finitely SQL-replayable: the
    * oracle unrolls each iteration as a CTE). The curation use is
    * embedding-space corpus bucketing (topic clusters for
    * cluster-balanced sampling), so cosine is the affinity, matching
    * the IVF machinery this reuses.
    *
    * Per iteration: (1) assignment — each vector's nearest centroid via
    * the shuffle-free [[topCells]] expression (top-1 cell against the
    * broadcast centroid array: no Window, no n×k shuffle; ties break by
    * (rounded cosine DESC, cent_id) exactly like the oracle's
    * row_number); (2) update — new centroid = element-wise member mean,
    * computed as an order-independent decimal sum
    * ([[graft.functions.Deterministic.stableSum]], scale 9) over
    * `posexplode`d components so the result is bit-stable under any
    * partitioning and replayable by the oracle's DECIMAL sums. A cell
    * that loses all members drops out (k shrinks), mirrored by the
    * oracle's join semantics.
    *
    * Scale shape: each iteration is one broadcast-assignment pass plus
    * one (cell, dim)-key aggregation — map-side combinable, shuffle
    * volume k·dim rows — and the iteration count is a small constant,
    * so the whole operator is `iters` linear passes; centroids stay
    * driver-free (never collected).
    *
    * Output: final assignment (idCol, cell, cos) — cos is the rounded
    * member→centroid cosine of the final assignment. */
  def kmeans(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, seed: Long = 7L,
      memoKey: Option[String] = None): DataFrame = {
    val (pfx, assign, centFinal) =
      kmeansParts(vectors, idCol, vecCol, k, iters, seed, memoKey)
    val out = assign(centFinal).select(col(idCol), col("cell"), col("c").as("cos"))
    // CORPUS tier: one row per input vector — the centroid chain is the
    // bounded-tier entry, the assignment is corpus-proportional
    pfx.map(p => Memo.cachedCorpus(s"$p/asgF")(out)).getOrElse(out)
  }

  /** The trained centroid table of [[kmeans]] — (cent_id, cv), the
    * EXACT frame the final assignment runs against (same seeding, same
    * per-iteration memo keys, so a memoKey'd caller reuses a sibling
    * [[kmeans]]'s chain for free). For consumers that need the model,
    * not the assignment: silhouette scoring, cell-boundary audits,
    * centroid drift. */
  def kmeansCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, seed: Long = 7L,
      memoKey: Option[String] = None): DataFrame =
    kmeansParts(vectors, idCol, vecCol, k, iters, seed, memoKey)._3

  /** Shared guts of [[kmeans]]/[[kmeansCentroids]]: (memo prefix,
    * assignment builder, final centroid frame). Memo keys are
    * per-iteration (`cent$i`) so every consumer of the same
    * (corpus, params) key shares ONE trained chain — intermediates are
    * memoized because each is the direct input of the next iteration
    * across consumers that stop at different depths. */
  private def kmeansParts(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, seed: Long, memoKey: Option[String])
      : (Option[String], DataFrame => DataFrame, DataFrame) = {
    import graft.functions.Deterministic.stableSum
    require(k >= 1, s"kmeans needs k >= 1, got $k")
    require(iters >= 1, s"kmeans needs iters >= 1, got $iters")
    // memoKey: session-wide share of the trained centroid chain and the
    // final assignment (the pqTrainParts discipline) — sim_kmeans_cells
    // and dedup_semantic train the SAME seeded Lloyd chain whenever the
    // data-driven cell count resolves to the same k. Key must identify
    // the corpus; every training parameter is appended here.
    val pfx = memoKey.map(mk => s"$mk/km/$idCol/$vecCol/$k/$iters/$seed")
    def memoC(kk: String)(b: => DataFrame): DataFrame = pfx match {
      // coalesce(1): k centroid rows (model constant) — the r17
      // cached-width discipline (see pqTrainParts.memoP)
      case Some(p) => Memo.cached(s"$p/$kk")(b.coalesce(1))
      case None    => b
    }
    val v = vectors.select(col(idCol), col(vecCol).as("v"))
    def assign(cent: DataFrame): DataFrame =
      v.crossJoin(broadcast(centroidArray(cent)))
        .select(col(idCol), col("v"),
          expr("element_at(" + s"graft_top_cells(v, cents, 1)" + ", 1)").as("cc"))
        .select(col(idCol), col("v"),
          col("cc.cent_id").as("cell"), col("cc.c").as("c"))
    // (Measured: unrolling the 64 per-dimension decimal means as flat
    // aggregate columns — the single-shuffle shape pqCosError uses at
    // sub=8 — is SLOWER here: 64 decimal aggregates overflow the
    // whole-stage-codegen budget and the aggregate falls back to
    // interpreted. The posexplode form keeps every stage codegen'd.)
    def update(asg: DataFrame): DataFrame =
      asg.select(col("cell").as("cent_id"), posexplode(col("v")))
        .groupBy("cent_id", "pos")
        .agg((stableSum(col("col").cast("double"), 9) / count(lit(1))).as("m"))
        .groupBy("cent_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").as("cv"))
    val centFinal = (1 to iters).foldLeft(seededCentroids(v, idCol, "v", k, seed)) {
      (cent, i) => memoC(s"cent$i") { update(assign(cent)) }
    }
    (pfx, assign, centFinal)
  }

  /** Centroid-based silhouette of a [[kmeans]] clustering — the
    * clustering-quality acceptance metric (Rousseeuw 1987, the
    * centroid simplification): per vector, a = cosine distance to its
    * OWN centroid, b = distance to the best OTHER centroid, s =
    * (b − a) / max(a, b) ∈ [−1, 1]; s near 0 means the vector sits on
    * a cell boundary (clustering adds nothing), s near 1 means tight,
    * well-separated cells — the number that decides whether the
    * cell-based operators downstream (semantic dedup, IVF probing,
    * cluster-balanced sampling) can trust their cells.
    *
    * Scale shape: both distances fall out of ONE `graft_top_cells`
    * top-2 probe against the broadcast centroid array — the same
    * shuffle-free per-row assignment [[kmeans]] uses, so the whole
    * scoring pass is one corpus scan with no window, no n×k pair
    * frame, no shuffle before the final per-cell aggregate. Degenerate
    * guards: a single surviving cell (no alternative) and a both-zero
    * distance tie score 0.
    *
    * Output: (idCol, cell, sil) per vector, sil rounded 6. */
  def kmeansSilhouette(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, seed: Long = 7L,
      memoKey: Option[String] = None): DataFrame = {
    val cents = kmeansCentroids(vectors, idCol, vecCol, k, iters, seed, memoKey)
    val a = lit(1.0) - col("t2")(0)("c")
    val b = lit(1.0) - col("t2")(1)("c")
    vectors.select(col(idCol), col(vecCol).as("v"))
      .crossJoin(broadcast(centroidArray(cents)))
      .select(col(idCol), expr("graft_top_cells(v, cents, 2)").as("t2"))
      .select(col(idCol), col("t2")(0)("cent_id").as("cell"),
        when(col("t2")(1).isNull || col("t2")(1)("c").isNull ||
            greatest(a, b) === 0.0, lit(0.0))
          .otherwise(round((b - a) / greatest(a, b), 6)).as("sil"))
  }

  /** Int8 scalar quantization fidelity report — the compression step
    * that makes a 100 TB embedding store tractable (float32 → int8 is
    * the standard 4× memory/IO cut before ANN): per-DIMENSION symmetric
    * quantization (scale_d = max|x_d| / 127 over the corpus, code =
    * clamp(round(x/scale), ±127)), then per-vector reconstruction
    * fidelity — MSE, max absolute error, and cosine(original,
    * reconstruction), the number that decides whether ANN recall
    * survives the compression.
    *
    * Plan shape: one posexplode pass → per-dimension max (dim-bounded
    * aggregate, broadcast back) → row-wise quantize/reconstruct →
    * per-vector aggregate (map-side combinable; sums go through
    * [[graft.functions.Deterministic.stableSum]] at scale 12 so the
    * per-vector doubles are accumulation-order-invariant and
    * oracle-replayable). No shuffle wider than the corpus row count,
    * no driver collection; the dim × scale table is the only broadcast.
    *
    * `carry` columns must be constant per id (they join the groupBy
    * key); a varying carry silently splits a vector's aggregate. Same
    * contract for [[pqCosError]].
    *
    * Output: (idCol, `carry`..., mse, max_abs_err, cos_recon). */
  def scalarQuantError(vectors: DataFrame, idCol: String, vecCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.Deterministic.stableSum
    val keys = (idCol +: carry).map(col)
    val ex = vectors
      .select(keys :+ posexplode(col(vecCol).cast("array<double>")): _*)
      .withColumnRenamed("pos", "d").withColumnRenamed("col", "x")
    val scales = ex.groupBy("d").agg((max(abs(col("x"))) / lit(127.0)).as("scale"))
    val rec = ex.join(broadcast(scales), "d")
      .withColumn("r",
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(least(greatest(round(col("x") / col("scale"), 0), lit(-127.0)),
            lit(127.0)) * col("scale")))
    rec.groupBy(keys: _*)
      .agg(
        (stableSum((col("x") - col("r")) * (col("x") - col("r")), 12) /
          count(lit(1))).as("mse"),
        max(abs(col("x") - col("r"))).as("max_abs_err"),
        stableSum(col("x") * col("r"), 12).as("xr"),
        stableSum(col("x") * col("x"), 12).as("xx"),
        stableSum(col("r") * col("r"), 12).as("rr"))
      .withColumn("cos_recon",
        when(col("xx") === 0.0 || col("rr") === 0.0, lit(0.0))
          .otherwise(col("xr") / (sqrt(col("xx")) * sqrt(col("rr")))))
      .drop("xr", "xx", "rr")
  }

  /** Product-quantization fidelity — the codebook compression step of
    * large-scale ANN (dim-d float vectors → m sub-space code ids, a
    * d·4/m·log₂k compression; 64-dim float32 → 8 bytes here): the
    * vector is split into `m` contiguous sub-vectors, each quantized to
    * its nearest (by cosine, matching the engine's IVF affinity) of
    * `kCodes` codewords, and fidelity is the cosine between the
    * original vector and its codeword concatenation.
    *
    * Codebooks are TRAINED: seeded picks (the ivfTopK quantizer
    * design) refined by `iters` Lloyd iterations per subspace — the
    * same assign/update passes as [[kmeans]], run for all m subspaces
    * in one job per pass (assignment keyed by subspace against the
    * broadcast codebook; update = per-(subspace, codeword, dim)
    * decimal-stable mean). Iterations are a small fixed constant, so
    * the oracle replays them as finitely unrolled CTEs exactly like
    * the kmeans oracle; `iters = 0` reproduces the raw seeded
    * codebook. Codewords that lose all members drop out by join
    * semantics on both sides.
    *
    * Plan shape: one explode to (vector, subspace) rows (persisted —
    * each Lloyd pass and the final reconstruction rescan it);
    * per-subspace assignment through the shuffle-free [[topCells]]
    * expression against the broadcast (m × kCodes) codebook — no
    * Window, no n×k shuffle, ties broken (rounded cosine DESC,
    * cent_id) exactly like the oracle's row_number; each update
    * shuffles only m·kCodes·subDim mean cells; codeword lookup is a
    * broadcast equi-join; the per-vector dot sums ride DECIMAL stable
    * sums so the fidelity doubles are accumulation-order invariant.
    *
    * Output: (idCol, `carry`..., cos_pq). */
  def pqCosError(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int = 64, m: Int = 8, kCodes: Int = 16, seed: Long = 77L,
      iters: Int = 2, carry: Seq[String] = Nil,
      memoKey: Option[String] = None): DataFrame = {
    import graft.functions.Deterministic.stableSum
    val sub = dim / m
    val (trained, asgF) =
      pqTrainParts(vectors, idCol, vecCol, dim, m, kCodes, seed, iters, memoKey)
    // Final reconstruction rides the (memoizable) final assignment:
    // codeword lookup is one broadcast equi-join on (j, cent_id)
    // against the m·kCodes codebook.
    val rec = asgF.join(broadcast(trained), Seq("j", "cent_id"))
      .withColumn("xr", expr(dotExpr("vj", "cv", sub)))
      .withColumn("xx", expr(dotExpr("vj", "vj", sub)))
      .withColumn("rr", expr(dotExpr("cv", "cv", sub)))
    val perId = rec.groupBy(col(idCol))
      .agg(stableSum(col("xr"), 12).as("sxr"),
        stableSum(col("xx"), 12).as("sxx"),
        stableSum(col("rr"), 12).as("srr"))
      .withColumn("cos_pq",
        when(col("sxx") === 0.0 || col("srr") === 0.0, lit(0.0))
          .otherwise(col("sxr") / (sqrt(col("sxx")) * sqrt(col("srr")))))
      .drop("sxr", "sxx", "srr")
    // carry columns ride an id-keyed side-map join (training is
    // carry-free so its frames memo-share across differently-shaped
    // callers); carry is functionally dependent on the id, so joining
    // after the per-id aggregate is exact. NO broadcast hint: the
    // side-map is one row per CORPUS vector (at 10⁹ vectors a
    // broadcast would be a driver OOM) and both sides are id-keyed
    // corpus frames — exactly the join to leave to Catalyst/AQE, which
    // still broadcasts it at toy scale and shuffles it at 100 TB.
    if (carry.isEmpty) perId
    else {
      val side = vectors.select((idCol +: carry).map(col): _*)
      perId.join(side, idCol)
        .select(((idCol +: carry).map(col) :+ col("cos_pq")): _*)
    }
  }

  /** Shared PQ training chain for [[pqCosError]] / [[pqAdcTopK]]:
    * slices the corpus into `m` persisted sub-vector rows (internal
    * `exSub`: id, j, vj — deliberately CARRY-FREE so the frames are
    * caller-shape-independent), trains the per-subspace codebook
    * (`trained`: j, cent_id, cv) — seeded picks refined by `iters`
    * Lloyd passes — and returns it with the FINAL assignment
    * (`asgF`: id, j, vj, cent_id against `trained`), which both the
    * fidelity reconstruction and the ADC corpus encoding consume.
    *
    * `memoKey`: when set, `exSub`, every iteration's CODEBOOK and the
    * FINAL assignment are memoized session-wide via [[Memo]] under
    * `memoKey/params/…` — codebooks on the BOUNDED tier (m·kCodes
    * rows), exSub and the final assignment on the CORPUS tier (m rows
    * per input vector, the audited per-row factor: written once as
    * derived Parquet, never pinned) — `sim_pq_error` (iters = 2) and
    * `sim_pq_adc_topk` (iters = 1) train the SAME seeded codebooks,
    * and iteration i's frames are a strict prefix of iteration i+1's,
    * so with a shared key the second query (and every bench rep) pays
    * only its un-memoized suffix instead of the whole chain (r8's one
    * weak item: the chain was re-trained twice per bench pass).
    * Chain-INTERMEDIATE assignments are only PROBED ([[Memo.lookup]] —
    * a hit when a fewer-iters sibling memoized that assignment as its
    * final) and on a miss built un-persisted: each is consumed exactly
    * once by the next Lloyd update, and pinning corpus×m frames for
    * the session is the r3 cache-accumulation regression class. The
    * caller's key must identify the CORPUS (e.g. [[Memo.corpusKey]]);
    * params are appended here. Without a key, behavior is the
    * original scope-local persist chain.
    *
    * The Lloyd update is ONE shuffle: `sub = dim/m` is a small
    * compile-time constant, so the per-dimension DECIMAL(28,9) means
    * unroll as ordinary aggregate columns — numerically identical to a
    * posexplode + (j, cent_id, pos) + re-collect formulation (same
    * decimal sums, divisor and dim order) minus its second shuffle.
    * (Do NOT copy this unroll to full-width dim=64 aggregations — 64
    * decimal aggregates fall out of whole-stage codegen; see kmeans.)
    * Each trained codebook is persisted: it is TINY (m·kCodes rows)
    * but its lineage holds every earlier Lloyd pass and several
    * downstream branches consume it. */
  private[graft] def pqTrainParts(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kCodes: Int, seed: Long, iters: Int,
      memoKey: Option[String] = None): (DataFrame, DataFrame) = {
    import graft.functions.Deterministic.stableSum
    require(m >= 1 && dim % m == 0, s"PQ needs m | dim, got dim=$dim m=$m")
    require(kCodes >= 1, s"PQ needs kCodes >= 1, got $kCodes")
    require(iters >= 0, s"PQ needs iters >= 0, got $iters")
    val sub = dim / m
    val pfx = memoKey.map(k => s"$k/$idCol/$vecCol/$dim/$m/$kCodes/$seed")
    // trained codebooks (m·kCodes rows): BOUNDED tier when keyed, else
    // scope-local persist. coalesce(1): model-constant-sized by
    // construction — cached at session shuffle width every consumer
    // would scan 32 near-empty partitions per read (r17 cached-width
    // discipline; AQE re-coalesces a cached plan's output partitioning
    // only under spark.sql.optimizer.canChangeCachedPlanOutputPartitioning,
    // which is off by default in Spark 4.1)
    def memoP(k: String)(b: => DataFrame): DataFrame = pfx match {
      case Some(p) => Memo.cached(s"$p/$k")(b.coalesce(1))
      case None    => CacheScope.persist(b.coalesce(1))
    }
    // corpus-PROPORTIONAL frames (m rows per input vector: the sliced
    // sub-vector table and the final assignment): CORPUS tier (a
    // written table) when keyed, audited against the m-per-row
    // factor — else the original behavior
    def memoCp(k: String)(b: => DataFrame): DataFrame = pfx match {
      case Some(p) => Memo.cachedCorpus(s"$p/$k")(b)
      case None    => CacheScope.persist(b)
    }
    // final assignment: memo when keyed (re-read by every bench rep of
    // its own query); un-keyed callers consumed it once, so no persist
    def memoA(k: String)(b: => DataFrame): DataFrame = pfx match {
      case Some(p) => Memo.cachedCorpus(s"$p/$k")(b)
      case None    => b
    }
    // chain INTERMEDIATES: probe the memo (a sibling with fewer iters
    // memoized this assignment as ITS final — reuse it), but on a miss
    // build UN-persisted and never register: an assignment consumed
    // exactly once by the next Lloyd update must not stay pinned at
    // MEMORY_AND_DISK for the session (cross-query cache pressure —
    // the r3 f-cluster regression class)
    def probeA(k: String)(b: => DataFrame): DataFrame = pfx match {
      case Some(p) => Memo.lookup(s"$p/$k").getOrElse(b)
      case None    => b
    }
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    // cast after the pick: only the kCodes picked vectors, not the
    // whole corpus feeding the top-k sort
    val codebook0 = seededCentroids(vectors, idCol, vecCol, kCodes, seed)
      .select(col("cent_id"), col("cv").cast("array<double>").as("cv0"))
      .select(explode(array((0 until m).map(j =>
        struct(lit(j).as("j"), col("cent_id"),
          slice(col("cv0"), j * sub + 1, sub).as("cv"))): _*)).as("e"))
      .select(col("e.j").as("j"), col("e.cent_id").as("cent_id"), col("e.cv").as("cv"))
    val exSub = memoCp("exSub") {
      v.select(col(idCol), explode(array((0 until m).map(j =>
          struct(lit(j).as("j"), slice(col("v"), j * sub + 1, sub).as("vj"))): _*)).as("e"))
        .select(col(idCol), col("e.j").as("j"), col("e.vj").as("vj")) }
    def assign(cb: DataFrame): DataFrame =
      exSub.join(broadcast(pqCentsByJ(cb)), "j")
        .withColumn("cc", expr("element_at(graft_top_cells(vj, cents, 1), 1)"))
        .select(col(idCol), col("j"), col("vj"), col("cc.cent_id").as("cent_id"))
    def update(asg: DataFrame): DataFrame = {
      val dims = (1 to sub).map(i =>
        (stableSum(expr(s"CAST(element_at(vj, $i) AS DOUBLE)"), 9)
          / count(lit(1))).as(s"m$i"))
      asg.groupBy("j", "cent_id")
        .agg(dims.head, dims.tail: _*)
        .select(col("j"), col("cent_id"),
          array((1 to sub).map(i => col(s"m$i")): _*).as("cv"))
    }
    val trained = (0 until iters).foldLeft(codebook0) { (cb, i) =>
      memoP(s"cb${i + 1}") { update(probeA(s"asg$i") { assign(cb) }) }
    }
    val asgF = memoA(s"asg$iters") { assign(trained) }
    (trained, asgF)
  }

  /** Codebook rolled into one array-of-structs row PER SUBSPACE for the
    * broadcast [[topCells]] assignment (the per-j analog of
    * [[centroidArray]]). */
  private[graft] def pqCentsByJ(cb: DataFrame): DataFrame =
    cb.groupBy("j").agg(collect_list(struct(col("cent_id"), col("cv"))).as("cents"))

  /** ADC (asymmetric-distance) top-k search over PQ codes — the query
    * path that makes a PQ-compressed 100 TB embedding store searchable:
    * the corpus exists only as (vector → m codeword ids); a query keeps
    * full precision and scores every candidate by the cosine between
    * the full query and the candidate's codeword RECONSTRUCTION,
    * reading `m` codewords per candidate instead of `dim` floats — the
    * standard Jégou-style ADC scan, 8 bytes/vector here vs 256.
    *
    * Approximation contract: scores are exact cosines against the
    * QUANTIZED corpus (the asymmetric estimator — query side unlossy),
    * so ranking error is bounded by the codebook fidelity
    * [[pqCosError]] reports. Determinism: per-subspace partial dots
    * ride DECIMAL(28,12) stable sums (order-invariant), the query norm
    * is one row-local unrolled chain, ties break by candidate id.
    *
    * Plan shape: codebook training = [[pqTrainParts]] (bounded
    * broadcast passes); scoring is the textbook ADC lookup-table scan,
    * relationalized. The corpus collapses to ONE row per candidate
    * (its m codeword ids + reconstruction norm — the only n·m-row
    * shuffle), each query precomputes its m × kCodes partial-dot
    * table against the broadcast codebook (q·m·kCodes rows — tiny),
    * and scoring is a broadcast cross join of the n candidate rows
    * against the q LUT rows with a row-local exact-DECIMAL chain over
    * the m code lookups ([[adcScore]] — unrolled, codegen'd, decimal-
    * exact) — no (query × candidate × subspace) shuffle ever
    * materializes, and the per-query rank window partitions on the
    * bounded query set. Output: (query_id, rk, cand_id, cos_adc),
    * rk ≤ k. */
  def pqAdcTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 3, dim: Int = 64, m: Int = 8,
      kCodes: Int = 16, seed: Long = 77L, iters: Int = 1,
      memoKey: Option[String] = None): DataFrame = {
    require(k >= 1, s"pqAdcTopK needs k >= 1, got $k")
    val sub = dim / m
    val (trained, asgF) =
      pqTrainParts(vectors, idCol, vecCol, dim, m, kCodes, seed, iters, memoKey)
    val pos = pqLutPositions(trained)
    val cand = pqEncodeRows(asgF, trained, pos, idCol, sub, m)
    val lut = pqQueryLut(queries, trained, pos, idCol, vecCol, dim, m, sub)
    topKPerQuery(adcScore(cand.crossJoin(broadcast(lut))
      .filter(col("query_id") =!= col("cand_id")), m), k, "cos_adc", longRank = true)
  }

  /** Dense per-(j, cent_id) LUT positions (within-j rank + cumulative
    * offset of prior subspaces — dense even if a Lloyd iteration
    * starves a codeword out of some j) so LUT lookups are positional:
    * Spark's map element_at is a LINEAR scan over the entries per
    * lookup (no hash index), measured ~3 s of pure scanning at 200k
    * candidates; an array index is O(1). Codebook-sized frames only
    * (the unpartitioned offset window runs over ≤ m rows). */
  private def pqLutPositions(trained: DataFrame): DataFrame = {
    val perJ = trained.select("j", "cent_id")
      .withColumn("cr",
        row_number().over(Window.partitionBy("j").orderBy("cent_id")) - 1)
    val offs = perJ.groupBy("j").agg(count(lit(1)).as("nj"))
      .withColumn("off", coalesce(sum("nj").over(
        Window.orderBy("j").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    perJ.join(offs.select("j", "off"), "j")
      .select(col("j"), col("cent_id"), (col("off") + col("cr")).as("idx"))
  }

  /** Encode the corpus for ADC: the (memoizable) final PQ assignment +
    * one broadcast codebook join for the codeword norm, rolled up to
    * one row per candidate — (cand_id, i0..i{m-1} LUT positions, srr).
    * The only n·m-row shuffle of the ADC path. */
  private def pqEncodeRows(asgF: DataFrame, trained: DataFrame,
      pos: DataFrame, idCol: String, sub: Int, m: Int): DataFrame = {
    import graft.functions.Deterministic.stableSum
    val enc = asgF.join(broadcast(trained), Seq("j", "cent_id"))
      .select(col(idCol).as("cand_id"), col("j"), col("cent_id"),
        expr(dotExpr("cv", "cv", sub)).as("rr"))
      .join(broadcast(pos), Seq("j", "cent_id"))
    val idxCols = (0 until m).map(j =>
      max(when(col("j") === j, col("idx"))).as(s"i$j"))
    enc.groupBy("cand_id")
      .agg(idxCols.head, idxCols.tail :+ stableSum(col("rr"), 12).as("srr"): _*)
  }

  /** Per-query ADC lookup table: lut[pos(j, cent)] = <q_j, codeword>,
    * positionally sorted; plus the full-precision query norm computed
    * once. q·m·kCodes rows — tiny by the small-query-set contract. */
  private def pqQueryLut(queries: DataFrame, trained: DataFrame,
      pos: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
      sub: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", sqrt(expr(dotExpr("qv", "qv", dim))))
    val qSub = qv.select(col("query_id"), col("qn"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("j"), slice(col("qv"), j * sub + 1, sub).as("qj"))): _*)).as("e"))
      .select(col("query_id"), col("qn"), col("e.j").as("j"), col("e.qj").as("qj"))
    qSub.join(trained.hint("broadcast"), "j")
      .join(broadcast(pos), Seq("j", "cent_id"))
      .withColumn("xr", expr(dotExpr("qj", "cv", sub)))
      .groupBy("query_id", "qn")
      .agg(array_sort(collect_list(struct(col("idx"), col("xr")))).as("lut"))
  }

  /** The row-local ADC cosine over a frame carrying (i0..i{m-1}, srr,
    * qn, lut): the m lookups are UNROLLED over m pivoted code columns,
    * not folded with `aggregate` — higher-order lambdas run interpreted
    * (this file's header note; the fold form measured ~5 s of pure
    * per-row interpretation at 200k candidates) while the unrolled
    * positional `lut[i0].xr + … + lut[i7].xr` chain stays in
    * whole-stage codegen. Every term is cast to DECIMAL(28,12), so the
    * exact decimal chain equals the stableSum aggregate the oracle
    * replays (exact addition is order-free and the chain's precision
    * headroom is m digits). Adds columns sxr and c (rounded cosine). */
  private def adcScore(pairs: DataFrame, m: Int): DataFrame =
    pairs
      .withColumn("sxr",
        (0 until m).map(j =>
            expr(s"CAST(element_at(lut, CAST(i$j + 1 AS INT)).xr AS DECIMAL(28,12))"))
          .reduce(_ + _).cast("double"))
      .withColumn("c", round(
        when(col("srr") === 0.0 || col("qn") === 0.0, lit(0.0))
          .otherwise(col("sxr") / (col("qn") * sqrt(col("srr")))), 6))

  /** IVF-ADC top-k — the Jégou et al. 2011 "IVFADC" layout, THE
    * standard billion-scale ANN structure (coarse inverted lists to
    * bound the scan, PQ codes to bound the bytes): queries probe their
    * `nProbe` nearest coarse cells and score ONLY those cells' members,
    * by asymmetric distance against each member's codeword
    * reconstruction — never the raw vectors. [[ivfTopK]] bounds WHICH
    * candidates are read (nProbe/nList of the corpus) but still reads
    * `dim` floats each; [[pqAdcTopK]] bounds the BYTES per candidate
    * (m codes) but scans the whole corpus; this composition bounds
    * both, which is what makes a 100 TB embedding store servable.
    *
    * Structure: [[ivfPqSearch]] over [[ivfPqBuild]] — the same two
    * stages [[writeIvfPqIndex]] persists and [[searchIvfPqIndex]]
    * serves. The coarse quantizer is [[ivfTopK]]'s; the code layer is
    * [[pqAdcTopK]]'s ([[pqTrainParts]] training — memo-shared under the
    * same key, so a session serving both ADC variants trains once —
    * positional LUT, unrolled decimal scoring chain). The probed-pair
    * frame replaces pqAdcTopK's full cross join, so the scoring pass is
    * ONE scan of the 8-byte-code frame with no shuffle, emitting only
    * probed-cell members.
    *
    * Determinism: both stages' tie-breaks are spec-pinned (rounded
    * cosine DESC, id), scores ride the same DECIMAL(28,12) chains as
    * pqAdcTopK; recall vs [[bruteTopK]] is bounded by coarse-probe
    * misses (measured by sim_ann_recall's protocol) times codebook
    * fidelity ([[pqCosError]]). Output: (query_id, rk, cand_id,
    * cos_adc), rk ≤ k. */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 3, nList: Int = 16, nProbe: Int = 2,
      ivfSeed: Long = 2024L, dim: Int = 64, m: Int = 8, kCodes: Int = 16,
      pqSeed: Long = 77L, iters: Int = 1, targetCellSize: Int = 256,
      numVectors: Option[Long] = None,
      memoKey: Option[String] = None): DataFrame = {
    require(k >= 1, s"ivfPqTopK needs k >= 1, got $k")
    require(nProbe >= 1, s"ivfPqTopK needs nProbe >= 1, got $nProbe")
    ivfPqSearch(ivfPqBuild(vectors, idCol, vecCol, nList, ivfSeed, dim, m,
        kCodes, pqSeed, iters, targetCellSize, numVectors, memoKey),
      queries, idCol, vecCol, k, nProbe, dim, m)
  }

  /** An IVF-PQ index: the coarse quantizer's centroids (`cent`:
    * cent_id, cv) and their persisted one-row array (`cents`), the
    * top-1 corpus cells (`cells`: cand_id, cell — the inverted lists),
    * the PQ codes (`codes`: cand_id, i0..i{m−1} LUT positions, srr) and
    * the trained codebooks (`codebooks`: j, cent_id, cv). Built by
    * [[ivfPqBuild]], or read back from the files [[writeIvfPqIndex]]
    * wrote. */
  private case class IvfPqIndex(cent: DataFrame, cents: DataFrame,
      cells: DataFrame, codes: DataFrame, codebooks: DataFrame)

  /** Train an [[IvfPqIndex]]: [[coarseQuantizer]] over `nCells` =
    * [[autoNList]] cells, [[pqTrainParts]] codebooks, and the corpus
    * encoded to one code row per vector. */
  private def ivfPqBuild(vectors: DataFrame, idCol: String, vecCol: String,
      nList: Int, ivfSeed: Long, dim: Int, m: Int, kCodes: Int, pqSeed: Long,
      iters: Int, targetCellSize: Int, numVectors: Option[Long],
      memoKey: Option[String]): IvfPqIndex = {
    val nCells = autoNList(numVectors.getOrElse(vectors.count()), nList, targetCellSize)
    val (cent, cents, cells) = coarseQuantizer(vectors, idCol, vecCol, nCells, ivfSeed)
    val (trained, asgF) =
      pqTrainParts(vectors, idCol, vecCol, dim, m, kCodes, pqSeed, iters, memoKey)
    IvfPqIndex(cent, cents, cells,
      pqEncodeRows(asgF, trained, pqLutPositions(trained), idCol, dim / m, m), trained)
  }

  /** Top-k over an [[IvfPqIndex]]: the [[probedPairs]] of the query
    * vectors, each pair joined to its candidate's code row and the
    * query's LUT (both broadcast-hash joins, so scoring is one scan of
    * the code frame), [[adcScore]], then the (cos DESC, cand_id) rank.
    * The one search stage of [[ivfPqTopK]] and [[searchIvfPqIndex]]. */
  private def ivfPqSearch(ix: IvfPqIndex, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, dim: Int, m: Int): DataFrame = {
    val pairs = probedPairs(ix.cents, ix.cells, queries, idCol, vecCol, nProbe)
    val lut = pqQueryLut(queries, ix.codebooks, pqLutPositions(ix.codebooks),
      idCol, vecCol, dim, m, dim / m)
    topKPerQuery(adcScore(ix.codes.join(broadcast(pairs), "cand_id")
      .join(broadcast(lut), "query_id"), m), k, "cos_adc", longRank = true)
  }

  /** TRAIN/SERVE SPLIT of [[ivfPqTopK]], write half: [[ivfPqBuild]],
    * written as three Parquet datasets under `dir` — the S4 sink
    * discipline applied to the ANN index, which is the production
    * shape at 100 TB: the index is built ONCE by a training job and
    * every serving job loads it, instead of each search dragging the
    * training lineage along.
    *
    *  - `centroids/` (cent_id, cv): the coarse quantizer — nCells rows.
    *  - `codebooks/` (j, cent_id, cv): the trained PQ codebooks —
    *    m·kCodes rows.
    *  - `codes/` (cand_id, i0..i{m−1}, srr, cell): one row per corpus
    *    vector — its m codeword LUT positions, its reconstruction norm
    *    and its coarse cell. The ONLY corpus-sized dataset, m bytes of
    *    codes per vector: the 32× compression that makes the store
    *    servable.
    *
    * Everything the search needs is IN the files (LUT positions
    * re-derive deterministically from the codebook rows; doubles and
    * floats round-trip Parquet exactly), and [[searchIvfPqIndex]] runs
    * the same [[ivfPqSearch]] over them that [[ivfPqTopK]] runs over
    * the in-memory build — so the two are row-identical by construction
    * for the same parameters (spec-pinned, and proven through the
    * oracle gate by the `sim_index_persist_search` registry query). */
  def writeIvfPqIndex(vectors: DataFrame, idCol: String, vecCol: String,
      dir: String, nList: Int = 16, ivfSeed: Long = 2024L, dim: Int = 64,
      m: Int = 8, kCodes: Int = 16, pqSeed: Long = 77L, iters: Int = 1,
      targetCellSize: Int = 256, numVectors: Option[Long] = None,
      memoKey: Option[String] = None): Unit = {
    val ix = ivfPqBuild(vectors, idCol, vecCol, nList, ivfSeed, dim, m,
      kCodes, pqSeed, iters, targetCellSize, numVectors, memoKey)
    // serve-side file sizing (StoreFs.sizedForWrite): every search scans
    // these datasets, so their file count is every search's task count
    StoreFs.sizedForWrite(ix.cent).write.mode("overwrite").parquet(s"$dir/centroids")
    StoreFs.sizedForWrite(ix.codebooks).write.mode("overwrite").parquet(s"$dir/codebooks")
    StoreFs.sizedForWrite(ix.codes.join(ix.cells, "cand_id"))
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** TRAIN/SERVE SPLIT of [[ivfPqTopK]], serve half: answer top-k from
    * an index written by [[writeIvfPqIndex]], reading ONLY the
    * persisted files plus the caller's query vectors — no training
    * lineage — through the same [[ivfPqSearch]] as [[ivfPqTopK]].
    * `nProbe` and `k` are the serve-time choices; `dim` and `m` are
    * STRUCTURAL properties of the written index and must match it — a
    * mismatch would score against the wrong LUT slices, producing
    * silently wrong cosines, so both are validated against the files
    * here (m from the codes schema at zero cost, dim from one codebook
    * row — a tiny driver fetch before the real search jobs). Output:
    * (query_id, rk, cand_id, cos_adc), rk ≤ k. */
  def searchIvfPqIndex(indexDir: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 3, nProbe: Int = 2, dim: Int = 64,
      m: Int = 8): DataFrame = {
    require(k >= 1, s"searchIvfPqIndex needs k >= 1, got $k")
    require(nProbe >= 1, s"searchIvfPqIndex needs nProbe >= 1, got $nProbe")
    val spark = queries.sparkSession
    val sub = dim / m
    val cent = spark.read.parquet(s"$indexDir/centroids")
    val trained = spark.read.parquet(s"$indexDir/codebooks")
    val codesRaw = spark.read.parquet(s"$indexDir/codes")
    val codeCols = codesRaw.columns.toSet
    require((0 until m).forall(j => codeCols.contains(s"i$j")) &&
        !codeCols.contains(s"i$m"),
      s"index at $indexDir was written with m=" +
        s"${codeCols.count(c => c.startsWith("i") && c.drop(1).forall(_.isDigit))}" +
        s" subspaces, this call expects m=$m")
    val storedSub = trained.select(size(col("cv"))).head().getInt(0)
    require(storedSub == sub,
      s"index at $indexDir stores $storedSub-wide sub-vectors, " +
        s"this call's dim=$dim / m=$m expects $sub")
    // the codes dataset feeds the probe restriction AND the scoring
    // scan — scope-persisted so the index is read once per search job
    // (the same reader the m-validation used: one file listing)
    val codes = CacheScope.persist(codesRaw)
    ivfPqSearch(IvfPqIndex(cent, CacheScope.persist(centroidArray(cent)),
        codes.select("cand_id", "cell"), codes.drop("cell"), trained),
      queries, idCol, vecCol, k, nProbe, dim, m)
  }

  /** Johnson–Lindenstrauss random projection: dim → outDim with a
    * seeded Rademacher (±1) matrix scaled by 1/√outDim — the Achlioptas
    * 2003 database-friendly construction; JL says pairwise distances
    * survive within (1 ± ε) at outDim = O(ln n / ε²). The
    * dimensionality-reduction front end for ANN indexing and dedup at
    * 100 TB: an 8× narrower vector means 8× less shuffle in every
    * downstream join.
    *
    * Shape: the matrix is GENERATED, not stored — dim·outDim rows
    * derived from the deterministic hash on a `spark.range`, broadcast
    * (≤ a few thousand rows at any practical width); the projection is
    * explode → broadcast-join on the input coordinate → (id, j)
    * aggregate. Never more than (rows × dim) in flight, identical on
    * any partitioning.
    *
    * Determinism: ± signs come from the md5 parity of "cell_seed" —
    * NOT from the affine hrand: over the SEQUENTIAL cell ids the
    * affine map's bits are (near-)periodic Weyl sequences (its low
    * bit is the id's own parity — with an even outDim that makes
    * every matrix column sign-constant and collapses the projection
    * to ±Σxᵢ; even its top bit leaves adjacent columns correlated —
    * measured mean distortion 0.77 instead of ≈ 0.98). md5 has no
    * such structure and is the engine's portable string hash.
    * Products are exact (±x), the per-output sum rides DECIMAL(28,12)
    * and 1/√outDim is applied as /√(outDim) with outDim a perfect
    * square by contract (the division is then exact in binary — pass
    * 16, not 15). Output: (idCol, j, y), outDim rows per vector. */
  def randomProjection(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int, seed: Long): DataFrame = {
    val root = math.sqrt(outDim.toDouble)
    require(root == math.rint(root),
      s"randomProjection needs a perfect-square outDim for exact scaling, got $outDim")
    val spark = vectors.sparkSession
    val cellHash = conv(substring(md5(encode(
      concat(col("id").cast("string"), lit(s"_$seed")), "UTF-8")), 1, 8), 16, 10)
      .cast("long")
    val r = spark.range(dim.toLong * outDim)
      .select(expr(s"id div $outDim").as("i"), (col("id") % outDim).as("j"),
        when(cellHash % 2L === 0L, 1.0).otherwise(-1.0).as("s"))
    val ex = vectors
      .select(col(idCol), posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
    ex.join(broadcast(r), "i")
      .withColumn("t", col("x") * col("s"))
      .groupBy(col(idCol), col("j"))
      .agg(round(graft.functions.Deterministic.stableSum(col("t"), 12) / root, 6).as("y"))
  }

  /** IVF-style top-k: a seeded coarse quantizer (centroid vectors
    * picked by the deterministic hash — single assignment pass, no
    * Lloyd iterations), inverted lists by nearest centroid, each query
    * VECTOR probes its `nProbe` nearest cells ([[probedPairs]] — so a
    * query need not be a corpus member), and the probed members are
    * scored by exact cosine. The cell count is data-driven:
    * `max(nList, ceil(sqrt(n / targetCellSize)))` per [[autoNList]],
    * with n = `numVectors` (see the header's invariant).
    * Output: (query_id, rk, cand_id, cos). */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 3, nList: Int = 16, nProbe: Int = 2,
      seed: Long = 2024L, targetCellSize: Int = 256,
      numVectors: Option[Long] = None): DataFrame = {
    require(nProbe >= 1, s"ivfTopK needs nProbe >= 1, got $nProbe")
    val nCells = autoNList(numVectors.getOrElse(vectors.count()), nList, targetCellSize)
    val (_, cents, cells) = coarseQuantizer(vectors, idCol, vecCol, nCells, seed)
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q"))
    val xv = vectors.select(col(idCol).as("cand_id"), col(vecCol).as("x"))
    topKPerQuery(probedPairs(cents, cells, queries, idCol, vecCol, nProbe)
        .join(broadcast(qv), "query_id").join(xv, "cand_id")
        .select(col("query_id"), col("cand_id"), round(cosine("q", "x"), 6).as("c")),
      k, "cos")
  }
}
