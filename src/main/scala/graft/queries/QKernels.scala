package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import breeze.linalg.{DenseMatrix, DenseVector}
import graft.Tables
import graft.kernels.LinAlg

/** SURVEY §2.8 linear-algebra analytics — run on SUFFICIENT
  * STATISTICS end to end: every query aggregates one moment row per
  * group (count + first-order sums + packed second-moment triangle,
  * via the exact order-invariant functions.MomentsAgg, or exact
  * integer units on the fact table for L8) and the dense Breeze solves
  * run on those O(dims²) numbers. No task ever materializes a group,
  * so the layer is immune to group-size growth at corpus scale; the
  * only row-level shuffles are the hash aggregate itself and the L6/L7
  * fold-rank window. The data-path kernels (LinAlg.pca/cca/ols) remain
  * as golden-tested reference implementations.
  *
  * These are not SQL-expressible → no DuckDB oracle (driver records a
  * rows-only check); numerical correctness is pinned by
  * src/test/scala/graft/KernelSpec.scala golden tests, the committed
  * fixtures, and the independent numpy leg in tools/check_kernels.py.
  */
object QKernels {

  private val r6 = (v: Double) =>
    if (v.isNaN || v.isInfinite) v else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  // ------------------------------------------------- sufficient stats
  /** Index of (i, j), i ≤ j, in the packed upper triangle of a
    * `dims`×`dims` symmetric matrix. */
  private[queries] def triIdx(i: Int, j: Int, dims: Int): Int =
    i * dims - i * (i - 1) / 2 + (j - i)

  /** Packed upper triangle → full symmetric DenseMatrix. */
  private[queries] def unpack(m: Seq[Double], dims: Int): DenseMatrix[Double] = {
    val out = DenseMatrix.zeros[Double](dims, dims)
    var i = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        val v = m(triIdx(i, j, dims)); out(i, j) = v; out(j, i) = v
        j += 1
      }
      i += 1
    }
    out
  }

  /** Centered scatter block S[xs, ys] = M − s·s'/n from packed moments
    * (= Xc'Yc of the corresponding dimension ranges). */
  private[queries] def scatterBlock(n: Long, sv: Seq[Double], m: Seq[Double],
      dims: Int, xs: Range, ys: Range): DenseMatrix[Double] = {
    def mm(i: Int, j: Int) = m(triIdx(math.min(i, j), math.max(i, j), dims))
    val out = DenseMatrix.zeros[Double](xs.length, ys.length)
    var i = 0
    while (i < xs.length) {
      var j = 0
      while (j < ys.length) {
        out(i, j) = mm(xs(i), ys(j)) - sv(xs(i)) * sv(ys(j)) / n
        j += 1
      }
      i += 1
    }
    out
  }

  /** Per-label sufficient statistics of the first `dims` embedding
    * dimensions: (label, n, first-order sums s, packed upper-triangle
    * second-order sums m) — ONE hash aggregate with map-side combine,
    * through the exact order-invariant [[graft.functions.MomentsAgg]]
    * Aggregator (bit-reproducible under any partitioning, zero
    * truncation, and a single aggregate expression — a wide DECIMAL
    * column formulation planned 150+ aggregates and paid seconds of
    * per-build analysis/codegen/AQE re-planning). Everything any dense
    * kernel needs (covariance blocks, normal equations, per-subset
    * refits) derives from these O(dims²) numbers, so group SIZE never
    * materializes on a task; the fact-table analog (L8) uses exact
    * integer units instead. */
  private def vecCol(dims: Int) =
    array((0 until dims).map(i =>
      expr(s"CAST(element_at(embedding, ${i + 1}) AS DOUBLE)")): _*)

  private[queries] def labelMoments(s: SparkSession, d: String, dims: Int) = {
    import s.implicits._
    val magg = udaf(new graft.functions.MomentsAgg(dims),
      implicitly[org.apache.spark.sql.Encoder[Seq[Double]]])
    // scope-enrolled persist of the one-row-per-label moment table:
    // l11/l12 consume it through BOTH weight tables (pcaWeights +
    // ccaWeights build the identical plan, and Spark's cache is
    // plan-keyed, so the second aggregation becomes a cache hit)
    // NOT coalesced before persist (r17, measured): the cached-width
    // coalesce(1) discipline applies only when every reader is light —
    // this frame's l9 consumer runs ~200 OLS solves per label-row
    // (19 ρ × 10 MC refits), and serializing that fan-out onto one
    // partition cost more (l9 0.26 → 0.50 s at sf0.1) than the light
    // readers gained; a re-spreading repartition inside l9 paid its own
    // exchange back. The light readers' wins live in their OWN
    // downstream persisted frames (subs/alpha/pw/sweep), which are
    // coalesced.
    graft.operators.CacheScope.persist(
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(magg(vecCol(dims)).as("mm"))
        .select(col("label"), col("mm.n"), col("mm.s"), col("mm.m")))
      .as[(Int, Long, Seq[Double], Seq[Double])]
  }

  /** [[labelMoments]] at (label, CV-fold) granularity: the fold id is
    * the reference's contiguous slice over the vec_id order, assigned
    * per row as ⌊((rank+1)·F − 1)/n⌋ — so fold and train statistics
    * come from ONE aggregate (train = label total − fold, moments are
    * additive) and no task ever sees the rows. The rank window
    * shuffles once by label — the same single shuffle the
    * flatMapGroups shape paid. */
  private def labelFoldMoments(s: SparkSession, d: String, dims: Int, nFolds: Int) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val magg = udaf(new graft.functions.MomentsAgg(dims),
      implicitly[org.apache.spark.sql.Encoder[Seq[Double]]])
    Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), vecCol(dims).as("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("label").orderBy("vec_id")) - 1)
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("label")))
      // BIGINT intermediate: rn is IntegerType and non-ANSI Spark wraps
      // silently, so (rn+1)*F must widen BEFORE the multiply or fold ids
      // corrupt once a label group passes ~2^31/F rows — exactly the
      // corpus scale this layer is built for. The fold id itself is tiny.
      .withColumn("fold",
        expr(s"CAST(((CAST(rn AS BIGINT) + 1) * $nFolds - 1) div nn AS INT)"))
      .groupBy(col("label"), col("fold"))
      .agg(magg(col("v")).as("mm"))
      .select(col("label"), col("fold"), col("mm.n"), col("mm.s"), col("mm.m"))
      .as[(Int, Int, Long, Seq[Double], Seq[Double])]
  }

  /** Element-wise sums/differences of packed moment vectors. */
  private def vadd(a: Seq[Double], b: Seq[Double]): Seq[Double] =
    a.zip(b).map { case (x, y) => x + y }
  private def vsub(a: Seq[Double], b: Seq[Double]): Seq[Double] =
    a.zip(b).map { case (x, y) => x - y }

  /** Normal-equation blocks for regressing dimension `yDim` on the
    * dimension subset `keep` (with intercept), assembled from packed
    * moments: (X'X, X'y, y'y). */
  private def olsBlocks(n: Long, sv: Seq[Double], m: Seq[Double], dims: Int,
      yDim: Int, keep: Seq[Int]): (DenseMatrix[Double], DenseVector[Double], Double) = {
    def mm(i: Int, j: Int) = m(triIdx(math.min(i, j), math.max(i, j), dims))
    val p = keep.length
    val xtx = DenseMatrix.zeros[Double](p + 1, p + 1)
    xtx(0, 0) = n.toDouble
    var i = 0
    while (i < p) {
      xtx(0, i + 1) = sv(keep(i)); xtx(i + 1, 0) = sv(keep(i))
      var j = 0
      while (j < p) { xtx(i + 1, j + 1) = mm(keep(i), keep(j)); j += 1 }
      i += 1
    }
    val xty = DenseVector((sv(yDim) +: keep.map(k => mm(k, yDim))).toArray)
    (xtx, xty, mm(yDim, yDim))
  }

  /** Order-invariant guarded double sum for the Catalyst stages
    * (L11/L12): decimal accumulation makes the committed golden fixtures
    * bit-reproducible across runs/partitionings; the NaN guard keeps
    * poison visible. See functions.Deterministic.stableSumGuarded. */
  private def stableSumHi(c: org.apache.spark.sql.Column) =
    graft.functions.Deterministic.stableSumGuarded(c)

  /** Scalar twin of functions.Deterministic.hrand — same LCG, same
    * reduction — for seeded choices inside the per-group kernels. */
  private def hrandLong(key: Long, seed: Long): Long = {
    val k = ((key % 2147483648L) + 2147483648L) % 2147483648L
    (((k * 1103515245L + seed * 12345L + 104729L) % 2147483648L) + 2147483648L) % 2147483648L
  }

  // ------------------------------------------------------------------ L6
  /** PCA per label over the first 16 embedding dims: eigenvalues,
    * explained/cumulative variance + 5-fold CV reconstruction error.
    *
    * SUFFICIENT-STATISTICS plan: moments are aggregated per
    * (label, fold); the full-data PCA uses their sum and each fold's
    * TRAIN covariance is total − fold (moments are additive). The CV
    * reconstruction error needs no test rows either:
    * ‖Xte_c(I−WW')‖² = tr(C) − Σ_k wₖ'Cwₖ with
    * C = M_f − s_f·μ' − μ·s_f' + n_f·μμ' (μ = train mean) — so the
    * whole query reduces 25 tiny moment rows.
    * Ref: Matlab_part/perform_region_pca.m:93-156,201-221. */
  val l6 = Q("l6_pca_cv", Some(Q.fixtureOracle("l6_pca_cv", "label, component")))((s, d) => {
    import s.implicits._
    val dims = 16; val k = 5; val nFolds = 5
    labelFoldMoments(s, d, dims, nFolds)
      .groupByKey(_._1)
      .flatMapGroups { (label: Int, it: Iterator[(Int, Int, Long, Seq[Double], Seq[Double])]) =>
        val folds = it.toArray
        val nTot = folds.map(_._3).sum
        val sTot = folds.map(_._4).reduce(vadd)
        val mTot = folds.map(_._5).reduce(vadd)
        val r = LinAlg.pcaFromMoments(nTot, DenseVector(sTot.toArray), unpack(mTot, dims), k)
        val errs = (0 until nFolds).map { f =>
          folds.find(_._2 == f) match {
            case Some((_, _, nf, sf, mf)) if nf > 0 && nTot - nf > 1 =>
              val nTr = nTot - nf
              val sTr = vsub(sTot, sf)
              val w = LinAlg.pcaFromMoments(nTr, DenseVector(sTr.toArray),
                unpack(vsub(mTot, mf), dims), k).coefficients
              val mu = DenseVector(sTr.map(_ / nTr).toArray)
              val mF = unpack(mf, dims)
              val sF = DenseVector(sf.toArray)
              // C = M_f − s_f μ' − μ s_f' + n_f μμ'
              val c = mF - (sF * mu.t) - (mu * sF.t) + ((mu * mu.t) *:* nf.toDouble)
              var tr = 0.0
              var i = 0
              while (i < dims) { tr += c(i, i); i += 1 }
              var proj = 0.0
              var kk = 0
              while (kk < w.cols) {
                val wc = w(::, kk); proj += wc.t * (c * wc); kk += 1
              }
              (tr - proj) / (nf.toDouble * dims)
            case _ => 0.0
          }
        }
        val cvMean = errs.sum / nFolds
        (0 until k).iterator.map { c =>
          (label, c + 1, r6(r.eigenvalues(c)), r6(r.explained(c)), r6(r.cumulative(c)), r6(cvMean))
        }
      }.toDF("label", "component", "eigenvalue", "explained", "cumulative", "cv_recon_err")
      .repartition(1).sortWithinPartitions("label", "component")
  })

  /** L6 companion: the PCA loading vectors as a long weights table
    * (label, component, dim, weight) — consumed relationally by L11.
    * Derived from the label moments; no group materialization. */
  private def pcaWeights(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    labelMoments(s, d, 16).flatMap { case (label, n, sv, m) =>
      val r = LinAlg.pcaFromMoments(n, DenseVector(sv.toArray), unpack(m, 16), 5)
      for {
        c <- (0 until 5).iterator
        i <- (0 until 16).iterator
      } yield (label, c + 1, i, r.coefficients(i, c), r.eigenvalues(c))
    }.toDF("label", "component", "dim", "weight", "eigenvalue")
  }

  // ------------------------------------------------------------------ L7
  /** CCA per label between dims [0,8) and [8,16) of the embedding:
    * canonical correlations + 5-fold CV correlation, ridge-escalation
    * fallback.
    *
    * SUFFICIENT-STATISTICS plan: the full CCA runs on centered scatter
    * blocks of the label totals (LinAlg.ccaFromMoments — Cholesky in
    * place of the data QR, identical ridge/tolerance contract); each
    * fold's train CCA uses total − fold blocks, and the held-out
    * correlation corr(Xte·a, Yte·b) is shift-invariant, so it reduces
    * the fold's RAW moments: Σu = a's_x, Σu² = a'Mxx a, Σuv = a'Mxy b.
    * Ref: Matlab_part/perform_session_cca.m:270-400. */
  val l7 = ccaCvQuery("l7_cca_cv", dims = 16, k = 3, nFolds = 5)

  /** L7 at the REFERENCE's parameter scale — 10 canonical components /
    * 10 CV folds (Matlab_part/oxford_single_session_pipeline_mdl.m:61-63;
    * the engine's default l7 pins k=3/5 folds for fixture economy) over
    * the first 20 embedding dims. Identical plan shape: the moment row
    * per (label, fold) grows to 20·21/2 + 20 numbers and the per-group
    * solve to 10×10 Cholesky blocks — still O(dims²) independent of
    * group size, which is the point being proven. */
  val l7ref = ccaCvQuery("l7_cca_cv_ref10", dims = 20, k = 10, nFolds = 10)

  private def ccaCvQuery(name: String, dims: Int, k: Int, nFolds: Int): Q =
    Q(name, Some(Q.fixtureOracle(name, "label, component")))((s, d) => {
    import s.implicits._
    val xs = 0 until dims / 2; val ys = dims / 2 until dims
    labelFoldMoments(s, d, dims, nFolds)
      .groupByKey(_._1)
      .flatMapGroups { (label: Int, it: Iterator[(Int, Int, Long, Seq[Double], Seq[Double])]) =>
        val folds = it.toArray
        val nTot = folds.map(_._3).sum
        val sTot = folds.map(_._4).reduce(vadd)
        val mTot = folds.map(_._5).reduce(vadd)
        def blocks(n: Long, sv: Seq[Double], m: Seq[Double]) =
          (scatterBlock(n, sv, m, dims, xs, xs),
            scatterBlock(n, sv, m, dims, xs, ys),
            scatterBlock(n, sv, m, dims, ys, ys))
        val (sxx, sxy, syy) = blocks(nTot, sTot, mTot)
        val cc = LinAlg.ccaFromMoments(nTot, sxx, sxy, syy, k)
        // CV: res(fold)(component), zero-padded like the reference
        val res = Array.fill(nFolds)(new Array[Double](k))
        var f = 0
        while (f < nFolds) {
          folds.find(_._2 == f) match {
            case Some((_, _, nf, sf, mf)) if nf > 2 && nTot - nf > math.max(xs.length, ys.length) + 1 =>
              val nTr = nTot - nf
              val (txx, txy, tyy) = blocks(nTr, vsub(sTot, sf), vsub(mTot, mf))
              val ct = LinAlg.ccaFromMoments(nTr, txx, txy, tyy, k)
              def mm(i: Int, j: Int) = mf(triIdx(math.min(i, j), math.max(i, j), dims))
              var c = 0
              while (c < math.min(k, ct.r.length)) {
                val a = ct.a(::, c); val b = ct.b(::, c)
                var su = 0.0; var sv2 = 0.0; var suu = 0.0; var svv = 0.0; var suv = 0.0
                var i = 0
                while (i < xs.length) {
                  su += a(i) * sf(xs(i))
                  var j = 0
                  while (j < xs.length) { suu += a(i) * a(j) * mm(xs(i), xs(j)); j += 1 }
                  j = 0
                  while (j < ys.length) { suv += a(i) * b(j) * mm(xs(i), ys(j)); j += 1 }
                  i += 1
                }
                i = 0
                while (i < ys.length) {
                  sv2 += b(i) * sf(ys(i))
                  var j = 0
                  while (j < ys.length) { svv += b(i) * b(j) * mm(ys(i), ys(j)); j += 1 }
                  i += 1
                }
                val saa = suu - su * su / nf
                val sbb = svv - sv2 * sv2 / nf
                val sab = suv - su * sv2 / nf
                res(f)(c) = if (saa <= 0 || sbb <= 0) 0.0 else sab / math.sqrt(saa * sbb)
                c += 1
              }
            case _ => // leave zeros
          }
          f += 1
        }
        (0 until k).iterator.map { c =>
          val fv = res.map(_(c))
          val mean = fv.sum / fv.length
          val sd = math.sqrt(fv.map(v => (v - mean) * (v - mean)).sum / (fv.length - 1))
          (label, c + 1, r6(cc.r(c)), r6(mean), r6(sd), cc.ridgeUsed)
        }
      }.toDF("label", "component", "r", "cv_r_mean", "cv_r_std", "ridge_lambda")
      .repartition(1).sortWithinPartitions("label", "component")
  })

  // ------------------------------------------- end-to-end composition
  /** The Oxford ENTRY-POINT composition in one plan — the §2 rows are
    * all individually green, this proves they compose the way the
    * reference's driver runs them (run_cross_trial_type_cca_analysis.py:543-587:
    * segment → gate trials/units → per-session CCA → cross-session
    * roll-up → region matrix):
    *
    *  1. J1  — RangeJoin.segment: every purchase is a trial trigger;
    *     non-purchase events with a value are the observation series,
    *     windowed 12 h pre / 8 h post per user (the testdata's events
    *     span ~30 days at ~2 events/user/day, so day-scale windows are
    *     this corpus's analog of the reference's ±1 s at 50 Hz).
    *  2. C6-style binning — rel_off → five 4 h bins (−3..1), per-trial
    *     bin means via order-invariant decimal sums (run-stable input
    *     to the kernel, the fixture-pin discipline).
    *  3. F6 — min-count HAVING gate: trials with ≥ 2 observations.
    *  4. F4 — stable-unit semi join: users with ≥ 3 qualifying trials.
    *  5. J9 — broadcast taxonomy attach: user → customer → nation →
    *     region (the "session group" of the CCA).
    *  6. L7 — CCA per region between the 3 pre-bins (X) and 2
    *     post-bins (Y), sufficient-statistics path: one MomentsAgg row
    *     per region, scatter blocks, LinAlg.ccaFromMoments — no task
    *     ever materializes a region's trials.
    *  7. A4 — across-region rollup appended as the 'ALL (mean)' row
    *     (exact decimal mean of the already-6dp-rounded per-region rs).
    *  8. P1-style component pivot: output is the region × component
    *     matrix (region, n_trials, r_1, r_2).
    *
    * Not SQL-expressible (CCA) → fixture-gated like l6/l7, with the
    * independent numpy leg in tools/check_kernels.py re-running the
    * whole chain (segmentation re-derived in SQL, CCA in numpy).
    *
    * Cost shape (a per-job split, r15, sf0.1 warm): the data stage —
    * segment join + trial aggregate — is 0.6–0.9 s across 4 jobs;
    * everything downstream of the qualifying-trial frame is 17 more
    * jobs of 5-row work (stable-unit gate, region attach, moment
    * aggregate, solve, rollup, sort) — the p5h-class scheduling floor.
    * Recorded 1.53 s sf0.1 / 2.86 s sf1 (1.87×, sub-linear: only the
    * segment join and two hash aggregates grow with events). */
  val e2e = Q("pipeline_region_cca",
    Some(Q.fixtureOracle("pipeline_region_cca", "region")))((s, d) => {
    import s.implicits._
    import graft.functions.Deterministic
    val binW = 14400L; val pre = 43200L; val post = 28799L
    val dims = 5; val xs = 0 until 3; val ys = 3 until 5
    val e = Tables.events(s, d).withColumn(
      "t", (unix_micros(col("ts")) / lit(1000000L)).cast("long"))
    val trg = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("trig_id"), col("user_id"), col("t").as("trig_t"))
    val ser = e.filter(col("event_type") =!= "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("t").as("obs_t"), col("value"))
    val seg = graft.operators.RangeJoin
      .segment(trg, ser, Seq("user_id"), "trig_t", "obs_t", pre, post)
      .withColumn("rel_bin", floor(col("rel_off") / lit(binW.toDouble)).cast("long"))
    // per-trial bin-mean vector + observation count, one hash aggregate;
    // bin index i ∈ [0, 5) ↔ rel_bin i − 3
    def binMean(i: Int) = {
      val v = when(col("rel_bin") === (i - 3), col("value"))
      coalesce(Deterministic.stableSumGuarded(v) / count(v), lit(0.0)).as(s"bb$i")
    }
    val trials = seg.groupBy("trig_id", "user_id")
      .agg(count(lit(1)).as("n_obs"), (0 until dims).map(binMean): _*)
      .filter(col("n_obs") >= 2) // F6
    // persisted: the qualifying-trial frame feeds both the stable-unit
    // build side and the probe side (no CSE across join branches)
    val trialsP = graft.operators.CacheScope.persist(trials)
    val stable = trialsP.groupBy("user_id")
      .agg(count(lit(1)).as("nt")).filter(col("nt") >= 3).select("user_id")
    val kept = trialsP.join(stable, Seq("user_id"), "left_semi") // F4
    // J9 taxonomy attach: nation/region are true broadcast taxonomies;
    // customer is a SCALING dimension (1.5B rows at 100 TB), so the
    // trials ⋈ customer attach stays an AQE-decided equi-join — at
    // bench scales AQE broadcasts it, at corpus scale it exchanges
    val reg = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey").as("user_id"), col("r_name").as("region"))
    val magg = udaf(new graft.functions.MomentsAgg(dims),
      implicitly[org.apache.spark.sql.Encoder[Seq[Double]]])
    // persisted: the 5-row region matrix feeds the output union AND the
    // rollup aggregate — without it the whole upstream chain runs twice.
    // coalesce(1): |regions| rows by construction (fixed taxonomy) —
    // without it the cached plan materializes at session shuffle width
    // and both consumers scan 32 near-empty partitions (r17 profile)
    val perRegion = graft.operators.CacheScope.persist(
      kept.join(reg, "user_id") // J9
        .groupBy("region")
        .agg(magg(array((0 until dims).map(i => col(s"bb$i")): _*)).as("mm"))
        .select(col("region"), col("mm.n"), col("mm.s"), col("mm.m"))
        .as[(String, Long, Seq[Double], Seq[Double])]
        .map { case (region, n, sv, m) => // L7 kernel on the moment row
          val cc = LinAlg.ccaFromMoments(n,
            scatterBlock(n, sv, m, dims, xs, xs),
            scatterBlock(n, sv, m, dims, xs, ys),
            scatterBlock(n, sv, m, dims, ys, ys), 2)
          def rAt(c: Int) = if (c < cc.r.length) cc.r(c) else 0.0
          (region, n, r6(rAt(0)), r6(rAt(1)))
        }.toDF("region", "n_trials", "r_1", "r_2").coalesce(1))
    val rollup = perRegion.agg( // A4: across-region second level
        sum(col("n_trials")).as("n_trials"),
        (round(Deterministic.stableSumGuarded(col("r_1"))
          / count(lit(1)), 6)).as("r_1"),
        (round(Deterministic.stableSumGuarded(col("r_2"))
          / count(lit(1)), 6)).as("r_2"))
      .select(lit("ALL (mean)").as("region"), col("n_trials"),
        col("r_1"), col("r_2"))
    perRegion.unionByName(rollup)
      .repartition(1).sortWithinPartitions("region")
  })

  // ---------------------------------------------- pipeline (entry point C)
  /** End-to-end GLM-sensitivity lifecycle — the reference's OTHER
    * entry-point composition, run as ONE Spark DAG where the reference
    * crosses two `.mat` process boundaries: GLM coefficient extraction
    * (`Matlab_part/oxford_GLM_CCA_coefficients_extract.m:402-485`),
    * the top-|β| removal sweep (`Oxford_glm_sensitivity.m:256-314` —
    * rank by |β| desc, drop round(N·ρ/100), refit, n_keep ≥ 2 guard),
    * and the summary's encoding-concentration metric
    * C = R²(ρ=0) − R²(first ρ ≥ 50) pooled across sessions by mean
    * (`Oxford_GLM_summary.m:7-20,217-250,336-511`).
    *
    * §2 rows exercised in one plan: F6 (min-n gate on the moment rows),
    * L8 (sufficient-statistics OLS), W1 (rank by |β| desc), W3
    * (percent-removal slice), L9 (refit sweep ρ = 0:5:90), W5
    * (first-match: smallest ρ whose refit R² falls to ≤ half baseline),
    * P4 (concentration pivot), A4 (pooled "ALL (mean)" rollup).
    *
    * SCALE SHAPE: identical to l9 — the entire per-label lifecycle
    * (base fit + 19 refits) runs on ONE hash-aggregated moment row per
    * label (O(dims²) state, map-side combined; group size never
    * materializes on a task), so the sweep is data-parallel fan-out,
    * not a driver loop. The sweep long table is scope-persisted: it
    * feeds the P4 pivot legs AND the W5 threshold join, and both run
    * over 10×19 rows — scheduling floor, not data cost. The moment
    * aggregate itself is plan-identical to l9's, so Spark's plan-keyed
    * cache shares ONE aggregation across both queries in a session. */
  val e2eGlm = Q("pipeline_glm_sensitivity",
    Some(Q.fixtureOracle("pipeline_glm_sensitivity", "label")))((s, d) => {
    import s.implicits._
    val minN = 45L // F6: a 13-dim OLS needs headroom over p = 13
    val rhos = (0 to 90 by 5).toArray
    val sweep = labelMoments(s, d, 13)
      .filter(_._2 >= minN) // F6 gate, before any solve
      .flatMap { case (label, n, sv, m) =>
        def fit(keepDims: Seq[Int]) = {
          val (xtx, xty, yty) = olsBlocks(n, sv, m, 13, 0, keepDims)
          LinAlg.olsFromMoments(xtx, xty, yty, n)
        }
        val base = fit(1 to 12) // L8
        val order = (0 until 12).sortBy(j => -math.abs(base.beta(j + 1))) // W1
        rhos.iterator.map { rho =>
          val nDrop = math.round(12 * rho / 100.0).toInt
          val keep = order.drop(nDrop).sorted // W3
          if (keep.length < 2) (label.toString, n, rho, Double.NaN)
          else (label.toString, n, rho,
            r6(math.max(fit(keep.map(_ + 1)).r2, 0.0))) // L9 refit
        }
      }.toDF("label", "n_vecs", "rho_pct", "r2")
    // persisted: the 10×19-row sweep feeds the pivot AND the W5 join.
    // coalesce(1): |labels|·|rhos| rows by construction (model
    // taxonomy × fixed rho grid) — the cached-width discipline of
    // p5_upper_triangle_hier's cells frame (r17)
    val sweepP = graft.operators.CacheScope.persist(sweep.coalesce(1))
    val base = sweepP.groupBy("label", "n_vecs").agg( // P4 pivot legs
      max(when(col("rho_pct") === 0, col("r2"))).as("r2_full"),
      max(when(col("rho_pct") === 50, col("r2"))).as("r2_half"))
    val halfRho = sweepP.join(base.select(col("label"), col("r2_full").as("rf")), "label")
      .filter(col("r2") <= col("rf") * 0.5) // W5 first-match
      .groupBy("label").agg(min("rho_pct").cast("double").as("rho_half"))
    val perLabel = base.join(halfRho, Seq("label"), "left")
      .select(col("label"), col("n_vecs"), col("r2_full"), col("r2_half"),
        round(col("r2_full") - col("r2_half"), 6).as("concentration"), // P4
        col("rho_half"))
    val perLabelP = graft.operators.CacheScope.persist(perLabel.coalesce(1))
    val rollup = perLabelP.agg( // A4: pooled second level (summary.m:245-250)
        sum(col("n_vecs")).as("n_vecs"),
        round(stableSumHi(col("r2_full")) / count(lit(1)), 6).as("r2_full"),
        round(stableSumHi(col("r2_half")) / count(lit(1)), 6).as("r2_half"),
        round(stableSumHi(col("concentration")) / count(lit(1)), 6).as("concentration"),
        round(stableSumHi(col("rho_half")) / count(col("rho_half")), 6).as("rho_half"))
      .select(lit("ALL (mean)").as("label"), col("n_vecs"), col("r2_full"),
        col("r2_half"), col("concentration"), col("rho_half"))
    perLabelP.unionByName(rollup)
      .repartition(1).sortWithinPartitions("label")
  })

  /** L7 companion: CCA A-side weights long table for L11 — from the
    * label moments, no group materialization. */
  private def ccaWeights(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dims = 16; val xs = 0 until 8; val ys = 8 until 16
    labelMoments(s, d, dims).flatMap { case (label, n, sv, m) =>
      val cc = LinAlg.ccaFromMoments(n,
        scatterBlock(n, sv, m, dims, xs, xs),
        scatterBlock(n, sv, m, dims, xs, ys),
        scatterBlock(n, sv, m, dims, ys, ys), 3)
      for {
        c <- (0 until cc.r.length).iterator
        i <- (0 until 8).iterator
      } yield (label, c + 1, i, cc.a(i, c), cc.r(c))
    }.toDF("label", "component", "dim", "a_weight", "r")
  }

  // ------------------------------------------------------------------ L8
  /** Per-group OLS/GLM with the glmfit stats block: lineitem grouped by
    * l_returnflag, y = extendedprice, X = (quantity, discount, tax).
    * Emits one row per coefficient with β/SE/t/p/CI + group-level
    * R²/adj-R²/AIC/BIC/deviance/dof.
    *
    * SUFFICIENT-STATISTICS plan (the 100 TB shape): these groups' SIZE
    * scales with the data (3 return flags over all of lineitem), so the
    * `flatMapGroups` + in-task matrix build the other kernels use would
    * put the whole table on 3 tasks. OLS needs only X'X/X'y/y'y/n —
    * 15 moments accumulated by an ordinary hash aggregate (map-side
    * partial, order-invariant decimal sums), after which the 4×4 solve
    * runs on one row per GROUP. Nothing anywhere holds more than O(p²)
    * doubles per group.
    * Ref: Matlab_part/oxford_GLM_CCA_coefficients_extract.m:402-485. */
  /* Moment accumulation is EXACT INTEGER arithmetic: the regressors are
   * fixed-point by schema (quantity integer; discount/tax/price 2-dp
   * decimals), so scaling to cents makes every product an exact long
   * and the sums bit-reproducible under ANY partitioning/merge order —
   * at plain codegen'd long-sum speed (the DECIMAL(38,18) alternative
   * measured ~17× slower, the r4 regression). Only Σ(y²) can outgrow a
   * long (price² ≈ 2^47/row), so its terms are split at 2^31 into two
   * long sums and recombined at finalization. Bound: exact while
   * n_group · max_term < 2^63 (margin ~10^4 at sf0.1); past that the
   * same query swaps the long sums for DECIMAL(38,0) integer sums —
   * identical values, one scan, just slower. */
  private val centsShift = 2147483648L // 2^31

  val l8 = Q("l8_glm_stats",
    Some(Q.fixtureOracle("l8_glm_stats", "\"group\", term")))((s, d) => {
    import s.implicits._
    val terms = Array("intercept", "l_quantity", "l_discount", "l_tax")
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag").as("g"),
      expr("CAST(round(l_quantity) AS BIGINT)").as("q"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("dc"),
      expr("CAST(round(l_tax * 100) AS BIGINT)").as("tc"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("yc"))
    val m = li.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum("q").as("sq"), sum("dc").as("sd"), sum("tc").as("st"), sum("yc").as("sy"),
      sum(col("q") * col("q")).as("sqq"), sum(col("q") * col("dc")).as("sqd"),
      sum(col("q") * col("tc")).as("sqt"),
      sum(col("dc") * col("dc")).as("sdd"), sum(col("dc") * col("tc")).as("sdt"),
      sum(col("tc") * col("tc")).as("stt"),
      sum(col("q") * col("yc")).as("sqy"), sum(col("dc") * col("yc")).as("sdy"),
      sum(col("tc") * col("yc")).as("sty"),
      sum(expr(s"(yc * yc) div $centsShift")).as("syy_hi"),
      sum(expr(s"(yc * yc) % $centsShift")).as("syy_lo"))
    m.as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long, Long, Long, Long, Long)]
      .flatMap { case (g, n, sq, sd, st, sy, sqq, sqd, sqt, sdd, sdt, stt,
          sqy, sdy, sty, syyHi, syyLo) =>
        // back to original units — each conversion is one deterministic
        // double rounding of an exact integer
        val xtx = DenseMatrix(
          (n.toDouble, sq.toDouble, sd / 1e2, st / 1e2),
          (sq.toDouble, sqq.toDouble, sqd / 1e2, sqt / 1e2),
          (sd / 1e2, sqd / 1e2, sdd / 1e4, sdt / 1e4),
          (st / 1e2, sqt / 1e2, sdt / 1e4, stt / 1e4))
        val xty = DenseVector(sy / 1e2, sqy / 1e2, sdy / 1e4, sty / 1e4)
        val syy = (syyHi.toDouble * centsShift + syyLo.toDouble) / 1e4
        val o = LinAlg.olsFromMoments(xtx, xty, syy, n)
        (0 until 4).iterator.map { j =>
          (g, terms(j), r6(o.beta(j)), r6(o.se(j)), r6(o.t(j)), r6(o.p(j)),
            r6(o.ciLo(j)), r6(o.ciHi(j)), r6(o.r2), r6(o.adjR2),
            r6(o.aic), r6(o.bic), o.dof.toLong)
        }
      }
      .toDF("group", "term", "beta", "se", "t_stat", "p_value", "ci_lo", "ci_hi",
        "r2", "adj_r2", "aic", "bic", "dof")
      .repartition(1).sortWithinPartitions("group", "term")
  })

  // ------------------------------------------------------------------ L9
  /** GLM sensitivity sweep: per label, regress dim0 on dims 1–12; for
    * each removal fraction ρ drop the top-ρ% predictors by |β| and refit,
    * recording the R² drop (n_keep ≥ 2 guard like the reference), plus
    * the Monte-Carlo random-removal curve (10 seeded iterations of
    * keeping a random n_keep subset — the reference's commented-out
    * `var_explained_random`, driven here by the deterministic hrand LCG
    * so the fixture is reproducible).
    * Ref: Matlab_part/Oxford_glm_sensitivity.m:256-342 (MC: 305-312). */
  private val mcIters = 10
  private val mcSeed = 777L

  val l9 = Q("l9_sensitivity_sweep",
    Some(Q.fixtureOracle("l9_sensitivity_sweep", "label, rho_pct")))((s, d) => {
    import s.implicits._
    // The reference's full grid ρ = 0:5:90 (19 points,
    // Matlab_part/Oxford_glm_sensitivity.m:54-55) — on the
    // sufficient-statistics plan the grid size is driver-free fan-out:
    // every point is one more tiny solve off the same moment row.
    val rhos = (0 to 90 by 5).toArray
    // SUFFICIENT-STATISTICS plan: the base fit, every ρ-removal refit
    // AND all 10 seeded Monte-Carlo refits per ρ are normal-equation
    // solves over sub-blocks of ONE 13×13 moment matrix per label —
    // ~200 OLS fits from a single aggregated row, no group materialized.
    labelMoments(s, d, 13).flatMap { case (label, n, sv, m) =>
      def fit(keepDims: Seq[Int]) = {
        val (xtx, xty, yty) = olsBlocks(n, sv, m, 13, 0, keepDims)
        LinAlg.olsFromMoments(xtx, xty, yty, n)
      }
      val base = fit(1 to 12)
      // rank predictors by |β| (excluding intercept), descending
      val order = (0 until 12).sortBy(j => -math.abs(base.beta(j + 1)))
      rhos.iterator.map { rho =>
        val nDrop = math.round(12 * rho / 100.0).toInt
        val keep = order.drop(nDrop).sorted
        if (keep.length < 2) (label, rho, keep.length, Double.NaN, Double.NaN, Double.NaN)
        else {
          val o = fit(keep.map(_ + 1))
          // Monte-Carlo: keep a seeded-random subset of the same size
          val mc = (0 until mcIters).map { t =>
            val keepR = (0 until 12)
              .sortBy(j => (hrandLong(label.toLong * 1000000L + rho * 10000L + t * 100L + j, mcSeed), j))
              .take(keep.length).sorted
            math.max(fit(keepR.map(_ + 1)).r2, 0.0)
          }
          val mcMean = mc.sum / mc.length
          val mcSd = math.sqrt(mc.map(v => (v - mcMean) * (v - mcMean)).sum / (mc.length - 1))
          (label, rho, keep.length, r6(math.max(o.r2, 0.0)), r6(mcMean), r6(mcSd))
        }
      }
    }.toDF("label", "rho_pct", "n_kept", "r2", "r2_mc_mean", "r2_mc_std")
      .repartition(1).sortWithinPartitions("label", "rho_pct")
  })

  // ----------------------------------------------------------------- L10
  /** Principal angles between the top-3 PCA subspaces of every label
    * pair (i < j): min/max/mean angle in degrees. The per-label
    * subspaces (16×3, tiny) are computed distributed, then paired via a
    * broadcast θ-self-join and the angle kernel runs per joined row —
    * nothing is collected to the driver, so the pattern survives a
    * growing group key.
    * Ref: History/.../Pca_cca_comparison_framework.py:81-158. */
  val l10 = Q("l10_principal_angles",
    Some(Q.fixtureOracle("l10_principal_angles", "label_a, label_b")))((s, d) => {
    import s.implicits._
    // scope-enrolled persist: the tiny subspace table feeds BOTH sides
    // of the θ-self-join — without it the moment aggregation runs twice
    val subs = graft.operators.CacheScope.persist(
      labelMoments(s, d, 16).map { case (label, n, sv, m) =>
        val w = LinAlg.pcaFromMoments(n, DenseVector(sv.toArray), unpack(m, 16), 3).coefficients
        (label, w.data.toSeq) // column-major 16×3
      }.toDF("label", "w").coalesce(1)) // label-bounded (cached-width discipline, r17)
    val pairs = subs.select(col("label").as("label_a"), col("w").as("wa"))
      .join(broadcast(subs.select(col("label").as("label_b"), col("w").as("wb"))),
        col("label_a") < col("label_b"))
      .as[(Int, Seq[Double], Int, Seq[Double])]
      .map { case (la, wa, lb, wb) =>
        val ma = new DenseMatrix(16, 3, wa.toArray)
        val mb = new DenseMatrix(16, 3, wb.toArray)
        val th = LinAlg.principalAngles(ma, mb).map(v => math.toDegrees(v))
        (la, lb, r6(th.min), r6(th.max), r6(th.sum / th.length))
      }
    pairs.toDF("label_a", "label_b", "theta_min", "theta_max", "theta_mean")
      .repartition(1).sortWithinPartitions("label_a", "label_b")
  })

  // ------------------------------------------------------------ L11/L12
  /** CCA↔PCA participation (relational matmul over the two weight
    * tables) + entropy-based effective dimensionality per CCA component:
    * α_ci = (a_cᵀ w_i)² row-normalized; eff_dim = exp(−Σ α ln α).
    * The weight tables come from the L6/L7 kernels; this stage is pure
    * Catalyst — joins + aggregation, duckdb-shaped.
    * Ref: History/.../Pca_cca_comparison_framework.py:160-265. */
  val l11 = Q("l11_participation",
    Some(Q.fixtureOracle("l11_participation", "label, cca_comp")))((s, d) => {
    val pw = pcaWeights(s, d).select(
      col("label"), col("component").as("pca_comp"), col("dim"), col("weight"))
      // PCA was fit on dims 0–15; the CCA A-side lives on dims 0–7 —
      // restrict the inner product to the shared support.
      .filter(col("dim") < 8)
    val cw = ccaWeights(s, d).select(
      col("label"), col("component").as("cca_comp"), col("dim"), col("a_weight"))
    // alpha feeds both the normalizer and the final join — persist the
    // tiny table so the weight kernels don't recompute per branch
    val alpha = graft.operators.CacheScope.persist(cw.join(pw, Seq("label", "dim"))
      .groupBy("label", "cca_comp", "pca_comp")
      .agg(pow(stableSumHi(col("a_weight") * col("weight")), 2).as("alpha_raw"))
      .coalesce(1)) // labels × comps² rows (cached-width discipline, r17)
    val norm = alpha.groupBy("label", "cca_comp")
      .agg(stableSumHi(col("alpha_raw")).as("alpha_total"))
    alpha.join(norm, Seq("label", "cca_comp"))
      .withColumn("alpha", col("alpha_raw") / col("alpha_total"))
      .groupBy("label", "cca_comp")
      .agg(round(exp(-stableSumHi(
        when(col("alpha") > 0, col("alpha") * log(col("alpha"))).otherwise(lit(0D)))), 6)
        .as("eff_dim"))
      .repartition(1).sortWithinPartitions("label", "cca_comp")
  })

  // ----------------------------------------------------------------- L12
  /** Shared/private variance decomposition per label: total variance is
    * the PCA eigenvalue mass Σλ; the shared part is what the CCA
    * components capture of it, `shared = Σ_k r_k² · Σ_i (a_kᵀw_i)²·λ_i`
    * (raw participation of CCA weight k in PCA direction i, weighted by
    * that direction's variance); `private = total − shared`. Pure
    * Catalyst over the L6/L7 weight tables — joins + order-invariant
    * decimal sums, no new kernel.
    * Ref: History/.../Pca_cca_comparison_framework.py:359-467
    * (compute_variance_decomposition). */
  val l12 = Q("l12_variance_decomposition",
    Some(Q.fixtureOracle("l12_variance_decomposition", "label")))((s, d) => {
    // pw feeds both the participation join and the total-variance roll-up
    val pw = graft.operators.CacheScope.persist(
      pcaWeights(s, d).select(col("label"), col("component").as("pca_comp"),
        col("dim"), col("weight"), col("eigenvalue"))
        .coalesce(1)) // labels × comps × dims rows (cached-width discipline, r17)
    val cw = ccaWeights(s, d).select(col("label"), col("component").as("cca_comp"),
      col("dim"), col("a_weight"), col("r"))
    // participation on the shared support (CCA A-side lives on dims 0–7)
    val part = cw.join(pw.filter(col("dim") < 8), Seq("label", "dim"))
      .groupBy("label", "cca_comp", "pca_comp")
      .agg(pow(stableSumHi(col("a_weight") * col("weight")), 2).as("part_raw"),
        max("eigenvalue").as("lambda"), max("r").as("r"))
    val contrib = part.groupBy("label", "cca_comp")
      .agg(stableSumHi(col("part_raw") * col("lambda")).as("var_contrib"),
        max("r").as("r"))
    val shared = contrib.groupBy("label")
      .agg(stableSumHi(col("r") * col("r") * col("var_contrib")).as("shared_var"))
    val total = pw.groupBy("label", "pca_comp").agg(max("eigenvalue").as("lambda"))
      .groupBy("label").agg(stableSumHi(col("lambda")).as("total_var"))
    total.join(shared, "label")
      .select(col("label"),
        round(col("total_var"), 6).as("total_var"),
        round(col("shared_var"), 6).as("shared_var"),
        round(col("total_var") - col("shared_var"), 6).as("private_var"),
        round(col("shared_var") / col("total_var"), 6).as("shared_frac"))
      .repartition(1).sortWithinPartitions("label")
  })

  val all: Seq[Q] = Seq(l6, l7, l7ref, l8, l9, l10, l11, l12, e2e, e2eGlm)
}
