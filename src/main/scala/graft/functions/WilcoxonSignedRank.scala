package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

final case class WilcoxonStats(n_eff: Long, w_plus: Double, z: Double, p_exact: Double)

/** Wilcoxon signed-rank statistic (paired, two-sided, average-rank
  * ties, zero diffs dropped) as a reusable typed `Aggregator` — the
  * custom-aggregate declared in SURVEY §4's custom-code inventory.
  * Ref: /root/reference/Cross_trial_session_level/cross_trial_type_cca_analysis.py:1317-1338.
  *
  * Two p-value legs, mirroring the reference's scipy default
  * (`wilcoxon(..., mode='auto')`,
  * ref: Cross_trial_type_within_session/cross_trial_type_cca_analysis_within_session.py:677-680):
  * `z` is the normal approximation (valid at any n), and `p_exact` is
  * the EXACT two-sided p from the null distribution of W⁺ — defined,
  * as in scipy, only when n ≤ 25 and the |diff|s carry no ties (ranks
  * are then the integers 1..n). Outside that regime `p_exact` is NaN
  * and the caller falls back to the z leg. The exact leg is the
  * subset-sum DP: c(w) = #{S ⊆ {1..n} : Σ S = w} via one pass per
  * rank, p = min(1, 2·min(P(W⁺ ≤ w), P(W⁺ ≥ w))). All counts are
  * exact Longs (≤ 2²⁵) and the divisor 2ⁿ is a power of two, so the
  * p-value is one exact dyadic rational — bit-identical across
  * engines and accumulation orders.
  *
  * Scale shape: the group's nonzero diffs are buffered and ranked at
  * `finish` — the same O(group) memory the reference's in-memory test
  * uses — but the work happens inside an ordinary hash aggregate, so
  * unlike the window-rank formulation (`t2_wilcoxon_signed_rank`, which
  * sorts the whole relation through one rank window) every group is
  * ranked independently and groups parallelize across executors. The
  * DP is O(n·n²) ≤ 25·325 integer adds per group — noise next to the
  * shuffle.
  *
  * All intermediates are dyadic rationals (integer ranks averaged over
  * ties), so the statistic is bit-identical to the SQL formulation
  * regardless of accumulation order.
  */
object WilcoxonSignedRank extends Aggregator[Double, List[Double], WilcoxonStats] {
  /** scipy's exact-mode threshold: above this n the normal
    * approximation is used unconditionally. */
  val exactMaxN = 25

  override def zero: List[Double] = Nil

  override def reduce(b: List[Double], d: Double): List[Double] =
    if (d != 0.0) d :: b else b

  override def merge(a: List[Double], b: List[Double]): List[Double] = a ::: b

  override def finish(buf: List[Double]): WilcoxonStats = {
    val n = buf.length
    if (n == 0) return WilcoxonStats(0L, 0.0, Double.NaN, Double.NaN)
    val sorted = buf.toArray.sortBy(math.abs)
    var wplus = 0.0
    var ties = false
    var i = 0
    while (i < n) {
      var j = i
      while (j + 1 < n && math.abs(sorted(j + 1)) == math.abs(sorted(i))) j += 1
      if (j > i) ties = true
      val avgRank = (i + j + 2) / 2.0 // == rank() + (tieCount − 1)/2, 1-based
      var k = i
      while (k <= j) { if (sorted(k) > 0) wplus += avgRank; k += 1 }
      i = j + 1
    }
    val nL = n.toLong
    val z = (wplus - nL * (nL + 1) / 4.0) /
      math.sqrt(nL * (nL + 1) * (2 * nL + 1) / 24.0)
    val pExact =
      if (!ties && n <= exactMaxN) exactTwoSidedP(n, math.round(wplus).toInt)
      else Double.NaN
    WilcoxonStats(nL, wplus, z, pExact)
  }

  /** Exact two-sided p for W⁺ = `w` over ranks {1..n} with no ties —
    * the scipy exact-mode convention. Public so the SQL-oracle twin and
    * the spec can pin it directly. */
  def exactTwoSidedP(n: Int, w: Int): Double = {
    require(n >= 1 && n <= exactMaxN, s"exact Wilcoxon needs 1 <= n <= $exactMaxN, got $n")
    val m = n * (n + 1) / 2
    require(w >= 0 && w <= m, s"W+ must be in [0, $m], got $w")
    // c(w) = number of rank subsets summing to w; one convolution pass
    // per rank, descending so each rank is used at most once
    val c = new Array[Long](m + 1)
    c(0) = 1L
    var r = 1
    while (r <= n) {
      var ww = m
      while (ww >= r) { c(ww) += c(ww - r); ww -= 1 }
      r += 1
    }
    var pl = 0L // 2^n · P(W+ <= w)
    var pg = 0L // 2^n · P(W+ >= w)
    var ww = 0
    while (ww <= m) {
      if (ww <= w) pl += c(ww)
      if (ww >= w) pg += c(ww)
      ww += 1
    }
    val tot = (1L << n).toDouble
    math.min(1.0, 2.0 * (math.min(pl, pg) / tot))
  }

  /** Both encoders are built once per JVM, not per access: they are
    * derived by Scala reflection, and Spark asks for them in every task
    * that runs the aggregate. */
  override lazy val bufferEncoder: Encoder[List[Double]] = ExpressionEncoder()
  override lazy val outputEncoder: Encoder[WilcoxonStats] = Encoders.product[WilcoxonStats]
}
