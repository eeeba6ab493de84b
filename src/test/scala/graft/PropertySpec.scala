package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RangeJoin

/** Property-style tests over seeded random cases: the bucketed range
  * join is equivalent to the naive between-join for arbitrary window
  * shapes (including degenerate and asymmetric ones), and the Wilcoxon
  * aggregator is permutation- and merge-split-invariant.
  */
class PropertySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("RangeJoin equals naive between-join for arbitrary windows (8 seeded cases)") {
    import spark.implicits._
    for (caseSeed <- 1 to 8) {
      val rnd = new scala.util.Random(1000L + caseSeed)
      val pre = rnd.nextInt(121).toLong
      val post = rnd.nextInt(121).toLong
      val events = Seq.fill(15)((rnd.nextInt(3).toLong, rnd.nextInt(500).toLong))
        .toDF("k", "tau")
      val series = Seq.fill(300)((rnd.nextInt(3).toLong, rnd.nextInt(500).toLong))
        .toDF("k", "t")
      val got = RangeJoin.segment(events, series, Seq("k"), "tau", "t", pre, post)
        .select("k", "t", "tau").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = series.as("s").join(events.as("e"),
          col("s.k") === col("e.k") &&
            col("s.t") >= col("e.tau") - pre && col("s.t") <= col("e.tau") + post)
        .select(col("s.k"), col("s.t"), col("e.tau")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == want, s"case $caseSeed (pre=$pre post=$post)")
    }
  }

  test("Wilcoxon aggregator is invariant to permutation and merge splits (20 seeded cases)") {
    import graft.functions.{WilcoxonSignedRank => W, WilcoxonStats}
    def eq(x: WilcoxonStats, y: WilcoxonStats) =
      x.n_eff == y.n_eff && x.w_plus == y.w_plus &&
        (x.z == y.z || (x.z.isNaN && y.z.isNaN))
    for (caseSeed <- 1 to 20) {
      val rnd = new scala.util.Random(2000L + caseSeed)
      val ds = List.fill(30)((rnd.nextInt(41) - 20).toDouble) // many ties + zeros
      val cut = rnd.nextInt(ds.length + 1)
      val base = ds.foldLeft(W.zero)(W.reduce)
      val shuffled = rnd.shuffle(ds).foldLeft(W.zero)(W.reduce)
      val (l, r) = ds.splitAt(cut)
      val merged = W.merge(l.foldLeft(W.zero)(W.reduce), r.foldLeft(W.zero)(W.reduce))
      assert(eq(W.finish(base), W.finish(shuffled)), s"case $caseSeed shuffle")
      assert(eq(W.finish(base), W.finish(merged)), s"case $caseSeed merge@$cut")
    }
  }

  test("KMinDistinctAgg equals sorted(distinct).take(k) for random inputs/partitionings (10 seeded cases)") {
    import spark.implicits._
    for (caseSeed <- 1 to 10) {
      val rnd = new scala.util.Random(7000L + caseSeed)
      val k = 1 + rnd.nextInt(20)
      val n = 1 + rnd.nextInt(400)
      val universe = 1 + rnd.nextInt(60) // small universe ⇒ many duplicates
      val xs = Seq.fill(n)(rnd.nextInt(universe).toLong - universe / 2)
      val want = xs.distinct.sorted.take(k)
      // the KMV sketch: distinct hashes, then graft_top_k's k least
      val got = xs.toDF("h").repartition(1 + rnd.nextInt(7)).distinct()
        .agg(call_function("graft_top_k", col("h"), lit(k)).as("ks"))
        .select("ks").as[Seq[Long]].head()
      assert(got == want, s"case $caseSeed (k=$k n=$n universe=$universe)")
    }
  }

  test("tokenBudgetPrefix is invariant to input partitioning and row order") {
    // The banded cumsum must reproduce the serial (score DESC, id)
    // prefix regardless of how the input arrives — bucket offsets and
    // within-band windows are both keyed, nothing positional.
    import spark.implicits._
    import graft.operators.Packing
    val rnd = new scala.util.Random(17L)
    val rows = (1L to 80L).map(i => (i, rnd.nextDouble(), 1L + rnd.nextInt(9)))
    val df = rows.toDF("id", "score", "nt")
    def run(d: org.apache.spark.sql.DataFrame) =
      Packing.tokenBudgetPrefix(d, "id", "score", col("nt"),
        budget = 200L, bandWidth = 0.25)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val a = run(df.coalesce(1).orderBy("id"))
    val b = run(df.repartition(7, col("score")))
    assert(a == b)
    assert(a.nonEmpty && a.size < rows.size, "budget cut must land mid-corpus")
  }

  test("minhashLshIncremental is invariant to input partitioning and row order") {
    import spark.implicits._
    import graft.operators.Dedup
    val pre = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = (1L to 20L).map { i =>
      (i, i % 3 == 0, if (i <= 10) s"$pre p$i" else s"unrelated text block number $i about topic $i")
    }
    val df = rows.toDF("id", "is_new", "body")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashLshIncremental(d, "id", "body", "is_new", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3))).toSet
    val a = run(df.coalesce(1).orderBy("id"))
    val b = run(df.repartition(5, col("body")))
    assert(a == b)
    assert(a.nonEmpty, "no near-dup pairs — property vacuous")
  }

  test("embeddingNearDup is invariant to input partitioning and row order") {
    // The IVF centroid pick is a seeded hrand orderBy-limit and every
    // downstream stage is keyed — nothing may depend on how (or in what
    // order) the input arrives. 1-partition sorted vs 7-partition
    // hash-scattered input must produce identical (pair, cos) sets.
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(31L)
    val rows = (0 until 60).map { i =>
      (i.toLong, i % 3, Array.fill(8)((rnd.nextDouble() - 0.5).toFloat))
    }
    val df = rows.toDF("vid", "lbl", "vec")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingNearDup(d, "vid", "vec", blockCols = Seq("lbl"),
        threshold = 0.3, nList = 4, nProbe = 2, seed = 9L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = run(df.coalesce(1).orderBy("vid"))
    val b = run(df.repartition(7, col("vec")))
    assert(a == b)
    assert(a.nonEmpty, "threshold too high for the seeded corpus — property vacuous")
  }

  test("substringRuns is invariant to input partitioning and row order") {
    // Gram positions come from min(i) per (doc, gram) and run
    // detection is keyed on (pair, diagonal) — nothing positional in
    // the plan, so arrival order/partitioning must not matter.
    import spark.implicits._
    import graft.operators.Dedup
    val words = Vector("a","b","c","d","e","f","g","h","i","j")
    val rnd = new scala.util.Random(53L)
    val shared = (0 until 8).map(i => words(i)).mkString(" ")
    val rows = (1L to 24L).map { i =>
      val noise = Seq.fill(4)(words(rnd.nextInt(words.size)) + i).mkString(" ")
      (i, if (i % 3 == 0) s"$noise $shared" else s"$shared $noise")
    }
    val df = rows.toDF("id", "body")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.substringRuns(d, "id", "body", k = 4, minRun = 2, maxDf = 30L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val a = run(df.coalesce(1).orderBy("id"))
    val b = run(df.repartition(7, col("body")))
    assert(a == b)
    assert(a.nonEmpty, "no shared runs — property vacuous")
  }

  test("domainCap / groupSplit / dsirWeights are invariant to partitioning and row order") {
    import spark.implicits._
    import graft.operators.{Sampling, TextOps}
    val rnd = new scala.util.Random(71L)
    val rows = (1L to 90L).map { i =>
      (i, s"host${i % 7}", rnd.nextDouble(),
        Seq.fill(3 + rnd.nextInt(4))("w" + rnd.nextInt(12)).mkString(" "))
    }
    val df = rows.toDF("id", "host", "sc", "body")
    def runCap(d: org.apache.spark.sql.DataFrame) =
      Sampling.domainCap(d.withColumn("s", round(col("sc"), 6)), "host", "id", col("s"), 5)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def runSplit(d: org.apache.spark.sql.DataFrame) =
      Sampling.groupSplit(d, "host", lit(1L),
        Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)), seed = 5L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def runDsir(d: org.apache.spark.sql.DataFrame) =
      TextOps.dsirWeights(d, "id", "body", col("host") === "host0")
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    val one = df.coalesce(1).orderBy("id")
    val many = df.repartition(9, col("body"))
    assert(runCap(one) == runCap(many))
    assert(runSplit(one) == runSplit(many))
    assert(runDsir(one) == runDsir(many))
  }

  test("ngramPairStats path equals inline jaccard/containment on random corpora (6 seeded cases)") {
    import spark.implicits._
    import graft.operators.Dedup
    // Small-vocab random corpora force real shingle collisions, so the
    // shared-stats route (coarse-blocked stats + C-prefilter + the
    // band-equality filter recovering jaccard's finer blocking) is
    // exercised against the inline route on non-trivial pair sets.
    for (caseSeed <- 1 to 6) {
      val rnd = new scala.util.Random(4200L + caseSeed)
      val vocab = (0 until 6).map(i => s"w$i")
      val rows = (1L to 24L).map { i =>
        (i, s"g${i % 2}", i % 3,
          Seq.fill(4 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = rows.toDF("id", "grp", "band", "body")
      def rset(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
      val t = 0.2 + 0.1 * (caseSeed % 3) // thresholds 0.2/0.3/0.4, minC <= all
      val stats = Dedup.ngramPairStats(df, "id", "body", blockCols = Seq("grp"),
        minContainment = 0.2, carry = Seq("band"))
      assert(rset(Dedup.ngramJaccard(df, "id", "body", Seq("grp", "band"), t)) ==
        rset(Dedup.ngramJaccard(df, "id", "body", Seq("grp", "band"), t,
          pairStats = Some(stats.filter(col("band_a") === col("band_b"))))),
        s"jaccard case $caseSeed (t=$t)")
      assert(rset(Dedup.ngramContainment(df, "id", "body", Seq("grp"), t)) ==
        rset(Dedup.ngramContainment(df, "id", "body", Seq("grp"), t,
          pairStats = Some(stats))),
        s"containment case $caseSeed (t=$t)")
    }
  }

  test("redact counts match patternFlags and the rewrite is idempotent (8 seeded cases)") {
    import spark.implicits._
    import graft.operators.TextOps
    // Detect and rewrite are two halves of one contract: the counts
    // redact() reports must equal what the detection battery counts on
    // the same patterns, and re-redacting already-scrubbed text must be
    // a no-op (class tokens never re-match the patterns).
    val rules = Seq(
      ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))
    for (caseSeed <- 1 to 8) {
      val rnd = new scala.util.Random(7700L + caseSeed)
      val bits = Seq("plain words here", s"u${rnd.nextInt(99)}@ex.com",
        s"10.${rnd.nextInt(250)}.0.${rnd.nextInt(250)}", "more filler")
      val rows = (1L to 12L).map { i =>
        (i, Seq.fill(2 + rnd.nextInt(4))(bits(rnd.nextInt(bits.size))).mkString(" "))
      }
      val df = rows.toDF("id", "t")
      val red = TextOps.redact(df, "t", "tr", rules)
      val flg = TextOps.patternFlags(df, "t", rules.map(r => (r._1, r._2)))
      val a = red.select("id", "n_email", "n_ip").collect().map(_.toSeq).toSet
      val b = flg.select("id", "n_email", "n_ip").collect().map(_.toSeq).toSet
      assert(a == b, s"counts diverge from patternFlags, case $caseSeed")
      val again = TextOps.redact(red.select(col("id"), col("tr").as("t")),
        "t", "tr", rules)
      assert(again.filter(col("n_email") > 0 || col("n_ip") > 0).count() == 0,
        s"re-redaction found residual matches, case $caseSeed")
      assert(red.filter(col("n_email") + col("n_ip") > 0).count() > 0,
        s"case $caseSeed vacuous — no PII planted")
    }
  }
}
