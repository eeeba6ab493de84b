package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, TextOps}

/** Exercises the reusable operator library with NON-default parameters
  * and schemas (the registry queries only instantiate the defaults):
  * custom column names, n-gram sizes, block keys, vector dimensions.
  */
class LibraryOpsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "grp", "body")
  }

  /** The hex formulation of word n-grams the native k-gram stage is
    * pinned against: one row per window occurrence, `carry` + its start
    * token `i` + `sh`, the lowercase-hex md5 of
    * `concat_ws(' ', w[i..i+n-1])` over `w = split(text, ' ')`. */
  private def hexGrams(d: DataFrame, textCol: String, carry: Seq[String], n: Int): DataFrame = {
    val grams = (0 until n).map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(", ")
    d.withColumn("w", split(col(textCol), " "))
      .filter(size(col("w")) >= n)
      .select((carry.map(col) :+ col("w") :+
        explode(expr(s"sequence(0, size(w) - $n)")).as("i")): _*)
      .select((carry.map(col) :+ col("i") :+
        expr(s"md5(encode(concat_ws(' ', $grams), 'UTF-8'))").as("sh")): _*)
  }

  test("Dedup.ngramJaccard finds an exact near-dup pair with custom schema/params") {
    val d = docs(
      (1L, "x", "alpha beta gamma delta epsilon"),
      (2L, "x", "alpha beta gamma delta zeta"),   // 4/6 trigrams... j vs doc1
      (3L, "x", "one two three four five"),
      (4L, "y", "alpha beta gamma delta epsilon")) // same text, other block
    val out = Dedup.ngramJaccard(d, "id", "body", blockCols = Seq("grp"),
      threshold = 0.2, ngram = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))     // share bigrams within block x
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L)) // blocked away
  }

  test("Dedup.ngramJaccard maxDf caps hot-shingle candidate volume") {
    import spark.implicits._
    // degenerate corpus: 40 docs all sharing ONE boilerplate bigram
    // ("hot hot") — the Σ df² blow-up case — plus a genuine near-dup
    // pair linked through rare shingles
    val boiler = (1L to 40L).map(i => (i, "x", s"hot hot u$i t$i"))
    val nearDup = Seq(
      (100L, "x", "alpha beta gamma delta"),
      (101L, "x", "alpha beta gamma zeta"))
    val d = (boiler ++ nearDup).toDF("id", "grp", "body")
    def pairs(cap: Option[Long]) =
      Dedup.ngramJaccard(d, "id", "body", blockCols = Seq("grp"),
        threshold = 0.01, ngram = 2, maxDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    val capped = pairs(Some(10L))
    // uncapped: every boilerplate pair meets through the hot shingle —
    // O(n²) candidates AND O(n²) emitted pairs at a low threshold
    assert(uncapped.size == 40 * 39 / 2 + 1, s"got ${uncapped.size}")
    // capped: the df-40 shingle leaves the inverted index, candidate
    // volume collapses, and the rare-shingle near-dup still surfaces
    assert(capped == Set((100L, 101L)))
    // no shingle above the cap ⇒ bit-identical to the uncapped form
    val clean = nearDup.toDF("id", "grp", "body")
    def cleanRun(cap: Option[Long]) =
      Dedup.ngramJaccard(clean, "id", "body", Seq("grp"), 0.01, 2, cap)
        .collect().map(_.toSeq).toSet
    assert(cleanRun(Some(10L)) == cleanRun(None) && cleanRun(None).nonEmpty)
  }

  test("Dedup.spanRewrite removes cross-corpus spans and passes clean docs through") {
    import spark.implicits._
    val boiler = "b1 b2 b3 b4"               // 4-token span shared by 2 docs
    val d = Seq(
      (1L, s"u1 u2 $boiler u3 u4"),          // boilerplate mid-doc
      (2L, s"$boiler v1 v2 v3 v4"),          // boilerplate at doc start
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8"),       // clean — byte-identical passthrough
      (4L, "r1 r2 r1 r2 r1 r2 r1 r2"))       // INTRA-doc repeat only — df=1, intact
      .toDF("doc_id", "text")
    val out = Dedup.spanRewrite(d, "doc_id", "text", k = 4, minDf = 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(out(1L) == ((8L, 4L, "u1 u2 u3 u4")))
    assert(out(2L) == ((8L, 4L, "v1 v2 v3 v4")))
    assert(out(3L) == ((8L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8")))
    assert(out(4L)._2 == 0L && out(4L)._3 == "r1 r2 r1 r2 r1 r2 r1 r2")
    // overlapping hot windows merge their coverage: two docs sharing a
    // 5-token run have BOTH 4-gram windows hot → 5 positions masked
    val d2 = Seq((10L, "a b c d e x1 x2 x3"), (11L, "a b c d e y1 y2 y3"))
      .toDF("doc_id", "text")
    val out2 = Dedup.spanRewrite(d2, "doc_id", "text", k = 4, minDf = 2L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(4))).toMap
    assert(out2(10L) == ((5L, "x1 x2 x3")))
    assert(out2(11L) == ((5L, "y1 y2 y3")))
  }

  test("Graphs.triangleCounts counts each triangle once despite dup/reversed/self edges") {
    import spark.implicits._
    // K4 on {1,2,3,4}: 4 triangles, every node in 3 of them, clustering 1.0.
    // Star center 10 with leaves 11..13 plus ONE closed leaf pair (11,12):
    // exactly 1 triangle there. Input deliberately dirty: both
    // orientations, duplicates, and a self-loop.
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (12L, 11L), (10L, 11L), (13L, 13L))
    val out = graft.operators.Graphs
      .triangleCounts((k4 ++ star).toDF("s", "t"), "s", "t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    (1L to 4L).foreach { n => assert(out(n) == ((3L, 3L, 1.0)), s"node $n: ${out(n)}") }
    assert(out(10L) == ((3L, 1L, 0.333333)))
    assert(out(11L) == ((2L, 1L, 1.0)))
    assert(out(12L) == ((2L, 1L, 1.0)))
    assert(out(13L) == ((1L, 0L, 0.0)))
  }

  test("Incremental.scd2Intervals merges same-state runs and chains validity") {
    import spark.implicits._
    val log = Seq(
      (1L, "gold", 10L, 1L), (1L, "gold", 20L, 2L),   // run merges → v1
      (1L, "silver", 30L, 3L),                        // change → v2
      (1L, "gold", 40L, 4L),                          // back to gold = NEW version
      (2L, "bronze", 5L, 5L))                         // single-event key
      .toDF("uid", "state", "t", "eid")
    val out = graft.operators.Incremental
      .scd2Intervals(log, Seq("uid"), "state", "t", Seq("eid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
          r.getLong(5), r.getBoolean(6)))).toMap
    assert(out((1L, 1L)) == (("gold", 10L, Some(30L), 2L, false)))
    assert(out((1L, 2L)) == (("silver", 30L, Some(40L), 1L, false)))
    assert(out((1L, 3L)) == (("gold", 40L, None, 1L, true)))
    assert(out((2L, 1L)) == (("bronze", 5L, None, 1L, true)))
    assert(out.size == 4)
  }

  test("graft_top_cells matches the HOF slice/sort/transform form bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val rnd = new scala.util.Random(7L)
    val vecs: Seq[(Long, Array[Float])] = (1L to 60L).map { id =>
      val v: Array[Float] =
        if (id == 5L) null // null vector → every cosine NULL, ranked by id
        else if (id == 6L) Array.fill(8)(0f) // zero norm → NULL cosine
        else Array.fill(8)(rnd.nextFloat() * 2 - 1)
      (id, v)
    }
    val df = vecs.toDF("vec_id", "v")
    // centroids include the null vector (null cv element) and the
    // zero-norm vector — the NULL-cosine comparator branches
    val cent = df.filter(col("vec_id") <= 10)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val withCents = df.crossJoin(broadcast(Similarity.centroidArray(cent)))
    def run(c: org.apache.spark.sql.Column): Seq[String] =
      withCents.select(col("vec_id"), c.as("tc"))
        .orderBy("vec_id").toJSON.collect().toSeq
    val native = run(Similarity.topCells("v", 3))
    val hof = run(Similarity.topCellsSql("v", 3))
    assert(native == hof)
    // nProbe larger than the centroid count returns all, same order
    assert(run(Similarity.topCells("v", 99)) == run(Similarity.topCellsSql("v", 99)))
  }

  test("Dedup.exactSummary counts duplicates per custom group column") {
    val d = docs(
      (1L, "a", "same text"), (2L, "a", "same text"),
      (3L, "a", "other"), (4L, "b", "same text"))
    val m = Dedup.exactSummary(d, "grp", "id", "body")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m("a") == ((3L, 2L, 1L))) // 3 docs, 2 unique, 1 removed
    assert(m("b") == ((1L, 1L, 0L)))
  }

  test("Dedup.simhash links identical docs and respects maxHamming") {
    val d = docs(
      (1L, "g", "the quick brown fox jumps over the lazy dog"),
      (2L, "g", "the quick brown fox jumps over the lazy dog"),
      (3L, "g", "completely different content entirely here now"))
    val pairs = Dedup.simhash(d, "id", "body", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("Dedup.simhash multi-probe finds EVERY Hamming<=2 pair (vs brute force)") {
    // Near-identical long docs: single-token edits usually move only a
    // few signature bits, including across the bucket boundary —
    // exactly the pairs the plain top-bits join missed. The guarantee
    // under test: any pair within Hamming 2 differs in <= 2 bucket
    // bits, two-sided single-bit probing always joins such a pair, and
    // the canonical-meeting predicate keeps exactly one of its
    // meetings (a dropped-ALL-meetings bug would fail this recall
    // check; a duplicate-emission bug fails the single-emission spec).
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = docs((0 until 12).map { i =>
      val body = if (i == 0) base else base.replace(s"tok$i", s"alt$i")
      (i.toLong, "g", body)
    }: _*)
    val sigs = Dedup.simhashSignatures(d, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val expected = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 2
    } yield (ia, ib, h.toLong)).toSet
    assert(expected.nonEmpty, "test corpus produced no Hamming<=2 pair; make edits smaller")
    // at least one expected pair must straddle a bucket boundary, else
    // the multi-probe path isn't exercised
    val sigMap = sigs.toMap
    assert(expected.exists { case (a, b, _) => (sigMap(a) >> 16) != (sigMap(b) >> 16) },
      "no cross-bucket pair in corpus; recall regression would be invisible")
    val found = Dedup.simhash(d, "id", "body", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(found == expected)
  }

  test("Dedup.embeddingNearDup (IVF-cell blocking) finds EVERY planted near-dup (vs brute force)") {
    import spark.implicits._
    val dim = 8
    // deterministic LCG vectors — 30 bases over 2 block keys, plus a
    // lightly-perturbed near-dup of every 5th (cos > 0.999)
    def rng(seed: Long): Iterator[Double] = Iterator.iterate(seed * 2862933555777941757L + 3037000493L)(
      s => s * 2862933555777941757L + 3037000493L)
      .map(s => (s >>> 33).toDouble / (1L << 31).toDouble - 0.5)
    val base = (0 until 30).map(i => (i.toLong, i % 2, rng(i + 1).take(dim).toArray))
    val dups = base.filter(_._1 % 5 == 0).map { case (id, lb, v) =>
      val noise = rng(id + 1000).take(dim).toArray
      (id + 100, lb, v.zip(noise).map { case (a, b) => a + 0.001 * b })
    }
    val rows = (base ++ dups).map { case (id, lb, v) => (id, lb, v.map(_.toFloat)) }
    val df = rows.toDF("vid", "lbl", "vec")
    // brute force on the same float-rounded values the operator sees
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val tau = 0.9
    val expected = (for {
      (ia, la, va) <- rows; (ib, lb2, vb) <- rows
      if ia < ib && la == lb2 && cos(va, vb) >= tau
    } yield (ia, ib)).toSet
    val planted = dups.map(d => (d._1 - 100, d._1)).toSet
    assert(planted.subsetOf(expected), "every planted dup must be a brute-force tau-pair")
    val found = Dedup.embeddingNearDup(df, "vid", "vec", blockCols = Seq("lbl"),
      threshold = tau, nList = 4, nProbe = 2, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == expected,
      s"blocking missed ${expected -- found} / emitted spurious ${found -- expected}")
  }

  test("dedup_embedding_cosine oracle derives the SAME cell count as autoCellCount at every scale") {
    // The oracle SQL sizes its centroid pick with
    // `rn <= greatest(8, ceil(nv / 256.0))` (QSim.embedNearDup); the
    // engine uses Similarity.autoCellCount(n, 8, 256). If the two ever
    // diverge the hash gate breaks SILENTLY only at the scale where
    // they first disagree — pin them together across the committed
    // fixture sizes (500 / 2000 embeddings rows), the 10x bench corpus
    // (20000) and the rule's breakpoints.
    def oracleFormula(n: Long): Int = math.max(8, math.ceil(n / 256.0).toInt)
    for (n <- Seq(1L, 255L, 256L, 257L, 500L, 2000L, 2048L, 2049L, 20000L, 1000000L))
      assert(Similarity.autoCellCount(n, 8, 256) == oracleFormula(n),
        s"engine and oracle cell counts diverge at n=$n")
  }

  test("auto quantizer sizing: a 10x corpus picks more cells, recall preserved") {
    import spark.implicits._
    // The sizing rules are monotone and only ever GROW the caller's
    // floor — bench-scale corpora keep the tuned constants bit-for-bit.
    assert(Similarity.autoNList(2000, 8) == 8)            // bench scale: floor wins
    assert(Similarity.autoNList(1L << 20, 8) == 64)       // 1M vectors, target 256
    assert(Similarity.autoNList(1L << 30, 8) == 2048)     // 1G vectors: still broadcastable
    // simhash bucket width from OBSERVED populations (not expected
    // n/2^bits — signature concentration broke that rule 100x at sf1):
    // synthetic signatures place 600 docs in ONE 16-bit bucket but
    // spread across low bits, so the rule must widen past the floor
    // exactly until the max population fits the target
    locally {
      import spark.implicits._
      def width(sigs: Seq[Long], target: Int): Int =
        Dedup.observedBucketWidth(sigs.toDF("simhash"), floor = 16, target)
          .collect().head.getInt(0)
      val spread = (0 until 600).map(i => (7L << 16) | i.toLong) // one hot 16-bit bucket
      assert(width(spread, 256) > 16, "hot bucket must widen past the floor")
      assert(width(spread, 1024) == 16)      // fits the target: floor wins
      val flood = Seq.fill(600)(42L << 16)   // IDENTICAL signatures: no width helps
      assert(width(flood, 256) == 28)        // capped at 28 of 32 bits
      assert(width(Nil, 256) == 28) // empty: no width qualifies, cap
    }
    // End-to-end: same planted-near-dup harness as above, at 1x and 10x.
    val dim = 8
    def rng(seed: Long): Iterator[Double] = Iterator.iterate(seed * 2862933555777941757L + 3037000493L)(
      s => s * 2862933555777941757L + 3037000493L)
      .map(s => (s >>> 33).toDouble / (1L << 31).toDouble - 0.5)
    def corpus(nBase: Int): Seq[(Long, Int, Array[Float])] = {
      val base = (0 until nBase).map(i => (i.toLong, i % 2, rng(i + 1).take(dim).toArray))
      val dups = base.filter(_._1 % 5 == 0).map { case (id, lb, v) =>
        val noise = rng(id + 10000).take(dim).toArray
        (id + 10000L, lb, v.zip(noise).map { case (a, b) => a + 0.001 * b })
      }
      (base ++ dups).map { case (id, lb, v) => (id, lb, v.map(_.toFloat)) }
    }
    val small = corpus(30)
    val big = corpus(300)
    val (floor, target) = (2, 8)
    val cellsSmall = Similarity.autoNList(small.size, floor, target)
    val cellsBig = Similarity.autoNList(big.size, floor, target)
    assert(cellsSmall < cellsBig, s"10x corpus must pick more cells ($cellsSmall vs $cellsBig)")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val tau = 0.97
    for (rows <- Seq(small, big)) {
      val expected = (for {
        (ia, la, va) <- rows; (ib, lb2, vb) <- rows
        if ia < ib && la == lb2 && cos(va, vb) >= tau
      } yield (ia, ib)).toSet
      val planted = rows.collect { case (id, _, _) if id >= 10000L => (id - 10000L, id) }.toSet
      assert(planted.subsetOf(expected))
      val found = Dedup.embeddingNearDup(rows.toDF("vid", "lbl", "vec"), "vid", "vec",
        blockCols = Seq("lbl"), threshold = tau, nList = floor, nProbe = 3,
        seed = 7L, targetCellSize = target)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found == expected,
        s"n=${rows.size}: missed ${expected -- found} / spurious ${found -- expected}")
    }
  }

  test("native graft_cosine is BIT-identical to the unrolled chain (float and double arrays)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    val dim = 64
    val fdf = (0 until 50).map(i => (i.toLong, Array.fill(dim)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("id", "v")
    val ddf = (0 until 50).map(i => (i.toLong, Array.fill(dim)(rnd.nextDouble() - 0.5)))
      .toDF("id", "v")
    for (df <- Seq(fdf, ddf)) {
      val pairs = df.as("a").crossJoin(df.as("b"))
        .select(
          expr("graft_cosine(a.v, b.v)").as("native"),
          expr(s"${Similarity.dotExpr("a.v", "b.v", dim)} / " +
            s"(sqrt(${Similarity.dotExpr("a.v", "a.v", dim)}) * " +
            s"sqrt(${Similarity.dotExpr("b.v", "b.v", dim)}))").as("unrolled"))
        .collect()
      // bit-level equality, not tolerance: the oracle gate hashes doubles
      assert(pairs.forall(r =>
        java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    }
    // null element → null, like the unrolled chain's null propagation
    val withNull = Seq((1L, Array[java.lang.Float](1.0f, null, 2.0f)),
      (2L, Array[java.lang.Float](1.0f, 1.0f, 1.0f))).toDF("id", "v")
    val r = withNull.as("a").join(withNull.as("b"), col("a.id") < col("b.id"))
      .select(expr("graft_cosine(a.v, b.v)")).collect()
    assert(r.length == 1 && r(0).isNullAt(0))
  }

  test("native graft_lsh_bucket is BIT-identical to the unrolled sign chains") {
    import spark.implicits._
    val rnd = new scala.util.Random(99L)
    val df = (0 until 200).map(i => (i.toLong, Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("id", "v")
    val bits = 8
    val unrolled = (0 until bits).map(j =>
      s"(CASE WHEN (${Similarity.lshProjExpr("v", j)}) >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    val rows = df.select(
      expr(s"graft_lsh_bucket(v, $bits)").as("native"),
      expr(s"($unrolled)").as("chain")).collect()
    assert(rows.forall(r => r.getInt(0) == r.getInt(1)))
  }

  test("degenerate vectors: zero-norm/empty → NULL, like the old non-ANSI Divide") {
    // The unrolled chain divided via Spark's non-ANSI Divide (÷0 → NULL);
    // raw IEEE division would yield NaN, which Spark sorts ABOVE every
    // double, so a `cos >= τ` filter would emit spurious "near-dup" pairs.
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)), // zero norm
      (2L, Array(1.0f, 2.0f, 2.0f)),
      (3L, Array.empty[Float])       // empty
    ).toDF("id", "v")
    df.createOrReplaceGlobalTempView("degenerate_vecs")
    val s2 = spark.newSession() // interpreted twin
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val sql = """SELECT a.id, graft_cosine(a.v, b.v) AS c, graft_lsh_bucket(a.v, 6) AS bk
                 FROM global_temp.degenerate_vecs a
                 JOIN global_temp.degenerate_vecs b ON b.id = 2
                 ORDER BY a.id"""
    for (s <- Seq(spark, s2)) {
      val rows = s.sql(sql).collect()
      assert(rows.length == 3)
      assert(rows(0).isNullAt(1), "zero-norm cosine must be NULL, not NaN")
      assert(!rows(0).isNullAt(2), "zero vector still projects to a bucket")
      assert(!rows(1).isNullAt(1) && !rows(1).isNullAt(2))
      assert(rows(2).isNullAt(1), "empty-array cosine must be NULL")
      assert(rows(2).isNullAt(2), "empty-array bucket must be NULL, not all-ones")
      // and a τ-filter must NOT pass the degenerate pairs
      assert(s.sql(sql.replace("ORDER BY a.id", "")).where("c >= 0.5")
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("native expressions: interpreted eval is bit-identical to codegen") {
    // Catalyst can fall back to the interpreted path (codegen failure,
    // NO_CODEGEN factory mode); both paths must produce the same bits.
    import spark.implicits._
    val rnd = new scala.util.Random(123L)
    val df = (0 until 40).map(i => (i.toLong, Array.fill(16)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("id", "v")
    df.createOrReplaceGlobalTempView("native_vs_interp")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val sql = """SELECT a.id, b.id, graft_cosine(a.v, b.v) AS c,
                        graft_lsh_bucket(a.v, 6) AS bk
                 FROM global_temp.native_vs_interp a
                 JOIN global_temp.native_vs_interp b ON a.id < b.id
                 ORDER BY 1, 2"""
    val gen = spark.sql(sql).collect()
    val interp = s2.sql(sql).collect()
    assert(gen.length == interp.length && gen.nonEmpty)
    gen.zip(interp).foreach { case (g, i) =>
      assert(java.lang.Double.doubleToRawLongBits(g.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(i.getDouble(2)))
      assert(g.getInt(3) == i.getInt(3))
    }
  }

  test("Similarity.cosine/bruteTopK work at a non-default dimension") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vid", "emb")
    val top = Similarity.bruteTopK(vecs, vecs.filter(col("vid") === 1), "vid", "emb",
      k = 2)
      .orderBy("rk").collect().map(r => r.getLong(2))
    assert(top.head == 2L)             // nearest to e1 is the 0.9/0.1 vector
    assert(top.toSeq == Seq(2L, 3L) || top.toSeq == Seq(2L, 4L))
  }

  test("SkewJoin.saltedInner equals the plain join on a 90%-hot-key table and spreads the salt") {
    import spark.implicits._
    import graft.operators.SkewJoin
    val rnd = new scala.util.Random(55L)
    // 90% of left rows share key 7 — the classic single-task hot key
    val left = (0 until 2000).map(i =>
      (if (rnd.nextDouble() < 0.9) 7L else rnd.nextInt(50).toLong, i.toLong))
      .toDF("k", "payload")
    val right = (0L until 50L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val factor = 8
    val got = SkewJoin.saltedInner(left, right, Seq("k"), factor)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val want = left.join(right, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(got == want)
    // the hot key must actually spread: its rows carry >1 distinct salt
    val salts = left.filter(col("k") === 7)
      .withColumn("s", pmod(hash(left.columns.map(col): _*), lit(factor)))
      .select(countDistinct("s")).as[Long].head()
    assert(salts > factor / 2, s"hot key only spread over $salts/$factor salts")
  }

  test("Dedup.connectedComponents labels a long chain + separate clique + pair") {
    import spark.implicits._
    // chain 1-2-...-12 (diameter 11 — forces the multi-round log² path),
    // with messy input: reversed orientations, duplicates, a self-loop
    val chain = (1L until 12L).map(i => if (i % 2 == 0) (i + 1, i) else (i, i + 1))
    val clique = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val pair = Seq((30L, 31L))
    val edges = (chain ++ clique ++ pair ++ Seq((5L, 5L), (3L, 4L), (4L, 3L)))
      .toDF("a", "b")
    // both execution paths must agree: localFinishEdges = 0 forces the
    // distributed star rounds; the default takes the one-task union-find
    for (localCap <- Seq(0L, 1L << 22)) {
      val got = Dedup.connectedComponents(edges, "a", "b", localFinishEdges = localCap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 12L).forall(got(_) == 1L))
      assert((20L to 22L).forall(got(_) == 20L))
      assert(got(30L) == 30L && got(31L) == 30L)
      assert(got.size == 17) // every endpoint labeled exactly once
    }
  }

  test("Dedup.connectedComponents matches a union-find reference on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 400
    val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    // plain-Scala union-find with min-id labels
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x.toInt).toLong).toMap
    // union-find roots here ARE the min ids: unions always attach max under min,
    // and path roots only ever decrease
    for (localCap <- Seq(0L, 1L << 22)) {
      val got = Dedup.connectedComponents(edges.toDF("s", "t"), "s", "t",
          localFinishEdges = localCap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
    }
    // reliable-checkpoint mode (cluster fault-tolerance knob): same
    // labeling through the iterative path with checkpoint files on disk
    val ckDir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    try {
      val gotReliable = Dedup.connectedComponents(edges.toDF("s", "t"), "s", "t",
          localFinishEdges = 0L, checkpointDir = Some(ckDir.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotReliable == want)
      assert(java.nio.file.Files.list(ckDir).count() > 0,
        "reliable checkpoint mode wrote nothing to the checkpoint dir")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(ckDir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("Dedup.minhashLsh maxBucket drops degenerate band buckets whole") {
    import spark.implicits._
    // 200 identical boilerplate docs — identical minhash signatures, so
    // every band funnels them into ONE bucket: the degenerate shape that
    // would emit ~n²/2 candidate pairs per bucket uncapped
    val flood = (1L to 200L).map(i =>
      (i, "x", "click here to win a free prize now today"))
    // plus a genuine near-dup pair (11/13 shared trigrams) whose band
    // buckets stay far below any cap
    val pair = Seq(
      (900L, "x", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"),
      (901L, "x", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu xi"))
    val d = (flood ++ pair).toDF("id", "grp", "body")
    def run(cap: Long) =
      Dedup.minhashLsh(d, "id", "body", threshold = 0.1, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped: the flooded buckets are dropped whole — no quadratic
    // candidate set — while the small-bucket near-dup still surfaces
    assert(run(50L) == Set((900L, 901L)))
    // a cap above every bucket population is bit-identical to the
    // uncapped semantics: all 200·199/2 flood pairs plus the real one
    assert(run(100000L).size == 200 * 199 / 2 + 1)
  }

  test("Dedup.simhash maxBucket drops identical-signature floods whole") {
    import spark.implicits._
    // 200 identical docs: identical SIMHASH signatures land in one
    // bucket that no width adaptation can split — the degenerate path
    // the population cap closes (width handles merely-similar docs)
    val flood = (1L to 200L).map(i =>
      (i, "click here to win a free prize now today"))
    val pair = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (901L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val d = (flood ++ pair).toDF("id", "body")
    def run(cap: Long) =
      Dedup.simhash(d, "id", "body", maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = run(50L)
    // flood pairs gone whole — no quadratic candidate set — while the
    // 2-doc bucket stays far under the cap and still surfaces
    assert(!capped.exists { case (a, b) => a <= 200L && b <= 200L })
    assert(capped.contains((900L, 901L)))
    // a cap above every population is bit-identical to unguarded
    assert(run(100000L).size == 200 * 199 / 2 + 1)
  }

  test("BucketMembers: the buffer never holds more than the cap, under update or merge") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, TypedImperativeAggregate}
    import org.apache.spark.sql.types.LongType
    import graft.functions.BucketMembers
    val cap = 3
    val member = BoundReference(0, LongType, nullable = false)
    // the most members any buffer held while 10 rows were reduced into
    // one buffer, and while partial buffers of 2 rows each were merged
    def peak[T](agg: TypedImperativeAggregate[T], size: T => Int): Int = {
      var most = 0
      def seen(b: T): T = { most = most.max(size(b)); b }
      val rows = (1L to 10L).map(i => InternalRow(i))
      rows.foldLeft(agg.createAggregationBuffer())((b, r) => seen(agg.update(b, r)))
      rows.grouped(2).map(_.foldLeft(agg.createAggregationBuffer())(
          (b, r) => seen(agg.update(b, r))))
        .reduce((a, b) => seen(agg.merge(a, b)))
      most
    }
    val bounded = BucketMembers(member, cap)
    assert(peak[BucketMembers.Buf](bounded, _.items.size) <= cap)
    // control: the same probe catches an unbounded collect
    assert(peak[scala.collection.mutable.ArrayBuffer[Any]](CollectList(member), _.size) > cap,
      "the probe must see an unbounded buffer grow past the cap")
    // at the cap the members are kept; one past it the bucket is NULL
    def run(n: Int): BucketMembers.Buf = (1L to n.toLong).foldLeft(
      bounded.createAggregationBuffer())((b, i) => bounded.update(b, InternalRow(i)))
    val full = bounded.eval(run(cap)).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(full.toLongArray().sorted.toSeq == (1L to cap.toLong))
    assert(bounded.eval(run(cap + 1)) == null)
    // a merge that crosses the cap closes the buffer for good
    val closed = bounded.merge(run(2), run(2))
    assert(closed.closed && closed.items.isEmpty)
    assert(bounded.merge(closed, run(1)).closed)
    // the shuffle form round-trips open and closed buffers
    val back = bounded.deserialize(bounded.serialize(run(2)))
    assert(!back.closed && back.rows == 2L && back.items.map(_.asInstanceOf[Long]).sorted == Seq(1L, 2L))
    assert(bounded.deserialize(bounded.serialize(closed)).closed)
  }

  test("bucketMembers keyed pass equals the anti-join + self-join formulation") {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    // One candidate generator: its bucketed rows, bucket keys, the
    // reference pair rule and output, and the operator under test.
    case class Family(bucketed: DataFrame => DataFrame, keys: Seq[String],
        a: DataFrame => DataFrame, pair: Column, out: Seq[Column],
        keyed: (DataFrame, Long) => DataFrame)
    // the formulation the keyed pass replaced, kept as the reference:
    // the over-cap bucket list, anti-joined from the a side of the
    // bucket self-join
    def reference(f: Family, docs: DataFrame, cap: Long): DataFrame = {
      val bucketed = f.bucketed(docs)
      val overCap = bucketed.groupBy(f.keys.map(col): _*).agg(count(lit(1)).as("bc"))
        .filter(col("bc") > cap).select(f.keys.map(col): _*)
      f.a(bucketed).join(overCap, f.keys, "left_anti").as("a")
        .join(bucketed.as("b"),
          f.keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) && f.pair)
        .select(f.out: _*)
    }
    val withNew = (d: DataFrame) => d.withColumn("is_new", col("id") % 3 === 0)
    val batch = Family(
      d => Dedup.minhashBandRows(d, "id", "body", nHash = 8).select("id", "band", "bkey"),
      Seq("band", "bkey"), identity, col("a.id") < col("b.id"),
      Seq(col("a.id").as("doc_a"), col("b.id").as("doc_b")),
      (d, c) => Dedup.minhashLshCandidates(d, "id", "body", nHash = 8, maxBucket = c))
    val incremental = Family(
      d => Dedup.minhashBandRows(d, "id", "body", nHash = 8)
        .join(withNew(d).select("id", "is_new"), "id").select("id", "is_new", "band", "bkey"),
      Seq("band", "bkey"), _.filter(col("is_new")),
      !col("b.is_new") && col("a.id") =!= col("b.id") ||
        col("b.is_new") && col("a.id") < col("b.id"),
      Seq(col("a.id").as("doc_new"), col("b.id").as("doc_other"),
        col("b.is_new").as("other_is_new")),
      (d, c) => Dedup.minhashLshIncrementalCandidates(withNew(d), "id", "body", "is_new",
        nHash = 8, maxBucket = c))
    // simhash: the probe rows rebuilt here, canonical-meeting rule
    val dd = col("a.base").bitwiseXOR(col("b.base"))
    val sim = Family(
      { d =>
        val sh = Dedup.simhashSignatures(d, "id", "body")
        sh.crossJoin(broadcast(Dedup.observedBucketWidth(sh, 16)))
          .withColumn("base", expr("simhash div CAST(pow(2, 32 - bw) AS BIGINT)"))
          .select(col("id"), col("simhash"), col("base"),
            explode(expr("concat(array(base), " +
              "transform(sequence(0, bw - 1), k -> base ^ CAST(pow(2, k) AS BIGINT)))"))
              .as("bucket"))
      },
      Seq("bucket"), identity,
      col("a.id") < col("b.id") &&
        ((bit_count(dd) <= 1 && col("a.bucket") === col("a.base")) ||
          (bit_count(dd) === 2 &&
            col("a.bucket").bitwiseXOR(col("a.base")) === dd.bitwiseAND(-dd))),
      Seq(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming")),
      (d, c) => Dedup.simhashCandidates(d, "id", "body", maxBucket = c))
    // a random corpus with one mutated near-copy per base document
    val rnd = new scala.util.Random(20261019L)
    val vocab = (0 until 40).map(i => s"w$i")
    val base = (0 until 60).map(_ => Vector.fill(12)(vocab(rnd.nextInt(40))))
    val random = (0 until 120).map { i =>
      val w = base(i % 60)
      val t = if (i < 60) w else w.updated(rnd.nextInt(12), "x" + rnd.nextInt(1000))
      (i.toLong, t.mkString(" "))
    }
    val clean = random.toDF("id", "body")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    for ((name, f) <- Seq("batch" -> batch, "incremental" -> incremental, "simhash" -> sim)) {
      // random corpus: every pair equal
      val keyed = rows(f.keyed(clean, Dedup.defaultMaxBandBucket))
      assert(keyed.nonEmpty, s"$name: the random corpus must yield candidates")
      assert(keyed == rows(reference(f, clean, Dedup.defaultMaxBandBucket)),
        s"$name: keyed pass differs from the reference on the random corpus")
      // planted over-cap bucket: cap + 1 identical documents, with the
      // cap at the random corpus's largest bucket, so only the planted
      // bucket goes over it — its pairs vanish, every other pair stays
      val cap = f.bucketed(clean).groupBy(f.keys.map(col): _*).count()
        .agg(max("count")).head.getLong(0).max(2L)
      val planted = (1000L to 1000L + cap).map(_ -> "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8")
      val flooded = (random ++ planted).toDF("id", "body")
      def touchesPlanted(r: String) = r.split(",").take(2).exists(_.toLong >= 1000L)
      val keyedCap = rows(f.keyed(flooded, cap))
      val keyedAll = rows(f.keyed(flooded, Dedup.defaultMaxBandBucket))
      assert(keyedCap == rows(reference(f, flooded, cap)),
        s"$name: keyed pass differs from the reference with the guard firing")
      assert(keyedAll.exists(touchesPlanted), s"$name: the planted flood must pair when uncapped")
      assert(keyedCap == keyedAll.filterNot(touchesPlanted),
        s"$name: the guard must drop the planted bucket's pairs and keep every other pair")
    }
  }

  test("Dedup.simhashCandidates emits each pair exactly once (canonical meeting)") {
    import spark.implicits._
    // identical docs share the base bucket AND every flip bucket —
    // bw + 1 meetings per pair; without the canonical-meeting predicate
    // each pair would leave the join once per meeting and need a
    // distinct (the r12 form's measured sf1 cost center). The
    // single-emission contract is what lets simhash() skip that
    // shuffle entirely.
    val d = (1L to 30L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "body")
    val cand = Dedup.simhashCandidates(d, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.length == 30 * 29 / 2, s"expected each pair once, got ${cand.length}")
    assert(cand.distinct.length == cand.length)
    // and pairs meeting only through FLIP buckets (bases differ in 1-2
    // bits) still surface exactly once: craft signatures via docs whose
    // brute-force hamming<=2 pairs straddle base buckets — covered by
    // the recall spec above; here pin the zero-distinct invariant on
    // the operator output itself
    assert(Dedup.simhash(d, "id", "body", maxHamming = 2).count() == 30 * 29 / 2)
  }

  test("injected graft_* functions reject wrong arity with a clean AnalysisException") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_simhash()").collect()
    }
    assert(e.getMessage.contains("graft_simhash") && e.getMessage.contains("1"),
      s"unexpected message: ${e.getMessage}")
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_cosine(array(1.0))").collect()
    }
    assert(e2.getMessage.contains("graft_cosine") && e2.getMessage.contains("2"))
  }

  test("QMedia.dhashBmp is a brightness-shift-invariant gradient signature") {
    import graft.queries.QMedia.{MediaRow, bmpBytes, dhashBmp}
    def hashOf(w: Int, gray: Array[Byte]): Long =
      dhashBmp(Iterator(MediaRow(1L, bmpBytes(w, gray)))).next().hsh
    // strict left-to-right brightness ramp → every right cell brighter
    // → all 56 gradient bits set
    val ramp = Array.tabulate(16 * 16)(i => ((i % 16) * 8).toByte)
    assert(hashOf(16, ramp) == (1L << 56) - 1)
    // uniform brightness shift preserves every cell DIFFERENCE → same
    // hash (the perceptual invariance dHash exists for)
    val shifted = ramp.map(b => ((b & 0xff) + 50).toByte)
    assert(hashOf(16, shifted) == hashOf(16, ramp))
    // flat image → no gradient anywhere → zero hash
    assert(hashOf(16, Array.fill(16 * 16)(77.toByte)) == 0L)
    // right-to-left ramp → no "brighter to the right" cell pair
    assert(hashOf(16, ramp.map(b => (120 - (b & 0xff)).toByte)) == 0L)
  }

  test("graft_kgrams matches the hex formulation bit-for-bit in both modes") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Seq("aa", "bb", "cc", "", "é∂", "漢字")
    val utf8 = (t: String) => t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val fixed = Seq(
      utf8("a b c a b c a b"),            // repeated grams → first positions
      utf8("x y"),                        // shorter than k=3 → NULL
      utf8("p q r s"),                    // exactly two 3-grams
      utf8(""),                           // empty text → 1 (empty) token
      utf8("t  u v w "),                  // consecutive + trailing spaces
      utf8("  lead é∂ 漢字 é∂ 漢字 é∂"),     // leading spaces + multibyte
      Array[Byte](0x61, -1, 0x20, 0x62, 0x20, -61, 0x20, 0x63, -30, -126, 0x20, 0x64),
      Array[Byte](-19, -96, -128, 0x20, 0x78, 0x20, -128, 0x79, 0x20, 0x7a)) // ill-formed UTF-8
    val random = (1 to 60).map(_ => utf8(
      Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // raw bytes → string keeps ill-formed sequences as they are
    val d = (fixed ++ random).zipWithIndex
      .map { case (b, i) => (i.toLong, b.map("%02x".format(_)).mkString) }
      .toDF("id", "hx").select(col("id"), unhex(col("hx")).cast("string").as("body"))
      .cache()
    val hex = udf((hi: Long, lo: Long) => f"$hi%016x$lo%016x")
    for (k <- Seq(1, 2, 3)) {
      val ref = hexGrams(d, "body", Seq("id"), k)
      def native(firstOnly: Boolean) = d
        .select(col("id"), explode(expr(s"graft_kgrams(body, $k, $firstOnly)")).as("z"))
        .select(col("id"), hex(col("z.hi"), col("z.lo")), col("z.pos"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      val rows = (df: DataFrame) =>
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq.sorted
      // every occurrence: the raw explode, in position order per doc
      val every = native(firstOnly = false)
      assert(every.sorted == rows(ref.select("id", "sh", "i")), s"every occurrence, k=$k")
      assert(every.groupBy(_._1).values.forall(g => g.map(_._3) == g.indices), s"k=$k")
      // first only: groupBy(id, gram) min(i), one entry per distinct
      // gram, sorted by unsigned (hi, lo) = hex order
      val first = native(firstOnly = true)
      assert(first.sorted == rows(ref.groupBy("id", "sh").agg(min("i"))), s"first only, k=$k")
      assert(first.groupBy(_._1).values.forall(g => g.map(_._2) == g.map(_._2).sorted.distinct))
      assert(first.size < every.size)
      // NULL exactly below k tokens
      val nulls = d.filter(expr(s"graft_kgrams(body, $k, true) IS NULL"))
        .select("id").as[Long].collect().toSet
      assert(nulls == d.filter(size(split(col("body"), " ")) < k)
        .select("id").as[Long].collect().toSet && (k < 3 || nulls.contains(1L)), s"k=$k")
    }
    d.unpersist()
  }

  test("BMP synth/decode round-trips the raster across every stride residue") {
    // widths 25..31 cover all 4-byte-stride paddings (0..3 pad bytes);
    // per-index pixel values make any bottom-up/offset mistake visible
    for (w <- 25 to 31) {
      val gray = Array.tabulate(w * 3 + 5)(i => ((i * 37 + 11) % 251).toByte)
      val bmp = graft.queries.QMedia.bmpBytes(w, gray)
      val stride = (3 * w + 3) / 4 * 4
      assert(bmp.length == 54 + 3 * stride, s"w=$w: wrong file size")
      assert(stride % 4 == 0 && stride >= 3 * w)
      val (dw, dh, out) = graft.queries.QMedia.decodeBmpGray(7L, bmp)
      assert(dw == w && dh == 3, s"w=$w: header geometry $dw x $dh")
      // trailing bytes beyond h*w are not encoded; the decoded raster
      // must equal the first 3 full rows in original top-down order
      assert(out.toSeq == gray.take(w * 3).toSeq, s"w=$w: raster mismatch")
    }
    // corrupted inputs fail loudly, not silently
    val good = graft.queries.QMedia.bmpBytes(26, Array.tabulate(52)(_.toByte))
    val notBmp = good.clone(); notBmp(0) = 'X'.toByte
    assertThrows[IllegalArgumentException] {
      graft.queries.QMedia.decodeBmpGray(1L, notBmp)
    }
    val truncated = java.util.Arrays.copyOf(good, good.length - 4)
    assertThrows[IllegalArgumentException] {
      graft.queries.QMedia.decodeBmpGray(2L, truncated)
    }
  }

  test("dedup/similarity operators return empty (not crash) on empty input") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String, String)].toDF("id", "grp", "body")
    val noVecs = Seq.empty[(Long, Int, Array[Float])].toDF("vid", "lbl", "vec")
    assert(Dedup.exactSummary(noDocs, "grp", "id", "body").count() == 0)
    assert(Dedup.minhashLsh(noDocs, "id", "body").count() == 0)
    assert(Dedup.simhash(noDocs, "id", "body").count() == 0)
    assert(Dedup.ngramJaccard(noDocs, "id", "body", blockCols = Seq("grp")).count() == 0)
    assert(Dedup.embeddingNearDup(noVecs, "vid", "vec", Seq("lbl"),
      threshold = 0.9, nList = 4, nProbe = 2).count() == 0)
    assert(Similarity.bruteTopK(noVecs, noVecs, "vid", "vec", k = 3).count() == 0)
    assert(Similarity.ivfTopK(noVecs, noVecs, "vid", "vec", k = 3,
      nList = 4, nProbe = 2).count() == 0)
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(noEdges, "a", "b").count() == 0)
    assert(TextOps.contamination(noDocs, noDocs, "id", "body").count() == 0)
    assert(TextOps.repetitionSignals(noDocs, "id", "body").count() == 0)
    assert(TextOps.robustLengthOutliers(noDocs, "grp", "id", "body").count() == 0)
    assert(graft.operators.Sampling.stratifiedSample(
      noDocs, "grp", "id", Map("x" -> 0.5), 0.1, 7L).count() == 0)
    assert(Similarity.scalarQuantError(noVecs, "vid", "vec").count() == 0)
  }

  test("TextOps.contamination flags only train docs sharing an eval n-gram") {
    val evalSet = docs((900L, "e", "a b c d e f"))
    val train = docs(
      (1L, "t", "z z a b c d e z z"),   // shares "a b c d e" AND "b c d e f"? no — f absent ⇒ 1 shared
      (2L, "t", "no overlap here at all six"),
      (3L, "t", "x a b c d e f y"))     // shares both eval 5-grams
    val got = TextOps.contamination(train, evalSet, "id", "body", ngram = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 2L))
  }

  test("TextOps.repetitionSignals computes hand-checked gram fractions") {
    // "x y x y x": bigrams [x y, y x, x y, y x] → top 2/4 = 0.5
    //              trigrams [x y x, y x y, x y x] → dup 2/3
    val d = docs((1L, "g", "x y x y x"), (2L, "g", "a b c d"), (3L, "g", "a b"))
    val got = TextOps.repetitionSignals(d, "id", "body", carry = Seq("grp"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    // doc 3 (< 3 tokens) is excluded; doc 2 has no repeats at all
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got(0)._3 == 0.5 && got(0)._4 == 2.0 / 3.0)
    assert(got(1)._3 == 1.0 / 3.0 && got(1)._4 == 0.0)
    assert(got.forall(_._2 == "g"))
  }

  test("Sampling.stratifiedSample: rate-1 keeps all, rate-0 drops all, invariant to layout") {
    import spark.implicits._
    val d = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else "C"))
      .toDF("k", "s")
    val rates = Map("A" -> 1.0, "B" -> 0.0)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.stratifiedSample(df, "s", "k", rates, 0.4, seed = 99L)
        .select("k").as[Long].collect().toSet
    val got = run(d)
    assert((3L to 300L by 3).forall(got.contains))         // A: rate 1.0
    assert(!got.exists(k => k % 3 == 1))                   // B: rate 0.0
    val cKept = got.count(k => k % 3 == 2)
    assert(cKept > 10 && cKept < 90, s"default-rate stratum kept $cKept/100")
    assert(run(d.repartition(7)) == got)                   // layout-invariant
  }

  test("Similarity.scalarQuantError bounds reconstruction error by half a scale step") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(2.0f, 0.5f, -1.0f)),
      (2L, Array(-2.0f, 1.0f, 0.25f)),
      (3L, Array(0.5f, -0.75f, 1.0f))).toDF("vid", "emb")
    val out = Similarity.scalarQuantError(vecs, "vid", "emb")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 3)
    // per-dim scale = amax/127: errors are bounded by scale/2 per element
    val maxScale = 2.0 / 127.0
    out.foreach { case (_, mse, mae, cosr) =>
      assert(mae <= maxScale / 2 + 1e-12)
      assert(mse <= maxScale * maxScale / 4 + 1e-12)
      assert(cosr > 0.999 && cosr <= 1.0 + 1e-12)
    }
    // partition-layout invariance (stable sums): bit-identical outputs
    val again = Similarity.scalarQuantError(vecs.repartition(5), "vid", "emb")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("TextOps.vocabStats computes hand-checked vocabulary statistics") {
    // group g: tokens [a a b c] ⇒ vocab 3, total 4, hapax {b, c} = 2
    val d = docs((1L, "g", "a a b"), (2L, "g", "c"), (3L, "h", "z z"))
    val got = TextOps.vocabStats(d, "grp", "body")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(got == Seq(("g", 3L, 4L, 2L, 0.75), ("h", 1L, 2L, 0L, 0.5)))
  }

  test("TextOps.robustLengthOutliers computes hand-checked median/MAD and flags") {
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    // lengths 10,10,12,14,100 → median 12; dv 2,2,0,2,88 → MAD 2;
    // outliers: dv > 3·2 ⇒ only the 100-token doc
    val d = docs(
      (1L, "g", words(10)), (2L, "g", words(10)), (3L, "g", words(12)),
      (4L, "g", words(14)), (5L, "g", words(100)))
    val got = TextOps.robustLengthOutliers(d, "grp", "id", "body")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("g", 5L, 12L, 2L, 1L)))
  }

  test("TextOps.bpeEncoded/bpeTokenCount/bpePieces match a reference Sennrich apply") {
    import spark.implicits._
    // reference apply: seed chars, run each merge left-to-right
    // non-overlapping, in order
    def refBpe(word: String, merges: Seq[(String, String)]): Seq[String] =
      merges.foldLeft(word.map(_.toString).toList) { case (syms, (x, y)) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == x && syms(i + 1) == y) {
            out += x + y; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.toList
      }
    val merges = Seq("e" -> "r", "a" -> "t", "at" -> "c", "atc" -> "h",
      "m" -> "er", "er" -> "ge")
    val texts = Seq("merge batch", "matcher merger", "a", "er er er",
      "mmerge", "xyz", "batch batch hatch")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = TextOps.bpePieces(d, "id", "t", merges)
      .orderBy("id", "pos")
      .collect().map(r => (r.getLong(0), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = t.split(" ").toSeq.flatMap(w => refBpe(w, merges))
      assert(got(i.toLong) == want, s"doc $i '$t': ${got(i.toLong)} != $want")
    }
    // token count column agrees with the piece rows, and empty/NULL is 0
    val cnt = d.select(col("id"),
        TextOps.bpeTokenCount(col("t"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(cnt(i.toLong) == t.split(" ").map(w => refBpe(w, merges).size).sum)
    }
    val edge = Seq((0L, ""), (1L, null.asInstanceOf[String])).toDF("id", "t")
      .select(TextOps.bpeTokenCount(col("t"), merges).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(edge == Seq(0L, 0L))
    // delimiter-unsafe merges are rejected
    intercept[IllegalArgumentException] {
      TextOps.bpeEncoded(col("t"), Seq("a " -> "b"))
    }
  }

  test("Similarity.pqCosError: all-codeword corpus reconstructs perfectly; layout-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 6L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vid", "emb")
    // kCodes >= n: every vector IS a codeword, each subspace's best
    // code is its own subvector (cosine 1), so reconstruction is exact
    val perfect = Similarity.pqCosError(vecs, "vid", "emb",
        dim = 16, m = 4, kCodes = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(perfect.size == 6 && perfect.values.forall(c => math.abs(c - 1.0) < 1e-12),
      s"got $perfect")
    // fewer codes: every fidelity is a valid cosine (the two codeword
    // sources still hit 1 exactly; the rest land below), and the result
    // is bit-identical under any partitioning
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqCosError(df, "vid", "emb", dim = 16, m = 4, kCodes = 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = run(vecs)
    assert(got.values.forall(c => c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12))
    assert(got.values.count(_ < 0.999999) >= 3, s"quantization suspiciously lossless: $got")
    assert(run(vecs.repartition(5)) == got)
  }

  test("graft_simhash is bit-identical to the explode+groupBy formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Seq("aa", "bb", "cc", "dd", "", "é∂", "zz")
    val texts = (1L to 40L).map { i =>
      i -> Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ (98L -> "") :+ (99L -> "x  y   z") // empty doc + consecutive spaces
    val d = texts.toDF("id", "body")
    // reference: the old plan-level formulation
    val th = d.select(col("id"), explode(split(col("body"), " ")).as("t"))
      .withColumn("v",
        expr("conv(substring(md5(encode(t, 'UTF-8')), 1, 8), 16, 10)").cast("long"))
    val bitSums = (0 until 32).map { b =>
      sum(expr(s"CASE WHEN (v >> ${31 - b}) & 1 = 1 THEN 1 ELSE -1 END")).as(s"b$b")
    }
    val want = th.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 32).map(b => when(col(s"b$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.simhashSignatures(d, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("graft_minhash_sig is bit-identical to the explode+groupBy formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Seq("aa", "bb", "cc", "dd", "", "é∂") // incl. empty + multibyte
    val texts = (1L to 40L).map { i =>
      i -> Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ (99L -> "x  y   z") // consecutive spaces ⇒ empty tokens
    val d = texts.toDF("id", "body")
    for ((n, k) <- Seq((3, 12), (2, 5), (1, 1))) {
      // reference: the old plan-level formulation; the set is the
      // shingles' distinct hex md5s, sorted (string order = unsigned
      // digest order)
      val ex = hexGrams(d, "body", Seq("id"), n)
      val h1 = pmod(expr("conv(substring(sh, 1, 8), 16, 10)").cast("long"),
        lit(Dedup.mixM))
      val mhCols = (0 until k).map(i =>
        min(pmod(col("h1") * lit(Dedup.mixA(i)) + lit(Dedup.mixB(i)),
          lit(Dedup.mixM))).as(s"mh$i"))
      val want = ex.withColumn("h1", h1).groupBy("id")
        .agg(sort_array(collect_set(col("sh"))).as("s"), mhCols: _*)
        .collect().map(r => (r.getLong(0), r.getSeq[String](1),
          (0 until k).map(i => r.getLong(2 + i)))).sortBy(_._1).toSeq
      // the emitted set is 2n longs: each (hi, lo) pair, spelled as two
      // zero-padded 16-digit halves, must be one md5 — in the same order
      def hexes(r: org.apache.spark.sql.Row, i: Int) = {
        val longs = r.getSeq[Long](i)
        assert(longs.size % 2 == 0, s"odd-length set $longs")
        longs.grouped(2).map { case Seq(hi, lo) => f"$hi%016x$lo%016x" }.toSeq
      }
      val got = d.select(col("id"),
          expr(s"graft_minhash_sig(body, $n, $k)").as("ms"))
        .filter(col("ms").isNotNull)
        .select(col("id"), col("ms.shs"), col("ms.sig"))
        .collect().map(r => (r.getLong(0), hexes(r, 1),
          r.getSeq[Long](2))).sortBy(_._1).toSeq
      assert(got == want, s"(ngram=$n nHash=$k)")
      // the emitted set is sorted + distinct as emitted (the verify
      // kernel's input contract)
      assert(got.forall { case (_, s, _) => s == s.sorted && s.distinct == s })
    }
  }

  test("KMinDistinctAgg keeps the k smallest distinct hashes, invariant to layout") {
    import spark.implicits._
    // the KMV sketch: distinct hashes, then graft_top_k's k least
    def kmv(df: org.apache.spark.sql.DataFrame, k: org.apache.spark.sql.Column) =
      df.distinct().agg(call_function("graft_top_k", col("h"), k).as("ks"))
    // values with planned duplicates; k-min of the DISTINCT set
    val d = Seq(9L, 3L, 7L, 3L, 1L, 9L, 5L, 1L, 8L).toDF("h")
    def run(df: org.apache.spark.sql.DataFrame) =
      kmv(df, lit(4)).select("ks").as[Seq[Long]].head()
    assert(run(d) == Seq(1L, 3L, 5L, 7L))
    assert(run(d.repartition(5)) == Seq(1L, 3L, 5L, 7L))
    // fewer than k distinct values: the sketch IS the exact set
    assert(run(Seq(2L, 2L, 6L).toDF("h")) == Seq(2L, 6L))
    // k < 1 fails at analysis, not inside an executor
    intercept[IllegalArgumentException](kmv(d, lit(0)))
  }

  test("TextOps.languageId honors a custom marker set and tie-break order") {
    val d = docs((1L, "?", "xx yy xx"), (2L, "?", "zz zz zz"))
    val out = TextOps.languageId(d, "body",
        Seq("first" -> Seq("xx"), "second" -> Seq("zz"), "third" -> Seq("xx")))
      .select("id", "predicted")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "first")  // ties (first vs third) break to the earlier marker
    assert(out(2L) == "second")
  }

  test("TextOps.bm25Rank matches a hand-computed score and handles adjacent repeats") {
    // 3 docs, term "x": tf via array counting must see BOTH adjacent
    // repeats in doc 1 (the replace-trick failure case)
    val d = docs(
      (1L, "g", "x x y z"),      // tf=2, dl=4
      (2L, "g", "x y y y"),      // tf=1, dl=4
      (3L, "g", "y y z z"))      // tf=0, dl=4
    val out = TextOps.bm25Rank(d, "id", "body", terms = Seq("x"),
        k1 = 1.2, b = 0.75, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // N=3, df=2 (docs 1 and 2), avgdl=4, dl/avgdl=1 ⇒ denom = tf + 1.2
    // idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6)
    val idf = math.log((3.0 - 2.0 + 0.5) / (2.0 + 0.5) + 1.0)
    def score(tf: Double) =
      math.rint(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * 1.0)) * 1e4) / 1e4
    assert(out.toSeq == Seq(
      (1L, 1L, score(2)), (2L, 2L, score(1)), (3L, 3L, 0.0)))
  }

  test("Similarity.kmeans separates two planted directions and is partition-invariant") {
    import spark.implicits._
    // two tight cones around orthogonal axes — any sane 2-means lands
    // one cell per cone regardless of which members seed the centroids
    val rows = (0L until 20L).map { i =>
      val eps = 0.01f * (i % 5)
      if (i % 2 == 0) (i, Array(1f, eps, 0f, 0f)) else (i, Array(eps, 1f, 0f, 0f))
    }
    def run(parts: Int) =
      Similarity.kmeans(rows.toDF("vid", "vec").repartition(parts),
          "vid", "vec", k = 2, iters = 2, seed = 99L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(4)
    val evenCells = (0L until 20L by 2).map(got).toSet
    val oddCells = (1L until 20L by 2).map(got).toSet
    assert(evenCells.size == 1 && oddCells.size == 1 && evenCells != oddCells)
    assert(run(1) == got) // partitioning must not change any label
  }

  test("TextOps.qualityFilter labels each rule and first-failing-rule wins") {
    val d = docs(
      (1L, "g", "the quick brown fox jumps over something today fine ok"), // kept (10 tok, min=5)
      (2L, "g", "tiny doc"),                                   // too_short (also no stopwords: earlier rule wins)
      (3L, "g", "a a a a a a a a a a"),                        // words_too_short? mean_wlen=1 < 2 — fires before repetition
      (4L, "g", "alpha beta gamma delta epsilon zeta eta theta iota kappa")) // no_stopwords
    val out = TextOps.qualityFilter(d, "body", minTokens = 5,
        minDistinctRatio = 0.5)
      .select("id", "keep", "drop_reason")
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out(1L).isEmpty)
    assert(out(2L).contains("too_short"))
    assert(out(3L).contains("words_too_short"))
    assert(out(4L).contains("no_stopwords"))
  }

  test("TextOps.fingerprint with bigram shingles counts tokens-1") {
    val d = docs((7L, "g", "a b c d"))
    val r = TextOps.fingerprint(d, "id", "body", n = 2).collect()(0)
    assert(r.getLong(1) == 3) // 4 tokens -> 3 bigrams
    // the fingerprint is the smallest lowercase-hex shingle md5
    val minMd5 = hexGrams(d, "body", Seq("id"), 2)
      .agg(min(col("sh"))).head().getString(0)
    assert(r.getString(2) == minMd5)
    // both halves keep their leading zeros and sign-bit digits: over
    // many documents every fingerprint is the 32-digit minimum md5
    val many = docs((1 to 300).map(i => (i.toLong, "g", s"w$i x${i % 7} y z")): _*)
    val want = hexGrams(many, "body", Seq("id"), 2).groupBy("id")
      .agg(min(col("sh"))).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val fps = TextOps.fingerprint(many, "id", "body", n = 2).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(fps == want)
    assert(fps.values.exists(_.startsWith("0")) && fps.values.exists(_.charAt(16) == '0'))
    assert(fps.values.exists(h => Integer.parseInt(h.substring(0, 1), 16) >= 8) &&
      fps.values.exists(h => Integer.parseInt(h.substring(16, 17), 16) >= 8))
  }

  test("TextOps.patternFlags counts per pattern and NULL text stays NULL") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail me at a.b@example.com or c@d.org now"),
      (2L, "no sensitive content here"),
      (3L, null: String)).toDF("id", "body")
    val out = TextOps.patternFlags(d, "body", Seq(
        "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "now_term" -> "\\bnow\\b"))
      .select("id", "n_email", "n_now_term", "flagged")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out(1L) == (Some(2L), Some(1L), Some(true)))
    assert(out(2L) == (Some(0L), Some(0L), Some(false)))
    assert(out(3L) == (None, None, None)) // three-valued logic rides through
  }

  test("Packing.packSequences reproduces the (bucket, id) global cumsum") {
    import spark.implicits._
    import graft.operators.Packing
    // 30 docs with token counts 1..30; layout must equal the serial
    // cumsum over the hash-bucketed order regardless of partitioning.
    val rows = (1L to 30L).map(i => (i, ("w " * i.toInt).trim))
    val d = rows.toDF("id", "body").repartition(7)
    val out = Packing.packSequences(d, "id", size(split(col("body"), " ")),
        seqLen = 10L, numBuckets = 3, seed = 11L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val byId = out.map(t => t._1 -> t).toMap
    // serial reference layout
    val m = 2147483648L
    def hrand(k: Long) = (((k % m + m) % m) * 1103515245L + 11L * 12345L + 104729L) % m
    def bkt(k: Long) = hrand(k) * 3 / m
    var off = 0L
    for ((id, body) <- rows.sortBy { case (id, _) => (bkt(id), id) }) {
      val n = body.split(" ").length.toLong
      val (_, nTok, b, start, sf, sl) = byId(id)
      assert(nTok == n && b == bkt(id) && start == off,
        s"doc $id: got ($nTok,$b,$start) want ($n,${bkt(id)},$off)")
      assert(sf == start / 10 && sl == (start + n - 1) / 10)
      off += n
    }
    // boundary-crossing docs exist in this layout (counts up to 30 > 10)
    assert(out.exists(t => t._6 > t._5))
  }

  test("Packing.tokenBudgetPrefix equals the serial greedy prefix over (score DESC, id)") {
    import spark.implicits._
    import graft.operators.Packing
    // 40 docs, scores deliberately COLLIDING across band boundaries
    // (0.05 steps against bandWidth 0.1) and with exact ties broken by
    // id; token counts vary so the budget cut lands mid-band.
    val rows = (1L to 40L).map(i => (i, 0.05 * (i % 13), 3L + i % 7))
    val d = rows.toDF("id", "score", "nt").repartition(5)
    val out = Packing.tokenBudgetPrefix(d, "id", "score", col("nt"),
        budget = 80L, bandWidth = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    // serial reference: cumsum over (score DESC, id ASC), keep <= 80
    var cum = 0L
    val want = rows.sortBy { case (id, sc, _) => (-sc, id) }
      .map { case (id, _, nt) => cum += nt; (id, cum) }
      .takeWhile(_._2 <= 80L)
    assert(out.toSeq == want, s"got ${out.toSeq} want $want")
    // the cut really is a strict prefix: nothing after the first overflow
    assert(want.size < rows.size)
  }

  test("Dedup.minhashLshIncremental: all-new equals minhashLsh; new-old pairs surface once") {
    import spark.implicits._
    // 10-token shared prefix -> pairwise J = 8/10; P(some band of 6
    // collides) > 0.99 and fully deterministic given the fixed text
    val pre = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = Seq(
      (1L, false, s"$pre p1"),                       // old
      (2L, true, s"$pre p2"),                        // near-dup of 1
      (3L, true, s"$pre p3"),                        // near-dup of 1 and 2
      (4L, false, "one two three four five six"),
      (5L, true, "seven eight nine ten eleven twelve"))
    val d = near.toDF("id", "is_new", "body")
    val inc = Dedup.minhashLshIncremental(d, "id", "body", "is_new",
        nHash = 12, bandRows = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // every pair has a NEW left endpoint; old partners appear any-order
    assert(inc.forall { case (n, _, _) => Set(2L, 3L, 5L).contains(n) })
    assert(inc.contains((2L, 1L, false)) && inc.contains((3L, 1L, false)))
    assert(inc.contains((2L, 3L, true)))          // new-new pair once, a < b
    assert(!inc.exists(p => p._1 == 5L || p._2 == 5L)) // no shared shingles
    // with EVERYTHING new, the pair set equals the batch operator's
    val allNew = Dedup.minhashLshIncremental(
        d.withColumn("is_new", lit(true)), "id", "body", "is_new",
        nHash = 12, bandRows = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.minhashLsh(d, "id", "body",
        nHash = 12, bandRows = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(allNew == batch, s"incremental(all-new) $allNew != batch $batch")
  }

  test("Similarity.pqAdcTopK: ADC score is EXACT for candidates whose codeword is themselves") {
    import spark.implicits._
    val dim = 8
    def rng(seed: Long): Iterator[Double] = Iterator.iterate(seed * 2862933555777941757L + 3037000493L)(
      s => s * 2862933555777941757L + 3037000493L)
      .map(s => (s >>> 33).toDouble / (1L << 31).toDouble - 0.5)
    val rows = (0 until 12).map(i => (i.toLong, rng(i + 1).take(dim).toArray))
    val d = rows.toDF("vid", "vec")
    // iters = 0 and kCodes = corpus size: the seeded codebook contains
    // EVERY vector's own sub-vectors, so each candidate's nearest
    // codeword is itself, the reconstruction is lossless, and the ADC
    // cosine must equal the exact cosine (both rounded 6dp).
    val q = d.filter(col("vid") < 2)
    val adc = Similarity.pqAdcTopK(d, q, "vid", "vec",
        k = 11, dim = dim, m = 2, kCodes = 12, seed = 5L, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val byId = rows.toMap
    assert(adc.size == 2 * 11)
    adc.foreach { case ((qid, cid), c) =>
      val exact = BigDecimal(cos(byId(qid), byId(cid)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(c - exact) < 2e-6,
        s"ADC($qid,$cid)=$c != exact $exact under a lossless codebook")
    }
  }

  test("Similarity.ivfPqTopK agrees with the full ADC scan on the probed candidate set") {
    import spark.implicits._
    val dim = 8
    def rng(seed: Long): Iterator[Double] = Iterator.iterate(seed * 2862933555777941757L + 3037000493L)(
      s => s * 2862933555777941757L + 3037000493L)
      .map(s => (s >>> 33).toDouble / (1L << 31).toDouble - 0.5)
    val d = (0 until 40).map(i => (i.toLong, rng(i + 1).take(dim).toArray)).toDF("vid", "vec")
    val q = d.filter(col("vid") < 3)
    // k larger than the corpus: both calls return their FULL scored
    // sets, so the composition invariants are checked pair-by-pair
    val full = Similarity.pqAdcTopK(d, q, "vid", "vec",
        k = 100, dim = dim, m = 2, kCodes = 6, seed = 5L, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivfadc = Similarity.ivfPqTopK(d, q, "vid", "vec",
        k = 100, nList = 4, nProbe = 2, ivfSeed = 11L, dim = dim, m = 2,
        kCodes = 6, pqSeed = 5L, iters = 1, numVectors = Some(40L))
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(d, q, "vid", "vec",
        k = 100, nList = 4, nProbe = 2, seed = 11L, numVectors = Some(40L))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // 1) candidate restriction IS the IVF candidate set (same coarse
    //    quantizer, same probes); 2) every probed pair scores exactly
    //    what the unrestricted ADC scan gives it (shared code path)
    assert(ivfadc.keySet == ivf, s"probed pairs ${ivfadc.keySet} != IVF candidates $ivf")
    assert(ivfadc.nonEmpty && ivfadc.size < full.size)
    ivfadc.foreach { case (pair, c) =>
      assert(full(pair) == c, s"ADC score mismatch for $pair: $c vs ${full(pair)}")
    }
  }

  test("Similarity.ivfTopK probes from the query vectors: out-of-corpus queries at nProbe = nList equal bruteTopK") {
    import spark.implicits._
    val dim = 8
    def rng(seed: Long): Iterator[Double] = Iterator.iterate(seed * 2862933555777941757L + 3037000493L)(
      s => s * 2862933555777941757L + 3037000493L)
      .map(s => (s >>> 33).toDouble / (1L << 31).toDouble - 0.5)
    val d = (0 until 300).map(i => (i.toLong, rng(i + 1).take(dim).toArray)).toDF("vid", "vec")
    // query ids outside the corpus, vectors of their own
    val q = (0 until 5).map(i => (1000L + i, rng(500 + i).take(dim).toArray)).toDF("vid", "vec")
    // 4 cells (autoNList(300, 4, 256)), every one probed: the IVF
    // candidate set is the whole corpus, so the answer is brute force's
    val ivf = Similarity.ivfTopK(d, q, "vid", "vec", k = 3, nList = 4, nProbe = 4,
        seed = 11L, numVectors = Some(300L)).collect().toSet
    val brute = Similarity.bruteTopK(d, q, "vid", "vec", k = 3).collect().toSet
    assert(brute.size == 15)
    assert(ivf == brute, s"ivf ${ivf -- brute} / brute ${brute -- ivf}")
  }

  test("IVF and embedding near-dup entry points refuse nProbe < 1, naming the value") {
    import spark.implicits._
    val noVecs = Seq.empty[(Long, Int, Array[Float])].toDF("vid", "lbl", "vec")
    for (np <- Seq(0, -1)) {
      val calls: Seq[() => Any] = Seq(
        () => Similarity.ivfTopK(noVecs, noVecs, "vid", "vec", nProbe = np),
        () => Similarity.ivfPqTopK(noVecs, noVecs, "vid", "vec", nProbe = np, dim = 8, m = 2),
        () => Similarity.searchIvfPqIndex("/nonexistent-index", noVecs, "vid", "vec", nProbe = np),
        () => Dedup.embeddingNearDup(noVecs, "vid", "vec", Seq("lbl"), threshold = 0.9, nProbe = np),
        () => Dedup.embeddingNearDupCandidates(noVecs, "vid", "vec", Seq("lbl"), nProbe = np))
      calls.foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(s"nProbe >= 1, got $np"), e.getMessage)
      }
    }
  }

  test("Dedup.cellPairs over a k-means assignment equals a brute (cell, a.id < b.id) join at tau") {
    import spark.implicits._
    val dim = 8
    def rng(seed: Long): Iterator[Double] = Iterator.iterate(seed * 2862933555777941757L + 3037000493L)(
      s => s * 2862933555777941757L + 3037000493L)
      .map(s => (s >>> 33).toDouble / (1L << 31).toDouble - 0.5)
    // 60 bases plus a lightly perturbed near-dup of every 4th
    val base = (0 until 60).map(i => (i.toLong, rng(i + 1).take(dim).toArray))
    val dups = base.filter(_._1 % 4 == 0).map { case (id, v) =>
      (id + 100, v.zip(rng(id + 1000).take(dim)).map { case (a, b) => a + 0.001 * b })
    }
    val rows = (base ++ dups).map { case (id, v) => (id, v.map(_.toFloat)) }
    val e = rows.toDF("vid", "v")
    val asg = Similarity.kmeans(e, "vid", "v", k = 4, iters = 2, seed = 4242L)
      .select(col("vid"), col("cell"))
    val tau = 0.4
    // the form dedup_semantic runs: (vid, cell, v) through the shared join
    val found = Dedup.cellPairs(asg.join(e, "vid"), "vid", "v")
      .filter(col("c") >= tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    val cell = asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vec = rows.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val expected = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && cell(ia) == cell(ib) && cos(va, vb) >= tau
    } yield (ia, ib)).toSet
    assert(cell.values.toSet.size > 1, "the assignment must split the corpus")
    assert(expected.nonEmpty)
    assert(found.length == found.map(_._1).toSet.size, "a single-cell assignment emits each pair once")
    assert(found.map(_._1).toSet == expected,
      s"missed ${expected -- found.map(_._1)} / spurious ${found.map(_._1).toSet -- expected}")
    found.foreach { case ((a, b), c) =>
      assert(math.abs(c - cos(vec(a), vec(b))) < 1e-12, s"cosine of ($a, $b): $c")
    }
  }

  test("Classifier.logisticScore: separates a separable slice, partition-invariant") {
    import spark.implicits._
    // y = 1 iff x1 is high; other features carry mild noise-free
    // structure. 3 Newton steps must push every y=1 score above every
    // y=0 score on this linearly separable set.
    val rows = (0 until 40).map { i =>
      val y = if (i % 2 == 0) 1.0 else 0.0
      val x1 = if (y > 0.5) 0.8 + 0.001 * i else 0.2 + 0.001 * i
      (i.toLong, y, x1, 0.5, 0.3 + 0.002 * i, 0.7)
    }
    val f = rows.toDF("doc_id", "y", "x1", "x2", "x3", "x4")
    def run(df: org.apache.spark.sql.DataFrame) = graft.operators.Classifier
      .logisticScore(df, "doc_id", Seq("x1", "x2", "x3", "x4"), "y",
        carry = Seq("y"), iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getBoolean(3))).toMap
    val out = run(f)
    assert(out.size == 40)
    val pos = out.values.filter(_._1 > 0.5).map(_._2)
    val neg = out.values.filter(_._1 < 0.5).map(_._2)
    assert(pos.min > neg.max, s"not separated: pos min ${pos.min} <= neg max ${neg.max}")
    // keep is score >= 0.5 on the ROUNDED score
    assert(out.values.forall { case (_, s, k) => k == (s >= 0.5) })
    // decimal-summed moments => identical betas and scores at any
    // partition count (the golden-fixture requirement)
    val out7 = run(f.repartition(7))
    assert(out7 == out)
  }

  test("Similarity.contrastivePairs: label-split ranks, negatives are the wrong-label top") {
    import spark.implicits._
    // query q (label 0) plus: two same-label vectors, of which p1 is
    // nearly parallel and p2 orthogonal-ish; two wrong-label vectors,
    // of which n1 is MORE similar than p2 (the hard negative the
    // operator exists to surface) and n2 is anti-parallel.
    def vec(x: Double, y: Double) =
      Array.tabulate(64)(i => if (i == 0) x else if (i == 1) y else 0.0)
    val vs = Seq(
      (0L, vec(1.0, 0.0), 0),  // query
      (1L, vec(0.9, 0.1), 0),  // p1: cos ~0.994
      (2L, vec(0.1, 0.9), 0),  // p2: cos ~0.110
      (3L, vec(0.8, 0.3), 1),  // n1: cos ~0.936 — harder than p2
      (4L, vec(-1.0, 0.0), 1)  // n2: cos -1
    ).toDF("vec_id", "v", "label")
    val out = graft.operators.Similarity
      .contrastivePairs(vs, vs.filter($"vec_id" === 0L), "vec_id", "v", "label",
        kPos = 2, kNeg = 2)
      .collect().map(r => (r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    assert(out.size == 4)
    assert(out(("pos", 1L))._1 == 1L && out(("pos", 2L))._1 == 2L)
    assert(out(("neg", 1L))._1 == 3L && out(("neg", 2L))._1 == 4L)
    // the hard negative outscores the weak positive — the mining signal
    assert(out(("neg", 1L))._2 > out(("pos", 2L))._2)
    // ranking is within-kind: kinds never steal each other's slots
    assert(out.keys.count(_._1 == "pos") == 2 && out.keys.count(_._1 == "neg") == 2)
  }

  test("TextOps.rrfFuse: absent legs contribute 0, both-leg docs outrank single-leg") {
    import spark.implicits._
    // lex top-3 and sem top-3 overlap only on doc 10
    val lex = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("doc_id", "rank")
    val sem = Seq((10L, 3L), (20L, 1L), (21L, 2L)).toDF("doc_id", "rank")
    val out = graft.operators.TextOps
      .rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id", "rank", k = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(out.length == 5)
    // doc 10 appears in both legs -> highest fused score, rank 1
    val first = out.find(_._1 == 1L).get
    assert(first._2 == 10L && first._4 == Some(1L) && first._5 == Some(3L))
    assert(math.abs(first._3 - math.rint((1.0 / 61 + 1.0 / 63) * 1e6) / 1e6) < 1e-9)
    // single-leg docs carry exactly their one reciprocal term
    val d20 = out.find(_._2 == 20L).get
    assert(d20._4 == None && d20._5 == Some(1L))
    assert(math.abs(d20._3 - math.rint(1.0 / 61 * 1e6) / 1e6) < 1e-9)
    // fused scores are non-increasing in rank; ties broken by doc_id
    assert(out.sortBy(_._1).toSeq.sliding(2).forall { case Seq(a, b) =>
      a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
    case _ => true })
  }

  test("TextOps.perplexityPrune: per-domain terciles, value-tied docs share a bucket") {
    import spark.implicits._
    // Domain A: 6 docs spanning repetitive (low ppl) to shuffled-rare
    // (high ppl) under the corpus bigram LM; domain B: 3 docs. Cuts
    // must be computed per domain, so B's docs bucket against B's own
    // tercile boundaries even though all its scores differ from A's.
    val docs = Seq(
      ("a1", "A", "the cat sat on the mat the cat sat on the mat"),
      ("a2", "A", "the cat sat on the mat the cat sat on the rug"),
      ("a3", "A", "the dog sat on the mat near the cat"),
      ("a4", "A", "a dog ran past the rug and the mat"),
      ("a5", "A", "rare words appear here unlike anything else"),
      ("a6", "A", "zq xv jk wm unique tokens never repeated"),
      ("b1", "B", "the cat sat on the mat the cat sat"),
      ("b2", "B", "a dog ran past the rug"),
      ("b3", "B", "totally novel phrasing nobody uses")
    ).toDF("doc_id", "source", "text")
    val res = graft.operators.TextOps
      .perplexityPrune(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getDouble(3), r.getString(4), r.getBoolean(5))).toMap
    assert(res.size == 9)
    // per-domain tercile counts: 6 docs -> 2/2/2, 3 docs -> 1/1/1
    // (score ties would merge buckets; these corpora have distinct scores)
    for ((dom, exp) <- Seq("A" -> 2, "B" -> 1)) {
      val buckets = res.values.toSeq.filter(_._1 == dom).groupBy(_._3)
      assert(buckets.keySet == Set("head", "middle", "tail"),
        s"$dom buckets: ${buckets.keySet}")
      assert(buckets.values.forall(_.size == exp), s"$dom sizes uneven")
      // ordering: every head ppl <= every middle ppl <= every tail ppl
      val h = buckets("head").map(_._2).max
      val m = buckets("middle").map(_._2)
      val t = buckets("tail").map(_._2).min
      assert(h <= m.min && m.max <= t, s"$dom bucket order violated")
    }
    // keep flags exactly the non-tail buckets
    assert(res.values.forall { case (_, _, b, k) => k == (b != "tail") })
  }

  test("Sampling.epochSchedule: caps small domains, reports shortfall in realized weight") {
    import spark.implicits._
    // one big and one tiny domain; tau=0.5 pushes weight toward the
    // tiny one, and a 3x budget forces it far past the 4-epoch cap
    val d = Seq(("big", 90000L), ("tiny", 100L)).flatMap { case (s, n) =>
      Seq((s, n)) }.toDF("source", "n")
    val out = graft.operators.Sampling.epochSchedule(d, "source", col("n"),
        temperature = 0.5, budgetMult = 3.0, maxEpochs = 4.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getDouble(4), r.getLong(5), r.getBoolean(6),
          r.getDouble(7))).toMap
    val (bn, bTarget, bEpochs, bServed, bCapped, bw) = out("big")
    val (tn, tTarget, tEpochs, tServed, tCapped, tw) = out("tiny")
    assert(bn == 90000L && tn == 100L)
    // tiny domain: target far beyond 4 epochs -> capped at 4x tokens
    assert(tCapped && tServed == 400L && tTarget > 400L && tEpochs > 4.0)
    // big domain: target under the cap -> served in full
    assert(!bCapped && bServed == bTarget)
    assert(math.abs(bEpochs - bTarget.toDouble / bn) < 1e-6)
    // realized weights renormalize over what was actually served
    assert(math.abs(bw + tw - 1.0) < 1e-5 && bw > 0.99)
  }

  test("Sampling.temperatureRates: tau=1 is natural proportions; lower tau flattens") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = Seq(("a", 300L), ("b", 100L)).toDF("dom", "nt")
    val nat = Sampling.temperatureRates(d, "dom", col("nt"),
        temperature = 1.0, budgetFrac = 0.5)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(nat("a") == (0.75, 0.5) && nat("b") == (0.25, 0.5)) // exact at tau=1
    val flat = Sampling.temperatureRates(d, "dom", col("nt"),
        temperature = 0.5, budgetFrac = 0.5)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(flat("a")._1 < 0.75 && flat("a")._1 > 0.5)  // flattened toward uniform
    assert(flat("b")._2 > nat("b")._2)                 // small domain upweighted
    val clip = Sampling.temperatureRates(d, "dom", col("nt"),
        temperature = 0.1, budgetFrac = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(clip("b") == 1.0)                           // rate clips at 1
  }

  test("TextOps.unigramLogprob matches the hand-computed corpus model") {
    import spark.implicits._
    val d = Seq((1L, "a a"), (2L, "a b"), (3L, null: String)).toDF("id", "body")
    val out = TextOps.unigramLogprob(d, "id", "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // tokens: a x3, b x1, N=4; -ln(.75)->0.287682, -ln(.25)->1.386294
    assert(out(1L) == (2L, 0.287682))
    assert(out(2L) == (2L, (0.287682 + 1.386294) / 2)) // = 0.836988 exactly at 6dp
    assert(!out.contains(3L)) // NULL text is excluded, not scored
  }

  test("Sampling.domainCap keeps the top-cap per domain with (score DESC, id) ranks") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = Seq(
      ("web", 1L, 0.9), ("web", 2L, 0.5), ("web", 3L, 0.9), ("web", 4L, 0.1),
      ("books", 5L, 0.2)).toDF("dom", "id", "sc")
    val out = Sampling.domainCap(d, "dom", "id", col("sc"), cap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out.size == 3)
    assert(out(("web", 1L)) == ((1L, 0.9, 4L)))   // score tie at 0.9 -> lower id first
    assert(out(("web", 2L)) == ((3L, 0.9, 4L)))
    assert(out(("books", 1L)) == ((5L, 0.2, 1L))) // undersized domain kept whole
  }

  test("TextOps.dsirWeights matches the hand-computed add-one likelihood ratio") {
    import spark.implicits._
    val d = Seq((1L, "en", "a a"), (2L, "de", "a b"), (3L, "en", null: String))
      .toDF("id", "lg", "body")
    val out = TextOps.dsirWeights(d, "id", "body", col("lg") === "en")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus: a x3, b x1 (N_c=4); target: a x2 (N_t=2); V=2
    // term(a) = ln(3/4) - ln(2/3) -> 0.117783; term(b) = ln(1/4) - ln(1/3) -> -0.287682
    assert(out(1L) == (2L, 0.235566))
    assert(out(2L) == (2L, 0.117783 - 0.287682))
    assert(!out.contains(3L)) // NULL text excluded, not scored
  }

  test("Dedup.substringRuns measures the longest diagonal run and drops sub-minRun pairs") {
    val d = docs(
      (1L, "x", "a b c d e f g"),
      (2L, "x", "z a b c d e f q"),    // shares the 6-token run "a b c d e f"
      (3L, "x", "q a b c q2"))         // shares only the single gram "a b c"
    val out = Dedup.substringRuns(d, "id", "body", k = 3, minRun = 2, maxDf = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // 4 consecutive shared 3-grams (abc bcd cde def) on one diagonal = 6 tokens
    assert(out((1L, 2L)) == ((4L, 4L, 6L)))
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L))) // run of 1 < minRun
  }

  test("Sampling.groupSplit assigns every group to exactly one split, covering all docs") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = (1L to 200L).map(i => (i, s"host${i % 10}", 5L)).toDF("id", "host", "nt")
    val out = Sampling.groupSplit(d, "host", col("nt"),
      Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)), seed = 7L).collect()
    val hosts = out.map(_.getString(1))
    assert(hosts.length == hosts.distinct.length)          // leak-freedom: one split per host
    assert(out.map(_.getLong(2)).sum == 200L)              // every doc accounted for
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("train", "valid", "test")))
  }

  test("Layout.shuffleShards balances tokens and is invariant to input partitioning") {
    import spark.implicits._
    import graft.operators.Layout
    val d = (1L to 400L).map(i => (i, s"src${i % 5}", 10L + i % 3)).toDF("id", "src", "nt")
    val a = Layout.shuffleShards(d, "id", col("nt"), "src", nShards = 4, seed = 3L)
      .orderBy("shard").collect()
    val b = Layout.shuffleShards(d.repartition(7), "id", col("nt"), "src", nShards = 4, seed = 3L)
      .orderBy("shard").collect()
    assert(a.toSeq == b.toSeq)                             // layout-independent
    assert(a.map(_.getLong(1)).sum == 400L)
    val shares = a.map(_.getDouble(3))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    assert(shares.forall(s => s > 0.1 && s < 0.4))         // 4 shards, roughly balanced
    assert(a.forall(_.getLong(5) == 5L))                   // every shard sees all 5 sources
  }

  test("Similarity.randomProjection preserves pairwise distance in expectation") {
    import spark.implicits._
    import graft.operators.Similarity
    val dim = 16
    // orthogonal-ish fixture: unit vectors along distinct axes
    val d = (0L until 8L).map { v =>
      (v, (0 until dim).map(i => if (i == v * 2) 1.0f else 0.0f).toArray)
    }.toDF("vid", "vec")
    val p = Similarity.randomProjection(d, "vid", "vec", dim = dim, outDim = 4, seed = 9L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p.size == 8 * 4)
    // each projected coordinate of a one-hot vector is the matrix cell / 2: |y| = 0.5
    assert(p.values.forall(y => math.abs(math.abs(y) - 0.5) < 1e-9))
  }

  test("Diagnostics.mutualInformation matches the hand-computed joint distribution") {
    import spark.implicits._
    import graft.operators.Diagnostics
    // cells: (a,u)x2 (a,v)x2 (b,u)x4 -> H(x)=ln2, H(y)=0.5623,
    // MI = .25 ln(2/3) + .25 ln 2 + .5 ln(4/3) = 0.215762
    val d = (Seq.fill(2)(("a", "u")) ++ Seq.fill(2)(("a", "v")) ++
      Seq.fill(4)(("b", "u"))).toDF("x", "y")
    val r = Diagnostics.mutualInformation(d, "x", "y").collect().head
    assert(r.getLong(0) == 8L)
    assert(r.getDouble(1) == 0.693148)                        // H(x) = ln 2 (2 x round(.3465736, 6))
    assert(math.abs(r.getDouble(3) - 0.215762) < 1e-5)        // MI
    assert(math.abs(r.getDouble(4) - (r.getDouble(1) - r.getDouble(3))) < 1e-6)
    assert(math.abs(r.getDouble(5) - r.getDouble(3) / r.getDouble(2)) < 1e-5)
  }

  test("Diagnostics.mutualInformation: NULL categories are excluded from the WHOLE computation") {
    import spark.implicits._
    import graft.operators.Diagnostics
    val base = (Seq.fill(2)(("a", "u")) ++ Seq.fill(2)(("a", "v")) ++
      Seq.fill(4)(("b", "u")))
    val withNulls = base ++ Seq((null, "u"), ("a", null), (null: String, null: String))
    val clean = Diagnostics.mutualInformation(base.toDF("x", "y"), "x", "y")
      .collect().head
    val nulled = Diagnostics.mutualInformation(withNulls.toDF("x", "y"), "x", "y")
      .collect().head
    // NULL rows must change NOTHING: n_rows, entropies and MI are all
    // computed over the same NULL-free distribution (the r8 ADVICE bug
    // had the MI sum drop NULL cells while marginals kept them)
    assert(nulled.getLong(0) == 8L)
    (1 to 5).foreach(i => assert(nulled.getDouble(i) == clean.getDouble(i),
      s"col $i differs with NULL categories present"))
  }

  test("Dedup.minhashLshIncremental: NULL is_new rows participate as OLD corpus docs") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta"
    val d = Seq((1L, t, Some(true)), (2L, t, None: Option[Boolean]),
      (3L, t, Some(false))).toDF("id", "body", "flag")
    val out = Dedup.minhashLshIncremental(d, "id", "body", "flag",
        nHash = 12, bandRows = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // doc 2 (NULL flag) must pair with the new doc 1 as an OLD partner;
    // before the coalesce fix it failed both candidate predicates and
    // could never pair at all
    assert(out == Set((1L, 2L, false), (1L, 3L, false)), s"got $out")
  }

  test("Ledger.rejectLedger samples ids at and past ±2^53 exactly") {
    import spark.implicits._
    import graft.operators.Ledger, Ledger.Stage
    // neighbours that one double cannot tell apart are ranked apart
    val lim = 1L << 53
    val d = Seq((lim, 1.0), (-lim, 1.0), (7L, 1.0), (Long.MaxValue, 5.0),
      (Long.MaxValue - 1, 5.0), (lim + 1, 5.0), (-lim - 1, 5.0)).toDF("id", "v")
    val rows = Ledger.rejectLedger(d, "id", Seq(Stage("s1", "v too small", col("v") >= 2.0)))
      .collect().map(r => (r.getString(1), r.getLong(3), r.getString(4)))
    assert(rows.toSeq == Seq(
      ("s1", 3L, "-9007199254740992,7,9007199254740992"),
      ("kept", 4L, "-9007199254740993,9007199254740993,9223372036854775806")))
  }

  test("Memo: same key returns the same persisted frame; clear releases") {
    import spark.implicits._
    import graft.operators.Memo
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("x") }
    val a = Memo.cached("spec/memo/a") { build() }
    val b = Memo.cached("spec/memo/a") { build() }
    assert(builds == 1 && (a eq b) && a.storageLevel.useMemory)
    val c = Memo.cached("spec/memo/b") { build() }
    assert(builds == 2 && !(c eq a))
    Memo.clear()
    val d = Memo.cached("spec/memo/a") { build() }
    assert(builds == 3 && !(d eq a))
    Memo.clear()
  }

  test("Memo.cached re-persists a hit whose cache was voided externally") {
    import spark.implicits._
    import graft.operators.Memo
    Memo.clear()
    val built = Memo.cached("spec/memo/voided") { Seq(1, 2).toDF("x") }
    built.count()
    // void the cache behind the memo's back — the observable effect of
    // a CacheScope close unpersisting a frame whose plan canonicalizes
    // to the entry's (the r11 LPA regression class)
    built.unpersist(blocking = true)
    assert(built.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    val hit = Memo.cached("spec/memo/voided") { fail("hit must not rebuild") }
    assert(hit.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "a cache-voided hit must be re-persisted, not served cache-less")
    Memo.clear()
  }

  test("labelPropagation's memoized frame survives the building scope's close") {
    import spark.implicits._
    import graft.operators.{CacheScope, Graphs, Memo}
    Memo.clear()
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (10L, 11L), (11L, 10L))
      .toDF("s", "d")
    // build inside a scope, exactly as Verify/Bench evaluate queries;
    // the scope close unpersists every per-round label frame — the memo
    // entry must be an INDEPENDENT leaf that keeps serving from cache
    // (r11 shipped a memo whose cache died with the building scope)
    CacheScope.withScope {
      Graphs.labelPropagation(e, "s", "d", iters = 2,
        memoKey = Some("spec/lpa-scope")).count()
    }
    val entry = Memo.lookup("spec/lpa-scope/lpa/2/labels")
    assert(entry.isDefined, "the final label frame must be memoized")
    assert(entry.get.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the memo entry's cache must survive the building CacheScope's close")
    // and it must still be the SAME labels (served, not silently wrong)
    val labels = entry.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == Set(1L, 2L, 3L, 10L, 11L))
    assert(labels(10L) == labels(11L), "the 10-11 pair must share a community")
    Memo.clear()
  }

  test("pageRank's memoized rank frame survives the building scope's close") {
    import spark.implicits._
    import graft.operators.{CacheScope, Graphs, Memo}
    Memo.clear()
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("s", "d")
    val inScope = CacheScope.withScope {
      val df = Graphs.pageRank(e, "s", "d", iters = 2,
        memoKey = Some("spec/pr-scope"))
      df.count()
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val entry = Memo.lookup("spec/pr-scope/pr/2/0.85/ranks")
    assert(entry.isDefined, "the final rank frame must be memoized")
    assert(entry.get.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the memo entry's cache must survive the building CacheScope's close")
    // a hit must serve the SAME ranks without rebuilding
    val hit = Graphs.pageRank(
      spark.emptyDataFrame.select(lit(0L).as("s"), lit(0L).as("d")),
      "s", "d", iters = 2, memoKey = Some("spec/pr-scope"))
    val served = hit.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == inScope,
      "a memo hit must serve the built ranks (the key owns identity)")
    Memo.clear()
  }

  test("Graphs operators produce identical results under reliable checkpointing") {
    import spark.implicits._
    import graft.operators.Graphs
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("s", "d")
    val local = Graphs.pageRank(e, "s", "d", iters = 2).collect().sortBy(_.getLong(0))
    val reliable = Graphs.pageRank(e, "s", "d", iters = 2,
      checkpointDir = Some(dir)).collect().sortBy(_.getLong(0))
    assert(local.map(_.toSeq).toSeq == reliable.map(_.toSeq).toSeq,
      "checkpoint mode must not change pageRank results")
    val lpaL = Graphs.labelPropagation(e, "s", "d", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpaR = Graphs.labelPropagation(e, "s", "d", iters = 2,
      checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpaL == lpaR, "checkpoint mode must not change LPA labels")
  }

  test("Graphs.pageRank conserves rank mass with a dangling node") {
    import spark.implicits._
    import graft.operators.Graphs
    // node 3 is dst-only (out-degree 0): its mass must redistribute,
    // not silently vanish (the r9-judge dangling-node finding)
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("s", "d")
    val out = Graphs.pageRank(e, "s", "d", iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length == 3, s"dangling node missing from output: ${out.toSeq}")
    val byNode = out.map(t => t._1 -> t).toMap
    assert(byNode(3L)._3 == 0L, "dangling node must report out-degree 0")
    val total = out.map(_._2).sum
    assert(math.abs(total - 1.0) < 1e-9,
      s"rank mass not conserved: sum = $total over ${out.toSeq}")
  }

  test("Memo.lookup never registers; corpusKey moves when the file listing changes") {
    import spark.implicits._
    import graft.operators.Memo
    Memo.clear()
    assert(Memo.lookup("spec/memo/probe").isEmpty)
    val miss = Memo.lookup("spec/memo/probe").getOrElse(Seq(9).toDF("x"))
    assert(miss.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a lookup miss must not persist anything")
    assert(Memo.lookup("spec/memo/probe").isEmpty,
      "a lookup miss must not register the key")
    val a = Memo.cached("spec/memo/probe") { Seq(1).toDF("x") }
    assert(Memo.lookup("spec/memo/probe").exists(_ eq a))
    Memo.clear()
    // corpusKey: regenerating data under the SAME path must be a miss
    val dir = java.nio.file.Files.createTempDirectory("memokey").toFile
    val f = new java.io.File(dir, "t.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    val k1 = Memo.corpusKey("t", dir.getAbsolutePath)
    assert(k1.startsWith(s"t:${dir.getAbsolutePath}@"))
    f.setLastModified(((f.lastModified / 1000) + 10) * 1000)
    val k2 = Memo.corpusKey("t", dir.getAbsolutePath)
    assert(k1 != k2, "mtime change must change the corpus fingerprint")
  }

  test("Diagnostics.psiDrift matches hand-computed smoothed shares; reference reads 0") {
    import spark.implicits._
    import graft.operators.Diagnostics
    // ref 1..10 -> ntile(2) cut [5]; cmp {6,7,8} all in bucket 2
    val d = ((1 to 10).map(v => ("r", v.toDouble)) ++
      Seq(("g", 6.0), ("g", 7.0), ("g", 8.0))).toDF("grp", "v")
    val got = Diagnostics.psiDrift(d, "grp", "v", col("grp") === "r", bins = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    def rd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p1 = 5.5 / 11; val p2 = 5.5 / 11          // ref smoothed shares
    val q1 = 0.5 / 4; val q2 = 3.5 / 4            // cmp smoothed shares
    val want = rd(rd((q1 - p1) * math.log(q1 / p1)) + rd((q2 - p2) * math.log(q2 / p2)))
    assert(got("g") == ((3L, want, want > 0.2)), s"got ${got("g")} want $want")
    assert(got("r")._2 == 0.0 && !got("r")._3)
  }

  test("Diagnostics.psiDrift pools a MULTI-group reference instead of throwing") {
    import spark.implicits._
    import graft.operators.Diagnostics
    // two reference groups: the same bucket appears once PER GROUP in
    // the reference counts — un-pooled, map_from_entries hits duplicate
    // keys and throws under spark.sql.mapKeyDedupPolicy=EXCEPTION.
    // Pooled, the reference distribution is the groups' union, and a
    // comparison group drawn from it reads PSI 0.
    val d = ((1 to 10).map(v => ("r1", v.toDouble)) ++
      (1 to 10).map(v => ("r2", v.toDouble)) ++
      Seq(("g", 6.0), ("g", 7.0), ("g", 8.0))).toDF("grp", "v")
    val got = Diagnostics.psiDrift(d, "grp", "v",
        col("grp").startsWith("r"), bins = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got.keySet == Set("r1", "r2", "g"))
    assert(got("r1") == got("r2"), "identical groups must read identical PSI")
    assert(got("g") > 0.0)
  }

  test("TextOps.bigramLogprob matches a hand-computed add-alpha bigram LM") {
    import spark.implicits._
    // corpus: "a b a b" and "a c"; bigrams: (a,b)x2 (b,a)x1 (a,c)x1
    // c1(a)=3, c1(b)=1; V=3; alpha=0.5
    val d = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("id", "t")
    val got = TextOps.bigramLogprob(d, "id", "t", alpha = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    def nll(c: Double, c1: Double) =
      BigDecimal(-math.log((c + 0.5) / (c1 + 0.5 * 3)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = Seq(nll(2, 3), nll(1, 1), nll(2, 3)) // (a,b) (b,a) (a,b)
    val avg1 = BigDecimal(d1.sum / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - avg1) < 1e-9)
    assert(math.abs(got(1L)._3 - BigDecimal(math.exp(avg1))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    val avg2 = nll(1, 3)
    assert(got(2L) == ((1L, avg2, BigDecimal(math.exp(avg2))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(!got.contains(3L)) // single-token doc has no bigrams
  }

  test("TextOps.ngramNovelty counts grams unseen in any other doc") {
    val d = docs(
      (1L, "x", "a b c d"),   // abc bcd -> bcd unique
      (2L, "x", "a b c x"),   // abc bcx -> bcx unique
      (3L, "x", "p q r s"))   // pqr qrs -> both unique
    val out = TextOps.ngramNovelty(d, "id", "body", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (2L, 1L, 0.5))
    assert(out(2L) == (2L, 1L, 0.5))
    assert(out(3L) == (2L, 2L, 1.0))
  }

  test("BH step-up equals the hand-computed adjusted p-values") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // classic worked example: p = .01 .02 .03 .04 (m=4)
    // raw m*p/rk = .04 .04 .04 .04 -> all adjusted to .04
    // and p = .01 .04 .03 .05 -> rk-sorted .01 .03 .04 .05
    //   raw = .04 .06 .0533... .05; tail-min = .04 .05 .05 .05
    val d = Seq((1L, 0.01), (2L, 0.04), (3L, 0.03), (4L, 0.05)).toDF("day", "p_value")
    val wRank = Window.orderBy(col("p_value"), col("day"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wTail = Window.orderBy(col("rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val adj = d.withColumn("rk", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("p_adj", round(least(lit(1.0),
        min(col("p_value") * col("m") / col("rk")).over(wTail)), 6))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(adj(1L) == 0.04)
    assert(adj(3L) == 0.05)
    assert(adj(2L) == 0.05)
    assert(adj(4L) == 0.05)
  }

  test("Packing.packSequences: zero-length doc occupies no tokens") {
    import spark.implicits._
    import graft.operators.Packing
    val d = Seq((1L, 4L), (2L, 0L), (3L, 5L)).toDF("id", "n")
    val out = Packing.packSequences(d, "id", col("n"),
        seqLen = 100L, numBuckets = 1, seed = 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(2L)._1 == 4L)            // starts right after doc 1
    assert(out(2L)._2 == out(2L)._3)    // seq_last == seq_first
    assert(out(3L)._1 == 4L)            // doc 2 consumed nothing
  }

  test("Graphs.labelPropagation separates components and does not oscillate on bipartite graphs") {
    import spark.implicits._
    import graft.operators.Graphs
    // two disjoint triangles (symmetrized) → two communities labeled by
    // their min node; a 2×2 bipartite block would OSCILLATE under pure
    // synchronous LPA — the self-vote damping must converge it instead
    def sym(ps: (Long, Long)*) = ps.flatMap(p => Seq(p, p.swap)).toDF("s", "d")
    val tri2 = sym((1L,2L),(2L,3L),(1L,3L),(10L,11L),(11L,12L),(10L,12L))
    val out = Graphs.labelPropagation(tri2, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 6)
    assert(Set(out(1L), out(2L), out(3L)).size == 1, s"triangle 1 split: $out")
    assert(Set(out(10L), out(11L), out(12L)).size == 1, s"triangle 2 split: $out")
    assert(out(1L) != out(10L), "disjoint components must not merge")
    val bip = sym((1L,10L),(1L,11L),(2L,10L),(2L,11L))
    val b3 = Graphs.labelPropagation(bip, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b4 = Graphs.labelPropagation(bip, "s", "d", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b3 == b4, s"bipartite labels oscillate between rounds: $b3 vs $b4")
    assert(b3.values.toSet.size == 1, s"connected bipartite block must converge to one community: $b3")
  }

  test("Diagnostics.groupQuantilesByRank: rank convention exact, ties share a value") {
    import spark.implicits._
    import graft.operators.Diagnostics
    // group a: 1..10 → p05 rank ceil(0.5)=1 → 1.0; p50 rank 5 → 5.0;
    // p95 rank ceil(9.5)=10 → 10.0. group b: heavy ties — value 7
    // occupies ranks 2..9 of 10, so p50 (rank 5) must be 7 regardless
    // of tie order.
    val rows = (1 to 10).map(i => ("a", i.toDouble)) ++
      (Seq(1.0) ++ Seq.fill(8)(7.0) ++ Seq(9.0)).map(("b", _))
    val out = Diagnostics.groupQuantilesByRank(rows.toDF("g", "x"), "g", "x",
        Seq("p05" -> 0.05, "p50" -> 0.50, "p95" -> 0.95))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("a", "p05")) == 1.0 && out(("a", "p50")) == 5.0 &&
      out(("a", "p95")) == 10.0, s"group a: $out")
    assert(out(("b", "p50")) == 7.0, s"tied median must be 7: $out")
    assert(out(("b", "p95")) == 9.0)
    assert(out.size == 6)
  }

  test("Diagnostics.groupQuantilesByRank (refine core): non-finite edges, " +
      "constant groups, bucket-boundary ranks") {
    import spark.implicits._
    import graft.operators.Diagnostics
    // group nf: Spark's double ordering is -Inf < finite < +Inf < NaN;
    // the refine's bucket map must respect it (min/max are taken over
    // finite values only, non-finite pinned to the edge buckets), so
    // rank 1 = -Inf, rank 4 (p95 of n=4 → ceil(3.8)) = NaN.
    // group cc: every value equal (hi == lo degenerate bin width).
    // group bb: 2048 distinct values — more values than the 1024
    // coarse bins, so ranks land mid-bucket and on bucket boundaries.
    val rows =
      Seq(("nf", Double.NegativeInfinity), ("nf", 1.0),
        ("nf", Double.PositiveInfinity), ("nf", Double.NaN)) ++
      Seq.fill(5)(("cc", 42.0)) ++
      (1 to 2048).map(i => ("bb", i.toDouble))
    val out = Diagnostics.groupQuantilesByRank(rows.toDF("g", "x"), "g", "x",
        Seq("q25" -> 0.25, "q50" -> 0.50, "q100" -> 1.0))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("nf", "q25")) == Double.NegativeInfinity, s"nf q25: $out")
    assert(out(("nf", "q50")) == 1.0)
    assert(out(("nf", "q100")).isNaN, s"NaN must rank last: $out")
    assert(out(("cc", "q25")) == 42.0 && out(("cc", "q100")) == 42.0)
    // bb: rank ceil(0.25·2048)=512, ceil(0.5·2048)=1024, 2048
    assert(out(("bb", "q25")) == 512.0 && out(("bb", "q50")) == 1024.0 &&
      out(("bb", "q100")) == 2048.0, s"bb: $out")
    assert(out.size == 9)
  }

  test("TextOps.zipfFit recovers an exact Zipf law and truncates at topN") {
    import spark.implicits._
    // counts 12/r for ranks 1..4: ln c = ln 12 − ln r — slope −1, R² 1
    val text = (Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")).mkString(" ")
    val d = Seq(("g1", text)).toDF("src", "body")
    val full = TextOps.zipfFit(d, "src", "body", topN = 10).collect()
    assert(full.length == 1)
    val r = full.head
    assert(r.getLong(1) == 4L, "4 types expected")
    assert(math.abs(r.getDouble(2) + 1.0) < 1e-4, s"slope ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - math.log(12.0)) < 1e-4)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-4, "perfect fit expected")
    // truncation: topN = 2 keeps ranks 1–2 only (still a perfect line)
    val trunc = TextOps.zipfFit(d, "src", "body", topN = 2).collect().head
    assert(trunc.getLong(1) == 2L)
    assert(math.abs(trunc.getDouble(2) + 1.0) < 1e-4)
  }

  test("Similarity.kmeansSilhouette: separated clusters score high, k=1 scores 0") {
    import spark.implicits._
    // two tight direction-clusters (cosine affinity): near e1 and near e2
    val vs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.99, 0.14)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.14, 0.99))).toDF("vid", "vec")
    val out = Similarity.kmeansSilhouette(vs, "vid", "vec",
        k = 2, iters = 2, seed = 11L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.size == 4)
    assert(out.values.forall(s => s > 0.5 && s <= 1.0),
      s"tight separated clusters must score high: $out")
    // assignments agree with kmeans on the same seed/chain
    val cells = Similarity.kmeans(vs, "vid", "vec", k = 2, iters = 2,
        seed = 11L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val silCells = Similarity.kmeansSilhouette(vs, "vid", "vec",
        k = 2, iters = 2, seed = 11L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(silCells == cells, "silhouette must score the kmeans assignment")
    // k = 1: no alternative centroid → silhouette defined as 0
    val k1 = Similarity.kmeansSilhouette(vs, "vid", "vec",
        k = 1, iters = 1, seed = 11L)
      .collect().map(_.getDouble(2))
    assert(k1.forall(_ == 0.0), s"k=1 must score 0: ${k1.toSeq}")
  }

  test("Dedup sigTable path is bit-identical to the inline text stage") {
    import spark.implicits._
    // The shared signature table replaces each operator's tokenize
    // stage; every consumer must produce byte-identical rows whether it
    // hashes the text inline or reads the pre-built table (the
    // correctness contract of the r13 dedup-family memo).
    val d = Seq(
      (1L, "en", "srcA", "alpha beta gamma delta epsilon zeta eta"),
      (2L, "en", "srcA", "alpha beta gamma delta epsilon zeta theta"),
      (3L, "en", "srcB", "one two three four five six seven"),
      (4L, "fr", "srcB", "alpha beta gamma delta epsilon zeta eta"),
      (5L, "en", "srcB", "xx"), // < ngram tokens: dropped in both paths
      (6L, "en", "srcA", "alpha beta gamma delta epsilon zeta eta"))
      .toDF("id", "lang", "source", "body")
    val st = Dedup.minhashSigTable(d, "id", "body",
      carry = Seq("lang", "source"), ngram = 3, nHash = 8)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.minhashLsh(d, "id", "body", nHash = 8, threshold = 0.3)) ==
      rows(Dedup.minhashLsh(d, "id", "body", nHash = 8, threshold = 0.3,
        sigTable = Some(st))))
    assert(rows(Dedup.ngramJaccard(d, "id", "body", Seq("lang"), threshold = 0.3)) ==
      rows(Dedup.ngramJaccard(d, "id", "body", Seq("lang"), threshold = 0.3,
        sigTable = Some(st))))
    assert(rows(Dedup.ngramContainment(d, "id", "body", Seq("lang"), threshold = 0.3)) ==
      rows(Dedup.ngramContainment(d, "id", "body", Seq("lang"), threshold = 0.3,
        sigTable = Some(st))))
    val dNew = d.withColumn("is_new", col("source") === "srcB")
    val stNew = st.withColumn("is_new", col("source") === "srcB")
    val incInline = Dedup.minhashLshIncremental(dNew, "id", "body", "is_new",
      nHash = 8, threshold = 0.3)
    val incSig = Dedup.minhashLshIncremental(dNew, "id", "body", "is_new",
      nHash = 8, threshold = 0.3, sigTable = Some(stNew))
    assert(rows(incInline) == rows(incSig) && incInline.count() > 0)
    val sh = Dedup.simhashSigTable(d, "id", "body")
    assert(rows(Dedup.simhash(d, "id", "body", maxHamming = 8)) ==
      rows(Dedup.simhash(d, "id", "body", maxHamming = 8, sigTable = Some(sh))))
    // band rows carry the shingle set `s` too: compared whole
    val bandInline = Dedup.minhashBandRows(d, "id", "body", nHash = 8)
    assert(rows(bandInline) ==
      rows(Dedup.minhashBandRows(d, "id", "body", nHash = 8, sigTable = Some(st))))
    assert(bandInline.count() == 5 * 4) // 5 docs of >= 3 tokens, 4 bands
    // the fingerprint is pair 0 of the table's sorted set, in hex
    val minPair = Dedup.minhashSigTable(d, "id", "body", ngram = 3, nHash = 1)
      .collect().map(r => r.getLong(0) -> {
        val s = r.getSeq[Long](1)
        f"${s(0)}%016x${s(1)}%016x"
      }).toMap
    val fps = TextOps.fingerprint(d, "id", "body").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(fps == minPair && fps.size == 5)
    // sanity: the family actually emits pairs on this fixture (an
    // empty==empty comparison would prove nothing)
    assert(Dedup.minhashLsh(d, "id", "body", nHash = 8, threshold = 0.3).count() > 0)
  }

  test("Dedup.ngramPairStats serves jaccard and containment bit-identically") {
    import spark.implicits._
    // The shared stats frame must reproduce each measure's inline
    // output exactly — including the finer-blocking recovery: jaccard
    // blocks on (grp, band) while the stats are grp-blocked with band
    // CARRIED per-doc, so band_a == band_b is the recovery filter.
    // Fixture places a near-dup pair within a band (1,2: emitted by
    // both paths), an asymmetric containment pair ACROSS bands (3,4:
    // containment sees it, jaccard's band filter must drop it), and a
    // cross-grp near-dup (5 vs 1: blocked in both paths).
    val d = Seq(
      (1L, "en", 0L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "en", 0L, "alpha beta gamma delta epsilon zeta theta"),
      (3L, "en", 1L, "one two three four"),
      (4L, "en", 2L, "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen sixteen"),
      (5L, "fr", 0L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("id", "grp", "band", "body")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val stats = Dedup.ngramPairStats(d, "id", "body", blockCols = Seq("grp"),
      minContainment = 0.3, carry = Seq("band"))
    val jInline = Dedup.ngramJaccard(d, "id", "body",
      blockCols = Seq("grp", "band"), threshold = 0.3)
    val jStats = Dedup.ngramJaccard(d, "id", "body",
      blockCols = Seq("grp", "band"), threshold = 0.3,
      pairStats = Some(stats.filter(col("band_a") === col("band_b"))))
    assert(rows(jInline) == rows(jStats) && jInline.count() > 0)
    val cInline = Dedup.ngramContainment(d, "id", "body",
      blockCols = Seq("grp"), threshold = 0.3)
    val cStats = Dedup.ngramContainment(d, "id", "body",
      blockCols = Seq("grp"), threshold = 0.3, pairStats = Some(stats))
    assert(rows(cInline) == rows(cStats))
    // the asymmetric (3,4) inclusion is containment-only: present via
    // the stats path too, absent from jaccard's band-blocked output
    assert(cStats.filter(col("doc_sub") === 3L && col("doc_sup") === 4L)
      .count() == 1)
    assert(jStats.filter(col("doc_a") === 3L).count() == 0)
  }

  test("sigTable provenance metadata rejects a mismatched ngram/textCol") {
    import spark.implicits._
    // the shingle hashes cannot reveal which n built them — without the
    // metadata pin a wrong-n table silently computes the wrong measure
    val d = Seq((1L, "en", "alpha beta gamma delta epsilon"))
      .toDF("id", "lang", "body")
    val st3 = Dedup.minhashSigTable(d, "id", "body", carry = Seq("lang"),
      ngram = 3, nHash = 4)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(d, "id", "body", Seq("lang"), ngram = 4,
        sigTable = Some(st3))
    }
    assert(e1.getMessage.contains("ngram=3") && e1.getMessage.contains("ngram=4"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashLsh(d.withColumn("other", col("body")), "id", "other",
        nHash = 4, sigTable = Some(st3))
    }
    assert(e2.getMessage.contains("'body'") && e2.getMessage.contains("'other'"))
    // matching provenance (and metadata-free hand-built frames) pass
    assert(Dedup.ngramJaccard(d, "id", "body", Seq("lang"), ngram = 3,
      sigTable = Some(st3)).columns.nonEmpty)
    // the band-rows consumer (ingest-time near-dup's static index) and
    // the simhash family carry the same pin
    val e3 = intercept[IllegalArgumentException] {
      Dedup.minhashBandRows(d, "id", "body", nHash = 4, ngram = 4,
        sigTable = Some(st3))
    }
    assert(e3.getMessage.contains("ngram=3"))
    val sh = Dedup.simhashSigTable(d, "id", "body")
    val e4 = intercept[IllegalArgumentException] {
      Dedup.simhash(d.withColumn("other", col("body")), "id", "other",
        sigTable = Some(sh))
    }
    assert(e4.getMessage.contains("'body'") && e4.getMessage.contains("'other'"))
  }

  test("pairStats provenance metadata rejects a violating consumer") {
    import spark.implicits._
    // the same silent-wrong-result class the sigTable pins close: a
    // stats frame built with a higher prefilter, finer blocking, or a
    // different ngram/textCol/maxDf drops pairs the consumer's own
    // parameters qualify — none of which is visible in the data
    val d = Seq(
      (1L, "en", 0L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "en", 0L, "alpha beta gamma delta epsilon zeta theta"))
      .toDF("id", "grp", "band", "body")
    val stats = Dedup.ngramPairStats(d, "id", "body", blockCols = Seq("grp"),
      minContainment = 0.8)
    // prefilter above the consumer's threshold
    val e1 = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(d, "id", "body", Seq("grp"), threshold = 0.3,
        pairStats = Some(stats))
    }
    assert(e1.getMessage.contains("0.8") && e1.getMessage.contains("0.3"))
    // finer stats blocking than the call's
    val fine = Dedup.ngramPairStats(d, "id", "body",
      blockCols = Seq("grp", "band"), minContainment = 0.3)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.ngramContainment(d, "id", "body", Seq("grp"), threshold = 0.8,
        pairStats = Some(fine))
    }
    assert(e2.getMessage.contains("FINER"))
    // mismatched ngram, textCol, maxDf
    val e3 = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(d, "id", "body", Seq("grp"), ngram = 4,
        pairStats = Some(stats))
    }
    assert(e3.getMessage.contains("ngram=3") && e3.getMessage.contains("ngram=4"))
    val e4 = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(d.withColumn("other", col("body")), "id", "other",
        Seq("grp"), pairStats = Some(stats))
    }
    assert(e4.getMessage.contains("'body'") && e4.getMessage.contains("'other'"))
    val e5 = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(d, "id", "body", Seq("grp"), maxDf = Some(5L),
        pairStats = Some(stats))
    }
    // no-cap pin is -1 (a 0 sentinel would conflate None with Some(0))
    assert(e5.getMessage.contains("maxDf=-1") && e5.getMessage.contains("maxDf=5"))
    // containment requires EQUAL blocking: coarser stats contain
    // cross-block pairs its own blocking never emits (jaccard's
    // row-filter contract recovers finer keys; containment can't)
    val coarse = Dedup.ngramPairStats(d, "id", "body", blockCols = Seq(),
      minContainment = 0.3)
    val e6 = intercept[IllegalArgumentException] {
      Dedup.ngramContainment(d, "id", "body", Seq("grp"), threshold = 0.8,
        pairStats = Some(coarse))
    }
    assert(e6.getMessage.contains("COARSER"))
    // ...while the jaccard consumer legally row-filters the same frame
    assert(Dedup.ngramJaccard(d, "id", "body", Seq(), threshold = 0.3,
      pairStats = Some(coarse)).count() > 0)
    // the legal direction passes — coarser stats, lower prefilter, and
    // the metadata survives the caller's restriction row filter
    val carried = Dedup.ngramPairStats(d, "id", "body", blockCols = Seq("grp"),
      minContainment = 0.3, carry = Seq("band"))
    assert(Dedup.ngramJaccard(d, "id", "body", Seq("grp", "band"),
      threshold = 0.3,
      pairStats = Some(carried.filter(col("band_a") === col("band_b"))))
      .count() > 0)
  }

  test("TextOps.redact counts before rewrite and scrubs in rule order") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail bob@x.io and 10.1.2.3 plus 555-123-4567"),
      (2L, "clean"),
      (3L, null.asInstanceOf[String])).toDF("id", "t")
    val out = graft.operators.TextOps.redact(d, "t", "tr", Seq(
      ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
      ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")))
    val r1 = out.filter(col("id") === 1L)
      .select("n_email", "n_phone", "n_ip", "tr").head
    assert(r1.getLong(0) == 1 && r1.getLong(1) == 1 && r1.getLong(2) == 1)
    assert(r1.getString(3) == "mail <EMAIL> and <IP> plus <PHONE>")
    val r2 = out.filter(col("id") === 2L)
      .select("n_email", "n_phone", "n_ip", "tr").head
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 0 && r2.getLong(2) == 0 &&
      r2.getString(3) == "clean")
    // NULL text: NULL counts and NULL scrubbed output (SQL semantics)
    val r3 = out.filter(col("id") === 3L)
      .select("n_email", "n_phone", "n_ip", "tr").head
    assert((0 to 3).forall(r3.isNullAt))
  }

  test("searchIvfPqIndex over a written index equals ivfPqTopK (train/serve split)") {
    import spark.implicits._
    // deterministic LCG vectors, custom schema/params (dim 16, m 4):
    // the written index must round-trip EXACTLY — floats/doubles
    // through Parquet, LUT positions re-derived from the codebook rows
    def rng(seed: Long): Iterator[Double] = Iterator.iterate(
      seed * 2862933555777941757L + 3037000493L)(
      s => s * 2862933555777941757L + 3037000493L)
      .map(s => (s >>> 33).toDouble / (1L << 31).toDouble - 0.5)
    val dim = 16
    val rows = (0 until 60).map(i =>
      (i.toLong, rng(i + 1).take(dim).map(_.toFloat).toArray))
    val df = rows.toDF("vid", "vec")
    val q = df.filter(col("vid") < 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-idx").toString
    Similarity.writeIvfPqIndex(df, "vid", "vec", dir,
      nList = 4, ivfSeed = 11L, dim = dim, m = 4, kCodes = 8,
      pqSeed = 13L, iters = 1)
    val served = Similarity.searchIvfPqIndex(dir, q, "vid", "vec",
      k = 3, nProbe = 2, dim = dim, m = 4)
    val inline = Similarity.ivfPqTopK(df, q, "vid", "vec",
      k = 3, nList = 4, nProbe = 2, ivfSeed = 11L, dim = dim, m = 4,
      kCodes = 8, pqSeed = 13L, iters = 1)
    assert(served.collect().map(_.toSeq).toSet ==
      inline.collect().map(_.toSeq).toSet)
    assert(served.count() == 15, "5 queries x top-3 expected")
    // dim/m are STRUCTURAL: a mismatch must fail loudly (silently wrong
    // cosines otherwise — half the LUT subspaces would be skipped)
    val em = intercept[IllegalArgumentException] {
      Similarity.searchIvfPqIndex(dir, q, "vid", "vec", k = 3, nProbe = 2,
        dim = dim, m = 2)
    }
    assert(em.getMessage.contains("m="))
    val ed = intercept[IllegalArgumentException] {
      Similarity.searchIvfPqIndex(dir, q, "vid", "vec", k = 3, nProbe = 2,
        dim = 8, m = 4)
    }
    assert(ed.getMessage.contains("sub-vectors"))
    // the serve plan must read the PERSISTED index, not the corpus:
    // its scans are the three index datasets (+ the in-memory queries)
    val scans = served.queryExecution.executedPlan.toString
    assert(scans.contains("centroids") && scans.contains("codebooks") &&
      scans.contains("codes"), s"serve plan does not read the index:\n$scans")
  }

  test("searchMinhashSigStore over a written store equals minhashLshIncremental") {
    import spark.implicits._
    // near-dup text crafted so the shard has both old and new partners
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven"),
      (4L, "totally different words that match nothing else here"))
      .toDF("id", "body")
    val shard = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta kappa"),
      (12L, "unrelated fresh content with no duplicate at all"))
      .toDF("id", "body")
    val dir = java.nio.file.Files.createTempDirectory("graft-sig-store").toString
    Dedup.writeMinhashSigStore(corpus, "id", "body", dir, ngram = 3, nHash = 8)
    val served = Dedup.searchMinhashSigStore(dir, shard, "id", "body",
      bandRows = 2, threshold = 0.4)
    val inline = Dedup.minhashLshIncremental(
      corpus.withColumn("is_new", lit(false))
        .unionByName(shard.withColumn("is_new", lit(true))),
      "id", "body", "is_new", nHash = 8, bandRows = 2, threshold = 0.4)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(served) == rows(inline) && served.count() >= 3,
      "serve over the persisted store diverged from the inline incremental")
    // new×old (10,1/2) and new×new (10,11) partners both present
    assert(served.filter(col("doc_new") === 10L && !col("other_is_new"))
      .count() >= 1)
    assert(served.filter(col("doc_new") === 10L && col("doc_other") === 11L &&
      col("other_is_new")).count() == 1)
    // the serve plan reads the PERSISTED store on the corpus side — no
    // raw-text lineage: the store parquet location appears, and the only
    // signature expression runs over the shard's in-memory rows
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft-sig-store"),
      s"serve plan does not read the signature store:\n$plan")
    // structural validation: mismatched text column fails loudly
    val et = intercept[IllegalArgumentException] {
      Dedup.searchMinhashSigStore(dir, shard.withColumnRenamed("body", "other"),
        "id", "other")
    }
    assert(et.getMessage.contains("'body'") && et.getMessage.contains("'other'"))

    // APPEND lifecycle: admitting the first shard and serving a second
    // equals the inline incremental over (corpus ∪ shard1 ∪ shard2
    // with is_new = shard2); re-appending the same shardId is
    // idempotent (overwrite of its own dataset, never duplicate rows)
    val shard2 = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta mu"),
      (21L, "unrelated fresh content with no duplicate at all"))
      .toDF("id", "body")
    Dedup.appendMinhashSigStore(dir, shard, "id", "body", shardId = "s1")
    Dedup.appendMinhashSigStore(dir, shard, "id", "body", shardId = "s1")
    val served2 = Dedup.searchMinhashSigStore(dir, shard2, "id", "body",
      bandRows = 2, threshold = 0.4)
    val inline2 = Dedup.minhashLshIncremental(
      corpus.unionByName(shard).withColumn("is_new", lit(false))
        .unionByName(shard2.withColumn("is_new", lit(true))),
      "id", "body", "is_new", nHash = 8, bandRows = 2, threshold = 0.4)
    assert(rows(served2) == rows(inline2),
      "serve after append diverged from the inline incremental")
    // the appended shard's docs ARE corpus now: doc 20 pairs with the
    // appended 10/11 as old partners
    assert(served2.filter(col("doc_new") === 20L && col("doc_other") === 10L &&
      !col("other_is_new")).count() == 1)
    // shardId path-safety gate
    val ei = intercept[IllegalArgumentException] {
      Dedup.appendMinhashSigStore(dir, shard2, "id", "body", shardId = "../x")
    }
    assert(ei.getMessage.contains("path-safe"))

    // COMPACTION: folding sig_append/* into sig/ serves row-identically
    // (the serve is layout-blind: base ∪ appends before, one dataset
    // after), the appends are gone, and re-running is a no-op
    val preCompact = rows(served2)
    assert(Dedup.compactMinhashSigStore(spark, dir),
      "compaction with pending appends must report it ran")
    assert(graft.operators.StoreFs
      .completedChildren(spark, s"$dir/sig_append").isEmpty,
      "compaction left append datasets behind")
    assert(graft.operators.StoreFs.datasetComplete(spark, s"$dir/meta"),
      "compaction did not restore the meta/_SUCCESS marker")
    val servedC = Dedup.searchMinhashSigStore(dir, shard2, "id", "body",
      bandRows = 2, threshold = 0.4)
    assert(rows(servedC) == preCompact,
      "serve over the compacted store diverged from store+appends")
    assert(!Dedup.compactMinhashSigStore(spark, dir),
      "re-running compaction with no appends must be a no-op")
    assert(rows(Dedup.searchMinhashSigStore(dir, shard2, "id", "body",
      bandRows = 2, threshold = 0.4)) == preCompact)

    // post-compaction lifecycle: the folded shard stays ADMITTED
    // through the ledger, and re-appending it fails LOUDLY — its rows
    // are indistinguishable inside sig/, so an overwrite-"correction"
    // would duplicate the shard (the skip-if-exists caller bug the
    // ledger exists to prevent)
    assert(Dedup.minhashShardAdmitted(spark, dir, "s1"),
      "compaction lost the folded shard's admission")
    assert(!Dedup.minhashShardAdmitted(spark, dir, "s2"))
    val ec = intercept[IllegalArgumentException] {
      Dedup.appendMinhashSigStore(dir, shard, "id", "body", shardId = "s1")
    }
    assert(ec.getMessage.contains("compacted"))
    // a NEW shard still appends after compaction, and a second
    // compaction folds it while the ledger ACCUMULATES (s1 ∪ s2)
    Dedup.appendMinhashSigStore(dir, shard2, "id", "body", shardId = "s2")
    assert(Dedup.minhashShardAdmitted(spark, dir, "s2"))
    assert(Dedup.compactMinhashSigStore(spark, dir))
    assert(Dedup.minhashShardAdmitted(spark, dir, "s1") &&
      Dedup.minhashShardAdmitted(spark, dir, "s2"),
      "the folded-shard ledger must accumulate across compactions")
  }

  test("signature store lifecycle works through a scheme-qualified (non-POSIX-path) URI") {
    import spark.implicits._
    // The production store lives on hdfs:// or s3a:// — java.io.File /
    // java.nio.file resolve NEITHER, and the r14 append discovery
    // (java.io.File.listFiles) returned null there, silently serving
    // ZERO appends. No HDFS minicluster in this environment, so the
    // regression pin uses a scheme-qualified file: URI: java.io.File
    // can't list "file:/..." either (it reads it as a relative path),
    // so every step below passes ONLY through the Hadoop FileSystem API.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven"))
      .toDF("id", "body")
    val shard = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta kappa"))
      .toDF("id", "body")
    val probe = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta mu"))
      .toDF("id", "body")
    val local = java.nio.file.Files.createTempDirectory("graft-sig-uri")
    val dir = "file:" + local.toString // scheme-qualified, not a POSIX path
    assert(!new java.io.File(dir).exists,
      "precondition: java.io.File must NOT resolve the qualified URI " +
        "(otherwise this test no longer pins the FileSystem-API path)")
    Dedup.writeMinhashSigStore(corpus, "id", "body", dir, ngram = 3, nHash = 8)
    assert(graft.operators.StoreFs.datasetComplete(spark, s"$dir/meta"))
    Dedup.appendMinhashSigStore(dir, shard, "id", "body", shardId = "day1")
    // the appended shard MUST be discovered: the (20, 10) pair exists
    // only if sig_append/ is listed — with the r14 java.io.File
    // discovery the serve still "works" (20 pairs with base doc 1)
    // while silently missing every appended partner
    val served = Dedup.searchMinhashSigStore(dir, probe, "id", "body",
      bandRows = 2, threshold = 0.4)
    // snapshot BEFORE compaction — the lazy frame's file listing dies
    // with the fold, exactly the mid-rewrite state the marker protocol
    // exists to gate against
    val servedRows = served.collect().map(_.toSeq).toSet
    assert(servedRows.exists(r => r(0) == 20L && r(1) == 10L && r(2) == false),
      "append written through a qualified URI was not served — the " +
        "silent-append-loss regression")
    // and the whole lifecycle closes: compaction over the URI store
    assert(Dedup.compactMinhashSigStore(spark, dir))
    val servedC = Dedup.searchMinhashSigStore(dir, probe, "id", "body",
      bandRows = 2, threshold = 0.4)
    assert(servedC.collect().map(_.toSeq).toSet == servedRows)
  }

  test("compaction consumes only the appends it folded and repairs the post-promote crash state") {
    import spark.implicits._
    import graft.operators.StoreFs
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven"))
      .toDF("id", "body")
    val shard = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta kappa"))
      .toDF("id", "body")
    val probe = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta mu"))
      .toDF("id", "body")
    val dir = java.nio.file.Files.createTempDirectory("graft-sig-race").toString
    Dedup.writeMinhashSigStore(corpus, "id", "body", dir, ngram = 3, nHash = 8)
    Dedup.appendMinhashSigStore(dir, shard, "id", "body", shardId = "day1")

    // an append that lands AFTER compaction's listing is, to the delete
    // phase, any sig_append/ child NOT in the folded set — modeled here
    // as a mid-copy (markerless, so unlisted) shard dir plus a live
    // staging dir of another shard. The old blanket tree-delete
    // destroyed both silently; now only the folded day1 may go.
    val fs = StoreFs.fs(spark, dir)
    def touch(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      fs.mkdirs(path.getParent)
      fs.create(path, true).close()
    }
    touch(s"$dir/sig_append/day2-midcopy/part-00000.parquet")
    touch(s"$dir/sig_append_tmp/day3-staging/part-00000.parquet")

    assert(Dedup.compactMinhashSigStore(spark, dir))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sig_append/day1")),
      "the folded shard must be consumed")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sig_append/day2-midcopy")),
      "compaction destroyed an append it did not fold — the concurrent-" +
        "admission data-loss shape")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sig_append_tmp/day3-staging")),
      "compaction destroyed another shard's live staging dir")
    assert(Dedup.minhashShardAdmitted(spark, dir, "day1"))
    val preRows = Dedup.searchMinhashSigStore(dir, probe, "id", "body",
      bandRows = 2, threshold = 0.4).collect().map(_.toSeq).toSet
    assert(preRows.exists(r => r(0) == 20L && r(1) == 10L))

    // post-promote crash: both promotes landed, consumed appends gone,
    // marker not yet restored. Re-running compaction must repair the
    // marker (it used to early-exit false forever), after which the
    // store serves identically.
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/sig_append/day2-midcopy"), true)
    StoreFs.deleteMarker(spark, s"$dir/meta")
    assert(!StoreFs.datasetComplete(spark, s"$dir/meta"))
    assert(!Dedup.compactMinhashSigStore(spark, dir),
      "repair path must still report that no compaction ran")
    assert(StoreFs.datasetComplete(spark, s"$dir/meta"),
      "post-promote crash state was not repaired")
    assert(Dedup.searchMinhashSigStore(dir, probe, "id", "body",
      bandRows = 2, threshold = 0.4).collect().map(_.toSeq).toSet == preRows)

    // the repair must NOT fire when the store is genuinely incomplete:
    // strip the marker AND the sig dataset's own commit marker — that
    // is a crashed base write, not a post-promote crash
    StoreFs.deleteMarker(spark, s"$dir/meta")
    StoreFs.deleteMarker(spark, s"$dir/sig")
    assert(!Dedup.compactMinhashSigStore(spark, dir))
    assert(!StoreFs.datasetComplete(spark, s"$dir/meta"),
      "repair fired on an incomplete sig/ — it must refuse")
    StoreFs.createMarker(spark, s"$dir/sig") // restore for any later walk
    assert(!Dedup.compactMinhashSigStore(spark, dir))
    assert(StoreFs.datasetComplete(spark, s"$dir/meta"))
  }

  test("a signature store of another shingle encoding is refused by serve, append and compact") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven")).toDF("id", "body")
    val shard = Seq((10L, "alpha beta gamma delta epsilon zeta eta kappa"))
      .toDF("id", "body")
    val dir = java.nio.file.Files.createTempDirectory("graft-sig-enc").toString
    Dedup.writeMinhashSigStore(corpus, "id", "body", dir, ngram = 3, nHash = 8)
    val meta = spark.read.parquet(s"$dir/meta").head()
    assert(meta.getAs[String]("encoding") == Dedup.shingleEncoding)
    val sigType = spark.read.parquet(s"$dir/sig").schema("s").dataType
    assert(sigType.sql == "ARRAY<BIGINT>", s"sig/ s is $sigType")
    Dedup.appendMinhashSigStore(dir, shard, "id", "body", shardId = "day1")
    def refused(what: String, recorded: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(Dedup.shingleEncoding) &&
        e.getMessage.contains(recorded), s"$what: ${e.getMessage}")
    }
    // the meta/ of a store written in the retired binary-digest layout,
    // and of one written before the encoding was recorded (same
    // structural fields, no `encoding`; its sig/ held hex strings)
    val retired = Seq(("id", "body", 3, 8, Dedup.retiredShingleEncoding))
      .toDF("id_col", "text_col", "ngram", "n_hash", "encoding")
    val unrecorded = Seq(("id", "body", 3, 8)).toDF("id_col", "text_col", "ngram", "n_hash")
    for ((oldMeta, recorded) <- Seq(retired -> s"'${Dedup.retiredShingleEncoding}'",
        unrecorded -> "none recorded")) {
      oldMeta.coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      assert(graft.operators.StoreFs.datasetComplete(spark, s"$dir/meta"))
      refused("serve", recorded)(Dedup.searchMinhashSigStore(dir, shard, "id", "body"))
      refused("append", recorded)(Dedup.appendMinhashSigStore(dir, shard, "id", "body",
        shardId = "day2"))
      refused("compact", recorded)(Dedup.compactMinhashSigStore(spark, dir))
      // nothing moved: the refused compaction left the append in place
      assert(graft.operators.StoreFs.datasetComplete(spark, s"$dir/sig_append/day1"))
    }
    // hand-built signature tables in either earlier layout — binary
    // digests, hex strings — are refused by name too, before the verify
    // kernel's type check
    val halves = Dedup.minhashSigTable(corpus, "id", "body", nHash = 8)
    def digestHex(k: org.apache.spark.sql.Column) =
      lower(concat(lpad(hex(element_at(col("s"), k)), 16, "0"),
        lpad(hex(element_at(col("s"), k + 1)), 16, "0")))
    val steps = sequence(lit(1), size(col("s")) - 1, lit(2))
    for ((oldSet, typ) <- Seq(transform(steps, k => unhex(digestHex(k))) -> "ARRAY<BINARY>",
        transform(steps, digestHex(_)) -> "ARRAY<STRING>")) {
      val oldTab = halves.withColumn("s", oldSet)
      assert(oldTab.schema("s").dataType.sql == typ)
      val e = intercept[IllegalArgumentException] {
        Dedup.minhashLsh(corpus, "id", "body", nHash = 8, sigTable = Some(oldTab))
      }
      assert(e.getMessage.contains(Dedup.shingleEncoding) &&
        e.getMessage.contains(typ) && e.getMessage.contains(Dedup.retiredShingleEncoding),
        e.getMessage)
    }
  }

  test("a signature store whose meta/ lacks a field is refused by name") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "body")
    val shard = Seq((10L, "alpha beta gamma delta epsilon zeta eta kappa"))
      .toDF("id", "body")
    val dir = java.nio.file.Files.createTempDirectory("graft-sig-meta").toString
    Dedup.writeMinhashSigStore(corpus, "id", "body", dir, ngram = 3, nHash = 8)
    val full = Seq(("id", "body", 3, 8, Dedup.shingleEncoding))
      .toDF("id_col", "text_col", "ngram", "n_hash", "encoding")
    for (missing <- Seq("id_col", "text_col", "ngram", "n_hash")) {
      full.drop(missing).coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalArgumentException](f)
        assert(e.getMessage.contains(s"'$missing'"), s"$what: ${e.getMessage}")
      }
      refused("serve")(Dedup.searchMinhashSigStore(dir, shard, "id", "body"))
      refused("append")(Dedup.appendMinhashSigStore(dir, shard, "id", "body",
        shardId = "day1"))
    }
    // a NULL n_hash is refused, never read as 0 minhashes
    Seq[(String, String, Int, Option[Int], String)](
        ("id", "body", 3, None, Dedup.shingleEncoding))
      .toDF("id_col", "text_col", "ngram", "n_hash", "encoding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    assert(intercept[IllegalArgumentException](
      Dedup.searchMinhashSigStore(dir, shard, "id", "body")).getMessage.contains("'n_hash'"))
    // the complete row serves again
    full.coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    Dedup.searchMinhashSigStore(dir, shard, "id", "body").collect()
  }

  test("sizedForWrite: tiny frames land as one file, the frame keeps its width") {
    import spark.implicits._
    import graft.operators.StoreFs
    def partFiles(dir: String): Int =
      StoreFs.fs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir))
        .count(st => st.isFile && st.getPath.getName.startsWith("part-"))
    // a near-empty frame spread over 16 partitions (the bench-scale
    // pathology: session-width cached frames writing one file each)
    val tiny = (1 to 40).toDF("x").repartition(16)
    val d1 = java.nio.file.Files.createTempDirectory("graft-szw1").toString
    StoreFs.sizedForWrite(tiny).write.mode("overwrite").parquet(d1)
    assert(partFiles(d1) == 1,
      s"40 rows across 16 partitions must land as ONE file, got ${partFiles(d1)}")
    // identical rows either way
    assert(spark.read.parquet(d1).as[Int].collect().sorted.toSeq == (1 to 40))
    // the frame's own stages keep their width: the sizing is one
    // shuffle after the frame whose partitions AQE sizes from measured
    // bytes, never a coalesce that narrows the frame's last stage
    val sized = StoreFs.sizedForWrite(tiny.select((col("x") * 2).as("x2")))
      .queryExecution.executedPlan.toString
    assert(sized.contains("REBALANCE_PARTITIONS_BY_NONE") && !sized.contains("Coalesce"),
      s"sizedForWrite must rebalance after the frame, not coalesce it:\n$sized")
    // end-to-end: a sig store written over a session-width corpus frame
    // serves from a single-file sig/ dataset with identical rows
    val corpus = (1L to 30L).map(i =>
        (i, s"alpha beta gamma delta epsilon zeta token$i mark${i % 7}"))
      .toDF("id", "body").repartition(16)
    val probe = Seq((99L, "alpha beta gamma delta epsilon zeta token3 mark3"))
      .toDF("id", "body")
    val dir = java.nio.file.Files.createTempDirectory("graft-szw3").toString
    Dedup.writeMinhashSigStore(corpus, "id", "body", dir, ngram = 3, nHash = 8)
    val sigFiles = partFiles(s"$dir/sig")
    assert(sigFiles == 1,
      s"the 30-row sig store must land as ONE file, got $sigFiles")
    val served = Dedup.searchMinhashSigStore(dir, probe, "id", "body",
      bandRows = 2, threshold = 0.4)
    assert(served.collect().nonEmpty, "the sized store must still serve matches")
  }

  test("Memo tiers: report carries tier, hit counts, and materialized bytes") {
    import spark.implicits._
    import graft.operators.Memo
    Memo.clear()
    val t = Memo.cached("spec/report/trained") { Seq(1, 2, 3).toDF("x") }
    Memo.cachedCorpus("spec/report/corpus") { Seq((1L, "a"), (2L, "b")).toDF("i", "s") }
    t.count() // materialize the bounded entry so its stats are real bytes
    Memo.cached("spec/report/trained") { fail("hit must not rebuild") }
    Memo.cached("spec/report/trained") { fail("hit must not rebuild") }
    val rep = Memo.report.map(e => e.key -> e).toMap
    assert(rep.keySet == Set("spec/report/trained", "spec/report/corpus"))
    assert(rep("spec/report/trained").tier == "bounded")
    assert(rep("spec/report/corpus").tier == "corpus")
    assert(rep("spec/report/trained").hits == 2L)
    assert(rep("spec/report/corpus").hits == 0L)
    assert(rep("spec/report/trained").bytes > 0L,
      "a materialized entry must report its cached footprint")
    assert(rep("spec/report/trained").repersists == 0L)
    Memo.clear()
    assert(Memo.report.isEmpty)
  }
}
