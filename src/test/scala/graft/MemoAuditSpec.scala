package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Q
import graft.operators.Memo

/** Mechanized memo-tier audit (the broadcast-hint-audit pattern applied
  * to the session memo): building the full registry registers every
  * memoized frame, and each one must be a CONSCIOUS, annotated choice —
  * a new `Memo.cached`/`cachedCorpus` call site fails here until its
  * tag is allowlisted with the tier that matches its size contract.
  * The contract under audit (operators/Memo.scala tier doc):
  *
  *  - "bounded" entries ([[Memo.cached]]) are sized by model constants
  *    or operator output — trained models, graph finals, verified pair
  *    sets — never by corpus rows;
  *  - "corpus" entries ([[Memo.cachedCorpus]]) are per-corpus-ROW
  *    derived tables (the dedup signature tables over documents, the
  *    PQ/kmeans per-vector frames over embeddings): at most a DECLARED
  *    small per-row factor times the base table (1 for signatures,
  *    m = 8 for PQ's sliced sub-vectors) — memoizing an EXPLODED
  *    stream (per-token/per-shingle rows) would blow the executor
  *    cache at scale and fails the row bound here;
  *  - every bounded entry persists with a disk fallback (an OOM-safe
  *    storage level), since memo entries outlive per-query cache
  *    scopes; every corpus entry is a written table holding no RDD
  *    storage.
  */
class MemoAuditSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("memo entries: annotated tier allowlist, disk fallback, size contracts") {
    Memo.clear()
    val sf = s"${Q.testdataRoot}/sf0.001"
    // building a query is enough to REGISTER its memo entries (cached()
    // runs at plan-build time); streaming queries are excluded because
    // building them executes the stream (PlanAuditSpec convention)
    Q.registry.filterNot(q => q.name.startsWith("stream_") || q.buildExecutes).foreach { q =>
      try q.build(spark, sf)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val rep = Memo.report
    assert(rep.nonEmpty, "registry build must register memo entries")
    // tag → allowed tiers, each with its size rationale. A tag may
    // legitimately span both tiers when one trained chain produces a
    // model AND a per-row frame (pq: codebooks are bounded, the sliced
    // sub-vector table and final assignment are corpus-proportional;
    // km: centroid chain bounded, final assignment corpus-proportional).
    val allow: Map[String, Set[String]] = Map(
      "tok" -> Set("corpus"),   // dedup-family minhash signature table: 1 row/doc
      "sh" -> Set("corpus"),    // simhash fingerprint table: 1 row/doc
      "mh" -> Set("bounded"),   // verified minhash pair set: output-sized
      "mhcc" -> Set("bounded"), // CC labels over that pair set: one row per clustered doc
      "ngp" -> Set("bounded"),  // n-gram pair stats, C>=0.8 prefiltered: emitted-pair-sized
      "prcp" -> Set("bounded"), // co-purchase PageRank edges/ranks: graph-sized
      "prdir" -> Set("bounded"),// directed PageRank edges/ranks: graph-sized
      "prkr" -> Set("bounded"), // keep-rank PageRank edges/ranks: pair-graph-sized
      "tricp" -> Set("bounded"),// triangle counts: node-sized
      "lpa" -> Set("bounded"),  // LPA labels/edges: graph-sized
      "km" -> Set("bounded", "corpus"),  // centroid chain / per-vector assignment
      "pq" -> Set("bounded", "corpus"),  // m·kCodes codebooks / m-per-vector frames
      "tfidf" -> Set("bounded"),// trained IDF table: vocabulary-sized
      "bglm" -> Set("bounded"), // trained bigram LM: bigram-vocabulary-sized
      "clf-thhe-v1" -> Set("bounded")) // trained IRLS β: feature-count rows
    val docsN = spark.read.parquet(s"$sf/documents.parquet").count()
    val vecsN = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // corpus-tier row bound per tag: (base row count, per-row factor).
    // The factor is the DECLARED small constant a chain may emit per
    // corpus row (pq slices each vector into m = 8 sub-vector rows);
    // anything above it is the exploded-stream class the tier forbids.
    val corpusBound: Map[String, (Long, Long)] = Map(
      "tok" -> (docsN, 1L), "sh" -> (docsN, 1L),
      "km" -> (vecsN, 1L), "pq" -> (vecsN, 8L))
    val offenders = rep.flatMap { e =>
      val tag = e.key.takeWhile(_ != ':')
      allow.get(tag) match {
        case None => Some(s"${e.key}: tag '$tag' not on the memo allowlist")
        case Some(tiers) if !tiers.contains(e.tier) =>
          Some(s"${e.key}: registered in tier '${e.tier}', allowlisted as '$tiers'")
        case Some(_) if e.tier == "corpus" && !corpusBound.contains(tag) =>
          Some(s"${e.key}: corpus-tier tag '$tag' has no declared row bound")
        case _ if e.tier == "corpus" && !e.storage.startsWith("written:") =>
          Some(s"${e.key}: corpus-tier entry is not a written table (${e.storage})")
        case _ if e.tier == "corpus" && Memo.lookup(e.key).exists(_.storageLevel.isValid) =>
          Some(s"${e.key}: corpus-tier entry holds RDD storage")
        case _ if !e.storage.contains("disk") && !e.storage.startsWith("written:") =>
          Some(s"${e.key}: storage '${e.storage}' has no disk fallback")
        case _ => None
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // size contracts at the fixture scale. Corpus tier: at most the
    // declared per-row factor times the base table — the sharp check
    // against memoizing an exploded per-token stream. Bounded tier: a
    // generous constant cap that catches the same blow-up class (an
    // exploded or candidate-join frame sneaking into the memo);
    // doc-proportionality of bounded entries is guarded by the tier
    // allowlist above, not by the cap (at 50-doc fixture scale a row
    // bound cannot separate the two).
    val sizeOffenders = rep.flatMap { e =>
      val tag = e.key.takeWhile(_ != ':')
      val rows = Memo.lookup(e.key).map(_.count()).getOrElse(-1L)
      if (e.tier == "corpus") corpusBound.get(tag).collect {
        case (base, factor) if rows > base * factor =>
          s"${e.key}: corpus-tier entry has $rows rows > $factor x $base base rows"
      }
      else if (e.tier == "bounded" && rows > 65536L)
        Some(s"${e.key}: bounded-tier entry has $rows rows (cap 65536)")
      else None
    }
    assert(sizeOffenders.isEmpty, sizeOffenders.mkString("\n"))
    Memo.clear()
  }

  test("corpus-tier written-table conversion: identical rows, build-once, hit after eviction") {
    import spark.implicits._
    val conf = "spark.graft.memo.corpusSpillDir"
    val root = java.nio.file.Files.createTempDirectory("graft-memo-spill").toString
    Memo.clear()
    try {
      spark.conf.set(conf, root)
      val key = "tok:/spec/spill-corpus@deadbeef"
      def corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon"))
        .toDF("doc_id", "text")
      val expected = corpus.collect().map(_.toSeq).toSet

      // first call: builds, WRITES the table (committer marker present),
      // serves the written rows exactly
      val first = Memo.cachedCorpus(key)(corpus)
      assert(first.collect().map(_.toSeq).toSet == expected,
        "written-table serve diverged from the built frame")
      val writtenDirs = new java.io.File(root).listFiles.filter(_.isDirectory)
      assert(writtenDirs.length == 1 && writtenDirs.head.getName.startsWith("tok-"),
        s"expected one tok-prefixed written dir, got ${writtenDirs.map(_.getName).toSeq}")
      assert(graft.operators.StoreFs.datasetComplete(spark, writtenDirs.head.toString),
        "written corpus entry lacks its _SUCCESS commit marker")

      // in-session hit: the builder must not run again
      val second = Memo.cachedCorpus(key)(fail("in-session hit must not rebuild"))
      assert(second.collect().map(_.toSeq).toSet == expected)

      // the report marks the entry as written (the 100 TB posture is
      // observable, not inferred)
      val stat = Memo.report.find(_.key == key).get
      assert(stat.tier == "corpus" && stat.storage.startsWith("written:"),
        s"written entry reported as (${stat.tier}, ${stat.storage})")

      // EVICTION (and session-restart) hit: clearing the in-memory memo
      // models losing every executor cache pin — the next call must
      // serve from the committed table without rebuilding
      Memo.clear()
      val third = Memo.cachedCorpus(key)(fail("post-eviction hit must not rebuild"))
      assert(third.collect().map(_.toSeq).toSet == expected,
        "post-eviction serve from the written table diverged")

      // a signature table's array<bigint> shingle sets (digest halves)
      // round-trip the written table exactly, as the same type
      import org.apache.spark.sql.functions.col
      import graft.operators.Dedup
      def docs = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four five"))
        .toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = {
        assert(df.schema("s").dataType.sql == "ARRAY<BIGINT>", df.schema("s").dataType)
        df.select(col("doc_id"), col("s"), col("mh0"), col("mh1"))
          .collect().map(_.toSeq).toSet
      }
      val sigKey = "tok:/spec/spill-sig@0ddba11"
      val sigWritten = Dedup.minhashSigTable(docs, "doc_id", "text", nHash = 2,
        memoKey = Some(sigKey))
      assert(Memo.report.exists(e => e.key.startsWith(sigKey) &&
        e.storage.startsWith("written:")), "signature table was not written")
      assert(rows(sigWritten) == rows(Dedup.minhashSigTable(docs, "doc_id", "text",
        nHash = 2)), "written signature table diverged from the built frame")
    } finally {
      spark.conf.unset(conf)
      Memo.clear()
    }
  }

  test("default corpus-tier posture: written under the per-application root, no RDD storage, reported on-disk bytes") {
    import spark.implicits._
    Memo.clear()
    try {
      val key = "tok:/spec/spill-default@cafe"
      def corpus = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      val cachedBefore = spark.sparkContext.getRDDStorageInfo.filter(_.isCached).map(_.id).toSet
      val df = Memo.cachedCorpus(key)(corpus)
      assert(df.collect().map(_.toSeq).toSet == corpus.collect().map(_.toSeq).toSet,
        "written-table serve diverged from the built frame")
      val sc = spark.sparkContext
      val appRoot = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_corpus_memo-${sc.applicationId}-${sc.startTime}")
      val stat = Memo.report.find(_.key == key).get
      assert(stat.tier == "corpus" && stat.storage.startsWith(s"written:${appRoot.getPath}/tok-"),
        s"default corpus entry reported as (${stat.tier}, ${stat.storage}) under $appRoot")
      assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        s"default corpus entry is cached at ${df.storageLevel}")
      assert(sc.getRDDStorageInfo.filter(_.isCached).map(_.id).toSet == cachedBefore,
        "serving a default corpus entry added RDD storage")
      // the report's bytes are the written table's on-disk Parquet bytes
      val parts = new java.io.File(stat.storage.stripPrefix("written:")).listFiles
        .filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty && stat.bytes == parts.map(_.length).sum,
        s"reported ${stat.bytes} bytes, on disk ${parts.map(_.length).sum}")
      // clear() drops the session's written tables with the entries
      Memo.clear()
      assert(!appRoot.exists, s"clear() left the per-application root $appRoot")
    } finally Memo.clear()
  }

  test("the per-application corpus root is deleted when its SparkContext stops") {
    // a context cannot be stopped under the shared test session, so a
    // child JVM on this classpath builds, serves and stops its own
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++ Seq("-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), "graft.MemoAppRootProbe")
    val out = new StringBuilder
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), _ => ()))
    val lines = out.toString.linesIterator.toSeq
    assert(rc == 0, s"probe JVM exited $rc:\n$out")
    val root = lines.collectFirst { case s"root $r" => r }.get
    assert(lines.contains("before stop: present"), out.toString)
    assert(lines.contains("after stop: absent"), out.toString)
    assert(!new java.io.File(root).exists, s"$root outlived its context")
  }

  test("a corpus write does not hold the memo lock: report returns while a build is blocked") {
    import spark.implicits._
    Memo.clear()
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val builder = new Thread(() => {
      Memo.cachedCorpus("tok:/spec/lock@1") {
        entered.countDown()
        release.await()
        Seq((1L, "a")).toDF("doc_id", "text")
      }
      ()
    })
    builder.start()
    try {
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS), "build never started")
      val rep = scala.concurrent.Future(Memo.report)(scala.concurrent.ExecutionContext.global)
      val keys = scala.concurrent.Await.result(rep, scala.concurrent.duration.Duration(10, "s"))
        .map(_.key)
      assert(!keys.contains("tok:/spec/lock@1"), "entry registered before its build finished")
    } finally {
      release.countDown()
      builder.join(120000)
    }
    assert(Memo.report.exists(_.key == "tok:/spec/lock@1"), "entry not registered after its build")
    Memo.clear()
  }

  test("written-table promotion: crashed partials repaired, complete dirs immutable, lost race discarded") {
    import spark.implicits._
    import graft.operators.StoreFs
    val conf = "spark.graft.memo.corpusSpillDir"
    val root = java.nio.file.Files.createTempDirectory("graft-memo-race").toString
    Memo.clear()
    try {
      spark.conf.set(conf, root)
      val key = "tok:/spec/race-corpus@feedface"
      def corpus = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
      val expected = corpus.collect().map(_.toSeq).toSet

      // CRASHED PARTIAL: a writer that died mid-promote leaves data
      // files but no _SUCCESS. The next cachedCorpus must replace it
      // and serve the rebuilt rows, not trust (or trip over) the wreck.
      val first = Memo.cachedCorpus(key)(corpus)
      val dir = new java.io.File(root).listFiles.filter(_.isDirectory).head.toString
      Memo.clear()
      StoreFs.deleteMarker(spark, dir)
      val repaired = Memo.cachedCorpus(key)(corpus)
      assert(repaired.collect().map(_.toSeq).toSet == expected,
        "crashed-partial repair served wrong rows")
      assert(StoreFs.datasetComplete(spark, dir),
        "repair did not restore the commit marker")

      // COMPLETE DIR IS IMMUTABLE: promoteIfAbsent over a complete
      // dataset must refuse (lost race), delete the loser's stage, and
      // leave the winner's files byte-identical.
      val before = new java.io.File(dir).listFiles.map(_.getName).toSet
      val stage = s"$root/.stage-loser"
      Seq((9L, "loser")).toDF("doc_id", "text").write.parquet(stage)
      StoreFs.deleteMarker(spark, stage)
      assert(!StoreFs.promoteIfAbsent(spark, stage, dir),
        "promoteIfAbsent clobbered a complete dataset")
      assert(!new java.io.File(stage).exists, "lost-race stage not discarded")
      assert(new java.io.File(dir).listFiles.map(_.getName).toSet == before,
        "complete dataset mutated by a lost-race promotion")
      Memo.clear()
      val served = Memo.cachedCorpus(key)(fail("complete dir must serve without rebuild"))
      assert(served.collect().map(_.toSeq).toSet == expected)
    } finally {
      spark.conf.unset(conf)
      Memo.clear()
    }
  }
}
