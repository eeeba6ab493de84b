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
  *  - every entry persists with a disk fallback (an OOM-safe storage
  *    level), since memo entries outlive per-query cache scopes.
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
    // with the conf unset the default executor-cache posture is intact
    val df = Memo.cachedCorpus("tok:/spec/spill-default@cafe") {
      Seq((1L, "a")).toDF("doc_id", "text")
    }
    assert(df.storageLevel.useDisk && df.storageLevel.useMemory,
      "default corpus-tier posture must remain MEMORY_AND_DISK")
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
