package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps

/** Multi-batch delivery contract of the streaming operators: the
  * registry queries replay bounded input in ONE micro-batch (oracle
  * gate), but the operators claim batch-split invariance — a live
  * source delivers the same rows across many micro-batches, carrying
  * state between them. These tests deliver the same events file-at-a-
  * time (`maxFilesPerTrigger = 1`, file order pinned by modification
  * time) and pin the results equal to single-batch delivery:
  * sessionize must carry open-session state across batches and its
  * change-log compaction must collapse the per-batch snapshots;
  * watermarked dedup must suppress duplicates arriving in later
  * batches inside the horizon. */
class StreamSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  /** Write each row group as its own parquet file (ordered mtimes) and
    * return a file-at-a-time readStream over the directory. */
  private def fileAtATimeStream(name: String, batches: Seq[Seq[(Long, Long, String)]]): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft_streamspec_$name")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val f = dir.resolve(s"b$i.parquet")
      rows.toDF("user_id", "t", "event_type")
        .select(col("user_id"), expr("timestamp_micros(t * 1000000)").as("ts"),
          col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(f.toString)
      // FileStreamSource orders by modification time; pin it explicitly
      Files.walk(f).forEach(p =>
        p.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(dir.resolve("b0.parquet").toString).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString + "/*")
  }

  private def oneBatchStream(name: String, rows: Seq[(Long, Long, String)]): DataFrame =
    fileAtATimeStream(name, Seq(rows)) // single file ⇒ single batch

  // base time: seconds — two users, sessions split by the 1800 s gap,
  // with user 1's FIRST session spanning the batch boundary (forces
  // cross-batch state carry) and user 2 opening a new session in b1
  private val t0 = 1000000L
  private val batch0 = Seq(
    (1L, t0, "click"), (1L, t0 + 600, "click"),
    (2L, t0 + 100, "click"))
  private val batch1 = Seq(
    (1L, t0 + 1200, "click"),            // extends user 1's open session
    (1L, t0 + 1200 + 2000, "click"),     // > gap ⇒ second session
    (2L, t0 + 100 + 5000, "click"))      // > gap ⇒ second session
  private val allRows = batch0 ++ batch1

  test("sessionize: file-at-a-time delivery compacts to the single-batch answer") {
    def run(ev: DataFrame, name: String) =
      StreamOps.sessionizeCompact(
        StreamOps.runToMemory(spark, StreamOps.sessionizePlan(spark, ev),
          name, OutputMode.Append()))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    val multi = run(fileAtATimeStream("sess_multi", Seq(batch0, batch1)), "t_sess_multi")
    val single = run(oneBatchStream("sess_single", allRows), "t_sess_single")
    val expected = Seq(
      (1L, 0L, t0, t0 + 1200, 3L),                       // spans the batch split
      (1L, 1L, t0 + 3200, t0 + 3200, 1L),
      (2L, 0L, t0 + 100, t0 + 100, 1L),
      (2L, 1L, t0 + 5100, t0 + 5100, 1L))
    assert(multi == expected, s"multi-batch sessionize diverged: $multi")
    assert(single == expected, s"single-batch sessionize diverged: $single")
  }

  test("sessionize is provider-identical under the RocksDB state store") {
    // The sessionize scaladoc names RocksDBStateStoreProvider as the
    // cluster-scale knob (per-user state off the executor heap; the
    // default HDFSBackedStateStore holds each partition's full map in
    // memory). This turns the documented config into a regression-
    // guarded one: a typo'd class name or a provider incompatibility
    // with flatMapGroupsWithState/EventTimeTimeout fails HERE, not on
    // the cluster. Multi-batch delivery so state genuinely round-trips
    // the store between micro-batches; output must be identical.
    def run(name: String) =
      StreamOps.sessionizeCompact(
        StreamOps.runToMemory(spark,
          StreamOps.sessionizePlan(spark,
            fileAtATimeStream(name, Seq(batch0, batch1))),
          s"t_$name", OutputMode.Append()))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    val default = run("sess_prov_dflt")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = run("sess_prov_rocks")
      assert(rocks.nonEmpty && rocks == default,
        s"RocksDB-provider sessionize diverged from the default provider: $rocks")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sessionize evicts state past the watermark horizon (timed-out user re-sessionizes)") {
    // b0 opens user 1's session (ends t0+600; gap horizon t0+2400).
    // b1/b2 are user-2-only batches far in the future: b1's max ts
    // drives the watermark past user 1's horizon, and during b2 —
    // a batch where user 1 has NO data — the EventTimeTimeout fires
    // and REMOVES user 1's state (under NoTimeout it lived forever).
    // b3 then delivers a fresh user-1 event: with the state gone it
    // re-sessionizes from session_id 0; were the state still there,
    // the gap path would have numbered it session_id 1.
    val far = t0 + 100000L // ≈ 27.8 h later
    val b0 = Seq((1L, t0, "click"), (1L, t0 + 600, "click"))
    val b1 = Seq((2L, far, "click"))
    val b2 = Seq((2L, far + 10, "click"))
    val b3 = Seq((1L, far + 500, "click"))
    val got = StreamOps.sessionizeCompact(
      StreamOps.runToMemory(spark,
        StreamOps.sessionizePlan(spark,
          fileAtATimeStream("sess_evict", Seq(b0, b1, b2, b3))),
        "t_sess_evict", OutputMode.Append()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val expected = Seq(
      (1L, 0L, t0, t0 + 600, 2L),           // original session, final snapshot from b0
      (1L, 0L, far + 500, far + 500, 1L),   // re-sessionized at id 0 ⇒ state was evicted
      (2L, 0L, far, far + 10, 2L))
    assert(got == expected, s"eviction contract diverged: $got")
  }

  test("stream-stream interval join carries both sides' state across batches") {
    import spark.implicits._
    // purchases in batch 0, their in-window clicks in batch 1 (and one
    // click BEFORE its trigger arrives, exercising the other buffer
    // direction) — every pairing requires state to survive the split
    def rows(b: Seq[(Long, Long, String, Long, Double)]) = b.toDF(
        "event_id", "user_id", "event_type", "t", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(t * 1000000)").as("ts"), col("value"))
    val dir = Files.createTempDirectory("graft_streamspec_ij")
    val b0 = Seq(
      (100L, 1L, "purchase", t0, 0.0),
      (101L, 2L, "click", t0 + 50, 2.0))     // click before user 2's purchase
    val b1 = Seq(
      (102L, 1L, "click", t0 + 120, 1.0),    // in [τ−600, τ+300] of purchase 100
      (103L, 2L, "purchase", t0 + 200, 0.0), // joins the earlier click 101
      (104L, 1L, "click", t0 + 5000, 9.0))   // out of window: no match
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      val f = dir.resolve(s"b$i.parquet")
      rows(b).coalesce(1).write.mode("overwrite").parquet(f.toString)
      Files.walk(f).forEach(p => p.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(dir.resolve("b0.parquet").toString).schema
    def run(opts: Map[String, String], name: String) = {
      val ev = opts.foldLeft(spark.readStream.schema(schema)) {
        case (r, (k, v)) => r.option(k, v)
      }.parquet(dir.toString + "/*")
      StreamOps.runToMemory(spark, StreamOps.intervalJoinPlan(ev),
          name, OutputMode.Append())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val multi = run(Map("maxFilesPerTrigger" -> "1"), "t_ij_multi")
    val single = run(Map.empty, "t_ij_single")
    val expected = Set(
      (100L, 120L, 1.0),   // trig 100 ← click at +120 (state: trigger waited)
      (103L, -150L, 2.0))  // trig 103 ← click at −150 (state: click waited)
    assert(multi == expected, s"multi-batch interval join diverged: $multi")
    assert(single == expected, s"single-batch interval join diverged: $single")
  }

  test("watermarked dedup suppresses in-horizon duplicates arriving in a later batch") {
    def run(ev: DataFrame, name: String) =
      StreamOps.runToMemory(spark, StreamOps.dedupPlan(ev), name, OutputMode.Append())
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // duplicates of (click, 1) and (click, 2) land in the second batch,
    // well inside the 1-hour horizon; (buy, 1) is a distinct key
    val b0 = Seq((1L, t0, "click"), (2L, t0 + 10, "click"))
    val b1 = Seq((1L, t0 + 600, "click"), (2L, t0 + 700, "click"), (1L, t0 + 800, "buy"))
    val multi = run(fileAtATimeStream("dedup_multi", Seq(b0, b1)), "t_dedup_multi")
    val single = run(oneBatchStream("dedup_single", b0 ++ b1), "t_dedup_single")
    assert(multi == Map("click" -> 2L, "buy" -> 1L), s"got $multi")
    assert(single == multi)
    // provider pin for the SECOND stateful shape: the
    // dropDuplicatesWithinWatermark key state rides a different
    // state-store access path than flatMapGroupsWithState — guard it
    // under RocksDB too (same rationale as the sessionize pin)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = run(
        fileAtATimeStream("dedup_rocks", Seq(b0, b1)), "t_dedup_rocks")
      assert(rocks == multi,
        s"RocksDB-provider watermarked dedup diverged: $rocks")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("outer interval join: null row emits only once the watermark closes the window") {
    import spark.implicits._
    def rows(b: Seq[(Long, Long, String, Long)]) = b.toDF(
        "event_id", "user_id", "event_type", "t")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(t * 1000000)").as("ts"))
    val dir = Files.createTempDirectory("graft_streamspec_ijo")
    val far = t0 + 10000L
    val b0 = Seq(
      (100L, 1L, "purchase", t0),        // matched by click 101 — emits in-batch
      (101L, 1L, "click", t0 + 100),
      (102L, 2L, "purchase", t0 + 50))   // never matched — needs the watermark
    val b1 = Seq(                        // far future: advances BOTH sides' maxima
      (110L, 8L, "purchase", far),       // (the query watermark is their MIN), so
      (111L, 9L, "click", far + 10))     // 102's window closes; 110 stays open
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      val f = dir.resolve(s"b$i.parquet")
      rows(b).coalesce(1).write.mode("overwrite").parquet(f.toString)
      Files.walk(f).forEach(p => p.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(dir.resolve("b0.parquet").toString).schema
    def run(opts: Map[String, String], name: String) = {
      val ev = opts.foldLeft(spark.readStream.schema(schema)) {
        case (r, (k, v)) => r.option(k, v)
      }.parquet(dir.toString + "/*")
      StreamOps.runToMemory(spark, StreamOps.intervalJoinOuterPlan(ev),
          name, OutputMode.Append())
        .collect().map(r => (r.getLong(0), Option(r.get(2)))).toSet
    }
    val multi = run(Map("maxFilesPerTrigger" -> "1"), "t_ijo_multi")
    val single = run(Map.empty, "t_ijo_single")
    val expected = Set(
      (100L, Some(t0 + 100)),  // matched — emitted on arrival
      (102L, None))            // null-padded by the watermark batch; 110 withheld
    assert(multi == expected, s"multi-batch outer join diverged: $multi")
    assert(single == expected, s"single-batch outer join diverged: $single")
  }

  test("ingest near-dup: file-at-a-time arrival matches single-batch; band repeats compact; both index-join paths agree") {
    import spark.implicits._
    // near-identical texts (one token changed out of 12) share most
    // 3-gram shingles → several band collisions per pair; doc 30 is
    // unrelated. Old corpus: 10, 11, 30; arrivals: 20 (≈10/11), 21
    // (unrelated) — split across two micro-batches.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val oldDocs = Seq(
      (10L, base),
      (11L, base.replace("mu", "nu")),
      (30L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val index = StreamOps.nearDupIndex(oldDocs)
    val b0 = Seq((20L, base.replace("alpha", "omega")))
    val b1 = Seq((21L, "cold warm hot cool mild damp dry wet icy calm"))
    def run(batches: Seq[Seq[(Long, String)]], name: String,
        broadcastIndex: Boolean = false) = {
      val dir = Files.createTempDirectory(s"graft_streamspec_$name")
      batches.zipWithIndex.foreach { case (rows, i) =>
        val f = dir.resolve(s"b$i.parquet")
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(f.toString)
        Files.walk(f).forEach(p => p.toFile.setLastModified(1700000000000L + i * 60000L))
      }
      val schema = spark.read.parquet(dir.resolve("b0.parquet").toString).schema
      val arriving = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString + "/*")
      StreamOps.runToMemory(spark,
          StreamOps.nearDupPlan(arriving, index, threshold = 0.5,
            broadcastIndex = broadcastIndex),
          name, OutputMode.Append(), watermarkFlush = false)
    }
    val rawMulti = run(Seq(b0, b1), "t_nd_multi")
    // pre-compaction, the near-identical pair collides in >1 band
    assert(rawMulti.count() > rawMulti.distinct().count(),
      "expected band-repeat rows before the post-sink DISTINCT")
    def compact(df: DataFrame) = df.distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = compact(rawMulti)
    val single = compact(run(Seq(b0 ++ b1), "t_nd_single"))
    assert(multi == Set((20L, 10L), (20L, 11L)), s"got $multi")
    assert(single == multi, s"single-batch diverged: $single vs $multi")
    // the opt-in broadcast path (known-small index) emits the same pairs
    // as the default pre-partitioned shuffled stream-static join
    val bcast = compact(run(Seq(b0, b1), "t_nd_bcast", broadcastIndex = true))
    assert(bcast == multi, s"broadcast-index path diverged: $bcast vs $multi")
  }

  test("streaming source and checkpoint work through scheme-qualified (non-POSIX-path) URIs") {
    // The replay staging used to symlink the source into java.io.tmpdir
    // and walk the checkpoint with java.nio — both silently local-only
    // (the same class the sig store was cured of: java.nio resolves
    // nothing on hdfs:// or even a scheme-qualified file: URI). The
    // stream now reads the file's parent directory with a
    // pathGlobFilter and creates/deletes the checkpoint through the
    // Hadoop FileSystem API, so BOTH paths must work when every URI is
    // scheme-qualified. No HDFS minicluster here; "file:" URIs pin the
    // FS-API path exactly as LibraryOpsSpec's store test does.
    val sf = s"${graft.queries.Q.testdataRoot}/sf0.001"
    assert(!new java.io.File(s"file:$sf/events.parquet").exists,
      "precondition: java.io.File must NOT resolve the qualified URI")
    val plain = StreamOps.streamingDedup(spark, sf)
      .collect().map(_.toSeq).toSet
    val ckptBase = java.nio.file.Files.createTempDirectory("graft-ckpt-uri")
    spark.conf.set("spark.graft.stream.checkpointDir", s"file:$ckptBase")
    try {
      val qualified = StreamOps.streamingDedup(spark, s"file:$sf")
        .collect().map(_.toSeq).toSet
      assert(qualified == plain,
        "scheme-qualified source/checkpoint replay diverged from the local-path replay")
    } finally spark.conf.unset("spark.graft.stream.checkpointDir")
  }

  test("a directory handed to the single-file stream fails loudly, not silently empty") {
    // pathGlobFilter matches LEAF file names, so a parquet DIRECTORY
    // (part-* files inside) would match nothing and replay an empty
    // stream — zero rows, zero errors. The guard must trip instead.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dir-table")
    val table = s"$dir/events.parquet" // a DIRECTORY named like the file
    Seq((1L, "a")).toDF("id", "v").write.parquet(table)
    val e = intercept[IllegalArgumentException] {
      StreamOps.streamingDedup(spark, dir.toString)
    }
    assert(e.getMessage.contains("directory"),
      s"expected the loud directory guard, got: ${e.getMessage}")
  }

  test("nearDupIndex from a signature table equals the inline text stage") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.StreamOps
    // the static-index half of ingest-time near-dup may be served from
    // the family-shared signature table (r13) — rows must be identical
    // to the inline hashing form, including the over-population guard
    val docs = Seq(
      (1L, "old", "alpha beta gamma delta epsilon zeta"),
      (2L, "old", "alpha beta gamma delta epsilon eta"),
      (3L, "old", "one two three four five six"),
      (4L, "old", "xx")) // < ngram tokens: absent from both forms
      .toDF("doc_id", "source", "text")
    val st = Dedup.minhashSigTable(docs, "doc_id", "text",
      carry = Seq("source"), ngram = 3, nHash = 8)
    val inline = StreamOps.nearDupIndex(docs, nHash = 8)
      .collect().map(_.toSeq).toSet
    val fromSig = StreamOps.nearDupIndex(docs, nHash = 8,
      sigTable = Some(st)).collect().map(_.toSeq).toSet
    assert(inline == fromSig && inline.nonEmpty)
  }
}
