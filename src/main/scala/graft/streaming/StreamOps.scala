package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming operators (SURVEY §7.2 M5): event-time windowed
  * aggregation under a watermark, and custom sessionization state via
  * `flatMapGroupsWithState`.
  *
  * The engine's streams are replayable from the same parquet the batch
  * queries read (`readStream` file source), so each operator here has a
  * batch twin with an identical column contract and a DuckDB oracle —
  * bounded-input replay makes the streaming results deterministic and
  * hash-comparable. At scale the same code runs against a live source
  * (Kafka etc.) unchanged: only the `readStream.format` differs.
  */
object StreamOps {

  /** Schema probes already taken, keyed by path: the batch footer read
    * behind `spark.read.parquet(...).schema` costs a listing + footer
    * parse per call, and every bench rep of every stream query pays it
    * for the SAME immutable file otherwise. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Replay-source sizes already probed, keyed by path (same lifetime
    * contract as [[schemaCache]]); feeds the adaptive state width in
    * [[runToMemory]]. getContentSummary serves files and directories
    * through the same FS API the stream reads with. */
  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def probeBytes(spark: SparkSession, path: String): Long =
    sizeCache.computeIfAbsent(path, p =>
      Long.box(graft.operators.StoreFs.fs(spark, p)
        .getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength))

  /** File-source readStream over the events table (schema taken from a
    * batch probe — file streams require a declared schema; cached per
    * path). Normalizes the ns-long `ts` to a µs timestamp exactly like
    * Tables.events. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (raw, schema) = singleFileStream(spark, s"$sfDir/events.parquet")
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // see Tables.events: value-preserving under the UTC session tz
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** File-source readStream over the documents table — the
    * arriving-crawl-shard side of ingest-time operators. */
  def docsStream(spark: SparkSession, sfDir: String): DataFrame =
    singleFileStream(spark, s"$sfDir/documents.parquet")._1

  /** A readStream over one parquet FILE: the file-stream source wants a
    * DIRECTORY (its basePath and discovery model), so the stream reads
    * the file's PARENT directory with a `pathGlobFilter` pinned to the
    * file name — the standard file-source option, applied by the
    * stream's own listing. No staging, no copies, and (unlike the
    * previous tmpdir-symlink staging, which only java.nio local paths
    * could serve) the source path may live on ANY Hadoop filesystem —
    * hdfs://, s3a://, or a scheme-qualified file: URI — because both
    * the discovery and the schema probe go through the same FS API
    * Spark reads with. A production deployment points the stream at a
    * directory per table and drops the filter; the single-file shape is
    * the bounded-replay harness's. Schema comes from a cached batch
    * probe — file streams require a declared schema. */
  private def singleFileStream(spark: SparkSession,
      path: String): (DataFrame, org.apache.spark.sql.types.StructType) = {
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    val p = new org.apache.hadoop.fs.Path(path)
    require(p.getParent != null, s"single-file stream path has no parent: $path")
    // `pathGlobFilter` matches LEAF file names during listing, so a
    // parquet DIRECTORY here (part-* files under `path`) would match
    // nothing and stream silently empty — the wrong-answer-no-error
    // shape. Fail loudly instead; a directory table streams directly
    // (`spark.readStream.parquet(dir)`), no filter needed.
    require(graft.operators.StoreFs.fs(spark, path)
        .getFileStatus(p).isFile,
      s"singleFileStream requires a single FILE; $path is a directory — " +
        "stream the directory itself without a pathGlobFilter")
    (spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString), schema)
  }

  /** Run a bounded streaming query to a memory sink and return the final
    * table. Stops any prior run of the same name (re-entrant for the
    * Verify/Bench drivers).
    *
    * `watermarkFlush` controls whether the replay runs the trailing
    * NO-DATA micro-batch that advances the watermark past the last
    * event. Append-mode AGGREGATIONS need it — their final windows are
    * emitted only when the watermark passes the window end, which for
    * bounded input happens exactly in that flush batch. Operators whose
    * visible output is emitted in the data batch itself — the inner
    * stream-stream join (matches emit on arrival), watermark dedup
    * (first occurrence emits on arrival), sessionization (every batch
    * emits snapshots; the timeout path emits nothing) — get NOTHING
    * from the flush batch except state eviction, and the replay
    * discards that state moments later. Measured at sf0.1 the flush
    * batch costs as much as the data batch (the eviction sweep walks
    * every state row), so those operators pass `watermarkFlush = false`
    * and run the single-data-batch trigger instead. Live deployments
    * use the default trigger and the identical plan either way —
    * eviction there is a per-batch increment, not a final sweep.
    *
    * State partitioning: every micro-batch commits one state-store delta
    * file per partition per stateful operator, so the state width is a
    * deployment knob separate from the batch shuffle width — on bounded
    * replay (2–3 micro-batches, small state) the batch default of 32 is
    * pure commit fan-out. The width is derived from the replay source
    * size the caller passes (`srcBytes`, probed once per path through
    * the FS API): one state partition per 16 MB of source, clamped to
    * [2, session shuffle width] — scale-adaptive instead of a constant
    * tuned for either local mode or a cluster (r17, measured at sf0.1:
    * the family's 2 MB source → width 2, −13% on cross-run minima vs
    * the old fixed 8; a corpus-sized directory source grows the width
    * up to the session's own shuffle setting). Without `srcBytes` the
    * width is 8. This helper is bounded replay only — its checkpoint is
    * throwaway — so a live deployment, whose checkpoint pins the state
    * width, sets it on its own session.
    * The session conf is restored afterwards, so downstream batch
    * aggregation keeps the engine default. Results are
    * partitioning-invariant (keyed state). StreamExecution clones the
    * session at start(), making the scoped override race-free. */
  @scala.annotation.nowarn("cat=deprecation") // Trigger.Once: see scaladoc
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode, watermarkFlush: Boolean = true,
      srcBytes: Long = -1L): DataFrame = {
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    val stateWidth =
      if (srcBytes < 0L) "8"
      else math.max(2L, math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toLong,
        (srcBytes + (16L << 20) - 1) / (16L << 20))).toString
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> stateWidth,
      // bounded replay: the checkpoint is deleted right after the run,
      // so retaining 100 batches of offset/commit/state history (the
      // live-restart default) is pure metadata IO here
      "spark.sql.streaming.minBatchesToRetain" -> "1",
      // the replay checkpoint is throwaway by construction (unique dir,
      // deleted after the run), so the 4.x per-file checksum companion
      // writes/reads are pure metadata IO here — measured r16 at sf0.1:
      // −0.08…−0.21 s on every stream query (cross-run minima). A live
      // deployment owns its durable checkpoint's integrity posture via
      // the same conf on its own session.
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
    val prior = scoped.map { case (k, _) => k -> spark.conf.get(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    // The replay checkpoint is throwaway by construction (unique dir,
    // deleted after the run — the same contract as Spark's temp
    // checkpoint). Base selection is EXPLICIT, not a silent local
    // assumption: `spark.graft.stream.checkpointDir` (any Hadoop FS
    // URI — hdfs://, s3a://, scheme-qualified file:) wins when set;
    // otherwise the bounded-replay harness default of memory-backed
    // /dev/shm (falling back to the local tmpdir) applies, where the
    // stream-stream join's state delta files are pure throwaway IO.
    // A live deployment sets the conf to durable storage; the query is
    // unchanged. Creation and cleanup go through the Hadoop FileSystem
    // API so a remote base actually works (java.nio would resolve
    // nothing there — the StoreFs discipline).
    val ckptBase = Option(spark.conf.get("spark.graft.stream.checkpointDir", null))
      .filter(_.trim.nonEmpty)
      .getOrElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        (if (java.nio.file.Files.isDirectory(shm) &&
             java.nio.file.Files.isWritable(shm)) shm
         else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))).toString
      }
    val ckpt = s"$ckptBase/graft_ckpt_${name}_${java.util.UUID.randomUUID}"
    graft.operators.StoreFs.fs(spark, ckpt)
      .mkdirs(new org.apache.hadoop.fs.Path(ckpt))
    try {
      // Trigger.AvailableNow: process everything available, run the
      // watermark-flush no-data batch, then self-terminate — the
      // bounded-replay harness pays the minimum number of micro-batch
      // schedule/commit cycles instead of the default trigger's
      // poll-until-idle loop. Trigger.Once (deprecated for LIVE use
      // because one huge catch-up batch can overwhelm an executor, a
      // non-issue for a bounded replay that IS one batch) additionally
      // skips the flush batch — taken when the operator's output
      // doesn't need it (see scaladoc). Live deployments drop the
      // trigger and keep the identical plan.
      val trigger = if (watermarkFlush) Trigger.AvailableNow() else Trigger.Once()
      val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(trigger).start()
      try q.awaitTermination() finally q.stop()
    } finally {
      prior.foreach { case (k, v) => spark.conf.set(k, v) }
      graft.operators.StoreFs.delete(spark, ckpt)
    }
    spark.table(name)
  }

  /** Tumbling event-time window + watermark, append mode: a window is
    * emitted only once the 1-hour watermark passes its end — on bounded
    * replay that is exactly the windows with
    * `window_end <= max(ts) - 1h` (the final no-data batch flushes
    * them), which is the oracle's HAVING clause. */
  def watermarkTumblingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Deterministic.stableSum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
    runToMemory(spark, agg, "graft_stream_wm", OutputMode.Append(),
        srcBytes = probeBytes(spark, s"$sfDir/events.parquet"))
      .orderBy("window_start", "event_type")
  }

  /** Stream-stream interval join — the streaming twin of the signature
    * batch range join (J1): purchase triggers joined to click
    * observations of the same user within [τ−600 s, τ+300 s].
    *
    * Both sides carry a 1-hour watermark and the join's time-range
    * condition is on the watermarked event-time columns, so join state
    * is evicted once the watermark passes a row's reachable window —
    * bounded state in continuous operation. The oracle works in
    * whole-second offsets (µs truncated), so the event-time range is
    * widened by 1 s on each edge and the exact truncated-seconds
    * predicate rides along as an additional join condition. The
    * PSTH-style roll-up runs downstream of the sink (stream → sink →
    * batch aggregate), keeping the streaming stage single-stateful.
    */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, intervalJoinPlan(eventsStream(spark, sfDir)),
        "graft_stream_ij", OutputMode.Append(), watermarkFlush = false,
        srcBytes = probeBytes(spark, s"$sfDir/events.parquet"))
      .groupBy(floor(col("rel_off") / lit(60.0)).cast("long").as("rel_bin"))
      // bin mean via the exact decimal sum (j10 boundary class): avg()'s
      // accumulation order differs between Spark and the oracle, and a
      // 4-dp .xxxx5 boundary mean flips sides at some scale.
      .agg(count(lit(1)).as("n"),
        round(graft.functions.Deterministic.stableSum(col("value"))
          / count(col("value")), 4).as("avg_value"),
        countDistinct(col("trig_id")).as("n_trials"))
      .orderBy("rel_bin")

  /** The streaming side of [[intervalJoin]] (pre-sink) — composition
    * point for the multi-batch delivery tests: both sides' watermarked
    * join state must persist across micro-batches until the watermark
    * passes a row's reachable window. */
  def intervalJoinPlan(ev: DataFrame): DataFrame = {
    def secs(c: org.apache.spark.sql.Column) =
      (unix_micros(c) / lit(1000000L)).cast("long")
    val trg = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("trig_id"), col("user_id").as("t_user"),
        col("ts").as("trig_ts"))
      .withColumn("trig_t", secs(col("trig_ts")))
      .withWatermark("trig_ts", "1 hour")
    val ser = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("s_user"), col("ts").as("obs_ts"), col("value"))
      .withColumn("obs_t", secs(col("obs_ts")))
      .withWatermark("obs_ts", "1 hour")
    val joined = ser.join(trg,
      col("s_user") === col("t_user") &&
        col("obs_ts") >= col("trig_ts") - expr("INTERVAL 601 SECONDS") &&
        col("obs_ts") <= col("trig_ts") + expr("INTERVAL 301 SECONDS") &&
        col("obs_t") >= col("trig_t") - 600 &&
        col("obs_t") <= col("trig_t") + 300)
      .select(col("trig_id"), (col("obs_t") - col("trig_t")).as("rel_off"),
        col("value"))
    joined
  }

  /** LEFT-OUTER stream-stream interval join: every purchase trigger,
    * WITH its click observations when they exist and as a NULL-padded
    * row once the watermark proves none can arrive — the streaming
    * semantic the inner join cannot express (a "no response within the
    * window" attribution row requires the watermark to CLOSE the
    * window first). Unmatched triggers emit in the watermark-advance
    * batch, so this replay keeps the flush batch the inner join skips.
    *
    * Bounded-replay determinism: triggers whose join window is still
    * OPEN at end of stream never get their null row — exactly as live
    * operation would hold them — so the post-sink roll-up keeps only
    * triggers whose window closed strictly inside the final watermark,
    * and the oracle applies the identical closed-window filter to the
    * batch LEFT JOIN. The final watermark base is the MIN of the two
    * sides' per-column maxima (each withWatermark node tracks its own
    * column; the query watermark is their minimum), i.e.
    * least(max purchase ts, max click ts), NOT the overall max event
    * time — with a 2 s guard swallowing the ms-truncation of Spark's
    * watermark arithmetic vs the oracle's whole-second offsets.
    *
    * Output: (n_obs, n_trigs) — the distribution of per-trigger
    * response counts including the zero bucket. */
  def intervalJoinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val res = runToMemory(spark, intervalJoinOuterPlan(eventsStream(spark, sfDir)),
      "graft_stream_ijo", OutputMode.Append(),
      srcBytes = probeBytes(spark, s"$sfDir/events.parquet"))
    val mx = graft.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy("event_type")
      .agg(max((unix_micros(col("ts")) / lit(1000000L)).cast("long")).as("m"))
      .agg(min(col("m")).as("mx"))
    res.crossJoin(broadcast(mx))
      .filter(col("trig_t") + 301 <= col("mx") - 3602)
      .groupBy("trig_id")
      .agg(sum(when(col("obs_t").isNotNull, 1L).otherwise(0L)).as("n_obs"))
      .groupBy("n_obs").agg(count(lit(1)).as("n_trigs"))
      .orderBy("n_obs")
  }

  /** The streaming side of [[intervalJoinOuter]] (pre-sink): the same
    * watermarked time-range condition as [[intervalJoinPlan]], joined
    * left-outer from the trigger side. */
  def intervalJoinOuterPlan(ev: DataFrame): DataFrame = {
    def secs(c: org.apache.spark.sql.Column) =
      (unix_micros(c) / lit(1000000L)).cast("long")
    val trg = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("trig_id"), col("user_id").as("t_user"),
        col("ts").as("trig_ts"))
      .withColumn("trig_t", secs(col("trig_ts")))
      .withWatermark("trig_ts", "1 hour")
    val ser = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("s_user"), col("ts").as("obs_ts"))
      .withColumn("obs_t", secs(col("obs_ts")))
      .withWatermark("obs_ts", "1 hour")
    trg.join(ser,
      col("s_user") === col("t_user") &&
        col("obs_ts") >= col("trig_ts") - expr("INTERVAL 601 SECONDS") &&
        col("obs_ts") <= col("trig_ts") + expr("INTERVAL 301 SECONDS") &&
        col("obs_t") >= col("trig_t") - 600 &&
        col("obs_t") <= col("trig_t") + 300,
      "left_outer")
      .select(col("trig_id"), col("trig_t"), col("obs_t"))
  }

  /** Streaming exact dedup — the streaming twin of the batch
    * `Dedup.exactSummary` first-occurrence semantics: emit each
    * (event_type, user_id) key once via `dropDuplicatesWithinWatermark`,
    * so dedup state is ONE row per distinct key inside the 1-hour
    * event-time horizon and is evicted as the watermark passes —
    * bounded state in continuous operation (a plain dropDuplicates
    * would grow state with corpus cardinality forever). Keys seen
    * again beyond the horizon re-emit by design — the standard
    * horizon-bounded contract of live dedup; on bounded replay the
    * single-batch file source dedups exactly, which the DISTINCT
    * oracle replays. NULL user_ids are excluded on both sides (a
    * NULL is a dedup key value but not a COUNT DISTINCT member).
    *
    * Replay cost floor, adjudicated (StreamProfile at sf0.1, warm,
    * r13): ~1.1 s total = ~0.45 s micro-batch fixed cost (query
    * planning 0.13, offset/WAL commits 0.12, stream start/stop +
    * throwaway checkpoint setup/teardown ~0.2) + addBatch ~0.5 s —
    * the genuine work of 100k rows through the watermarked dedup
    * state store at 8 state partitions plus the memory-sink commit.
    * Nothing here is removable without changing the live shape: the
    * replay already runs Trigger.Once (no flush batch — first
    * occurrences emit on arrival), minimal batch retention, and
    * /dev/shm checkpoints. The fixed cost is per-STREAM-START, not
    * per-batch — a live deployment pays it once, then per-batch cost
    * is the addBatch component only. */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, dedupPlan(eventsStream(spark, sfDir)),
        "graft_stream_dedup", OutputMode.Append(), watermarkFlush = false,
        srcBytes = probeBytes(spark, s"$sfDir/events.parquet"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")

  /** The streaming side of [[streamingDedup]] — composition point for
    * the multi-batch delivery tests. */
  def dedupPlan(ev: DataFrame): DataFrame =
    ev.filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_type", "user_id")

  /** Ingest-time near-dup: arriving crawl-shard documents (a STREAM)
    * checked against the deduped standing corpus (a STATIC band
    * index) — the production shape where yesterday's 100 TB corpus is
    * already clean and each landing shard must be screened before
    * admission, WITHOUT waiting for the nightly batch pass
    * (new×new pairs remain that pass's job —
    * operators.Dedup.minhashLshIncremental).
    *
    * Plan: the static side builds the old-corpus banded-signature
    * index once (same row-local signature chain as the batch
    * operators — [[graft.operators.Dedup.minhashBandRows]] — plus the
    * standard over-population bucket guard,
    * [[graft.operators.Dedup.bucketMembers]], applied at INDEX BUILD
    * time: a boilerplate-flooded bucket is dropped whole before any
    * arrival can join it). Each micro-batch computes arriving docs'
    * band rows with the identical expression and equi-joins the index
    * on (band, bkey) — stateless, so no watermark and no state store;
    * the Jaccard verify (exact shingle-set intersection over union,
    * same as the batch verify) runs row-locally on the joined pair.
    * The index side is one row per (band, doc) of the ENTIRE standing
    * corpus, so the DEFAULT (`broadcastIndex = false`) carries no
    * broadcast hint, and the index leaves [[nearDupIndex]]'s keyed
    * pass hash-partitioned on (band, bkey) — prepositioned for the
    * shuffled stream-static equi-join that is the only shape surviving
    * a 100 TB standing corpus (a broadcast there is a driver OOM). The
    * JOIN STRATEGY itself stays stats-driven: streaming plans have no
    * AQE, and at toy scale the planner may still broadcast the small
    * static side; what matters is
    * that nothing FORCES a corpus-sized broadcast when the stats say
    * otherwise. `broadcastIndex = true` opts a KNOWN-SMALL index (a
    * per-tenant or per-day slice) into the classic map-side screen;
    * both paths are the same declarative equi-join and produce
    * identical rows.
    *
    * A pair that collides in several bands emits once per band inside
    * the stream (stateless operators cannot dedup across rows); the
    * memory-sink read-back collapses them with one DISTINCT — the
    * same post-sink compaction discipline as [[sessionize]]. NULL
    * sources count as OLD corpus on both legs (the incremental-dedup
    * convention). Output: (doc_new, doc_old, jaccard ≥ threshold).
    *
    * Replay cost floor, adjudicated (StreamProfile at sf0.1, warm,
    * r13): ~1.9 s total = the ~0.45 s stream-start/commit fixed cost
    * + addBatch ~1.2 s (arriving-side signature hashing — necessarily
    * inline, see `sigTable` below — plus the index exchange, the
    * band equi-join and the per-candidate exact-Jaccard verify over
    * shingle arrays) + the post-sink DISTINCT. The static index's
    * text hashing is already served from the memoized signature table
    * when the caller passes one; what remains in addBatch is the
    * work a live ingest screen performs per shard.
    *
    * `sigTable`: a pre-built [[graft.operators.Dedup.minhashSigTable]]
    * of the WHOLE corpus carrying `source` — the static index half is
    * then served from it (filtered to the old corpus) instead of
    * re-hashing the standing corpus's text inside every micro-batch,
    * which profiling showed was most of this replay's addBatch time
    * (StreamProfile at sf0.1: addBatch 1.35 s with inline hashing; the
    * arriving stream side necessarily keeps hashing inline). */
  def streamingNearDup(spark: SparkSession, sfDir: String,
      newSources: Seq[String], nHash: Int = 12, bandRows: Int = 2,
      threshold: Double = 0.5, ngram: Int = 3,
      maxBucket: Long = graft.operators.Dedup.defaultMaxBandBucket,
      broadcastIndex: Boolean = false,
      sigTable: Option[DataFrame] = None): DataFrame = {
    val docs = graft.Tables.documentsP(spark, sfDir)
    val isNew = coalesce(col("source").isin(newSources: _*), lit(false))
    val index = nearDupIndex(docs.filter(!isNew), nHash, bandRows, ngram,
      maxBucket, sigTable.map(_.filter(!isNew)))
    val arriving = docsStream(spark, sfDir).filter(isNew)
    runToMemory(spark,
        nearDupPlan(arriving, index, nHash, bandRows, threshold, ngram,
          broadcastIndex),
        "graft_stream_neardup", OutputMode.Append(), watermarkFlush = false,
        srcBytes = probeBytes(spark, s"$sfDir/documents.parquet"))
      .distinct()
      .orderBy("doc_new", "doc_old")
  }

  /** The static half of [[streamingNearDup]]: the standing corpus's
    * banded-signature index with the over-population guard applied at
    * build time — one row per (band, doc) of every bucket that
    * [[graft.operators.Dedup.bucketMembers]] keeps. Its keyed pass
    * leaves the index hash-partitioned on (band, bkey), the layout the
    * shuffled stream-static join needs. */
  def nearDupIndex(oldDocs: DataFrame, nHash: Int = 12, bandRows: Int = 2,
      ngram: Int = 3,
      maxBucket: Long = graft.operators.Dedup.defaultMaxBandBucket,
      sigTable: Option[DataFrame] = None): DataFrame = {
    val oldRows = graft.operators.Dedup.minhashBandRows(
      oldDocs, "doc_id", "text", nHash, bandRows, ngram, sigTable)
    graft.operators.Dedup.bucketMembers(oldRows, Seq("band", "bkey"),
        Seq("doc_id", "s"), maxBucket)
      .select(col("band"), col("bkey"), explode(col("members")).as("m"))
      .select(col("band"), col("bkey"),
        col("m.doc_id").as("doc_old"), col("m.s").as("s_old"))
  }

  /** The streaming half of [[streamingNearDup]] — composition point
    * for the multi-batch delivery tests. `arriving` needs (doc_id,
    * text); `index` is [[nearDupIndex]]'s output. */
  def nearDupPlan(arriving: DataFrame, index: DataFrame, nHash: Int = 12,
      bandRows: Int = 2, threshold: Double = 0.5, ngram: Int = 3,
      broadcastIndex: Boolean = false): DataFrame =
    graft.operators.Dedup.jaccardVerify(
      graft.operators.Dedup
        .minhashBandRows(arriving, "doc_id", "text", nHash, bandRows, ngram)
        .withColumnRenamed("doc_id", "doc_new")
        .join(
          if (broadcastIndex) broadcast(index) else index,
          Seq("band", "bkey")),
      "s", "s_old", threshold, "doc_new", "doc_old")

  final case class Ev(user_id: Long, t: Long, ts: java.sql.Timestamp)
  final case class Session(user_id: Long, session_id: Long, session_start: Long,
      session_end: Long, n_events: Long)

  /** Per-user sessionization (30-min inactivity gap) via
    * `flatMapGroupsWithState`. Each batch emits a SNAPSHOT of every
    * session it touched — closed sessions with their final extent, the
    * open session with its extent so far. Snapshots for one
    * (user, session_id) are monotone (start fixed, end/n grow), i.e. an
    * append-mode change-log as a real pipeline would write to an upsert
    * sink; the read-back compacts last-writer-wins (min start / max end /
    * max n per key), so the result is identical whether the source
    * delivers one batch or many (second file, maxFilesPerTrigger, live
    * source) — no duplicate/overlapping session rows can survive.
    *
    * State is watermark-bounded (`EventTimeTimeout`): a user's state row
    * is EVICTED once the 1-hour watermark passes their open session's
    * gap horizon (session_end + 30 min) — the session can no longer be
    * extended (any event that would extend it is below the watermark and
    * dropped as late), and its final snapshot was already emitted by the
    * batch that last touched it, so the timeout callback emits nothing.
    * In continuous operation state is therefore proportional to users
    * ACTIVE inside the horizon, not to all users ever seen. A user
    * returning after eviction re-sessionizes with session_ids restarting
    * at 0 — which is why the change-log compaction keys on
    * (user, session_id, session_start): starts are unique per real
    * session, so a recycled id can never merge two sessions.
    *
    * Replay cost floor, adjudicated (StreamProfile at sf0.1, warm,
    * r13): ~1.6 s total = the same ~0.45 s stream-start/commit fixed
    * cost as [[streamingDedup]] + addBatch ~0.65 s (100k events
    * through flatMapGroupsWithState: per-user state rows built,
    * timed-out, committed at 8 state partitions) + ~0.4 s post-sink
    * change-log compaction (the 95k snapshot rows' last-writer-wins
    * groupBy — the price of the multi-batch-correct upsert contract,
    * shared by any real pipeline reading a change-log sink). Already
    * Trigger.Once (the timeout path emits nothing on replay); the
    * remaining pieces are the live shape itself.
    *
    * sf1 watch (r14 re-profile): steady-state addBatch 2.4 s for 1M
    * events → 954k session snapshots — data-proportional per-user
    * state work, consistent with the r13 floor decomposition scaled
    * 10×; the r12→r13 recording drift was bench-pass placement, not
    * plan change. At cluster scale the state store is the knob, not
    * the plan: `spark.sql.streaming.stateStore.providerClass` →
    * RocksDBStateStoreProvider moves per-user state off the executor
    * heap (HDFSBackedStateStore holds the full map in memory —
    * per-partition state must fit the heap; RocksDB spills and
    * incrementally checkpoints), with the identical query. The knob is
    * regression-guarded: StreamSpec runs the multi-batch plan under
    * RocksDBStateStoreProvider and pins the output identical, and the
    * measured overhead delta (StreamProfile sf0.1, r15, 100k events →
    * 95k snapshots) is noise-level — warm addBatch 0.70 s default vs
    * 0.72 s RocksDB (±4%, inside rep-to-rep spread) — so the off-heap
    * safety at cluster state sizes costs nothing at replay sizes. The
    * replay keeps the default provider. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    sessionizeCompact(
      runToMemory(spark, sessionizePlan(spark, eventsStream(spark, sfDir)),
        "graft_stream_sess", OutputMode.Append(), watermarkFlush = false,
        srcBytes = probeBytes(spark, s"$sfDir/events.parquet")))

  /** The streaming side of [[sessionize]] — exposed as a composition
    * point so the multi-batch contract (one batch vs file-at-a-time
    * delivery) is testable against any source. */
  def sessionizePlan(spark: SparkSession, ev: DataFrame): DataFrame = {
    import spark.implicits._
    val gap = 1800L
    // The event-time column rides along into the grouped Dataset: the
    // EventTimeTimeout clock is the watermark on `ts`, and the operator
    // also drops late rows (ts below watermark) — exactly the rows that
    // could try to extend an already-evicted session.
    val evs = ev
      .select(col("user_id").cast("long").as("user_id"),
        (unix_micros(col("ts")) / lit(1000000L)).cast("long").as("t"),
        col("ts"))
      .withWatermark("ts", "1 hour")
      .as[Ev]
    val sessions = evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Long], Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) {
            // Watermark passed the open session's gap horizon: no event
            // can extend it anymore (it would be late-dropped), and its
            // final snapshot was emitted by the batch that last touched
            // it — evict the state row, emit nothing.
            state.remove()
            Iterator.empty
          } else {
            // carry (session_start, session_end, n, next_session_id) across batches
            val prior = state.getOption
            val ts = it.map(_.t).toArray.sorted
            var sessions = List.empty[Session]
            var sid = prior.map(_(3)).getOrElse(0L)
            var start = prior.map(_(0)).getOrElse(-1L)
            var end = prior.map(_(1)).getOrElse(-1L)
            var n = prior.map(_(2)).getOrElse(0L)
            ts.foreach { t =>
              if (start < 0) { start = t; end = t; n = 1 }
              else if (t - end > gap) {
                sessions ::= Session(uid, sid, start, end, n)
                sid += 1; start = t; end = t; n = 1
              } else { end = t; n += 1 }
            }
            // emit the open session's snapshot too: the change-log row the
            // sink compacts (and, on bounded replay, the final answer)
            if (start >= 0) sessions ::= Session(uid, sid, start, end, n)
            state.update(Array(start, end, n, sid))
            // evict once the watermark passes end + gap — this batch's
            // events are ≥ the current watermark, so the horizon is
            // always strictly ahead of it (setTimeoutTimestamp requires
            // that). Eviction is correctness-neutral: any event that
            // would have extended the session is below the watermark by
            // then and late-dropped regardless of state.
            state.setTimeoutTimestamp((end + gap) * 1000L)
            sessions.reverseIterator
          }
      }
    sessions.toDF()
  }

  /** Change-log compaction for [[sessionizePlan]] output: snapshots per
    * (user, session) are monotone (start fixed, end/n grow), so
    * last-writer-wins is exactly max/max — the result is identical
    * whether the source delivered one micro-batch or many.
    * `session_start` joins the key (it is fixed per real session):
    * a user who re-sessionizes after state eviction recycles session
    * ids from 0, and keying on the start keeps those physically
    * distinct sessions from merging. */
  def sessionizeCompact(raw: DataFrame): DataFrame =
    raw
      .groupBy("user_id", "session_id", "session_start")
      .agg(max("session_end").as("session_end"),
        max("n_events").as("n_events"))
      .orderBy("user_id", "session_id", "session_start")
}
