package graft.operators

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo for expensive DERIVED frames shared across
  * queries — the canonical case is PQ codebook training
  * ([[Similarity.pqTrainParts]]): `sim_pq_error` (2 Lloyd iterations)
  * and `sim_pq_adc_topk` (1) train the SAME seeded codebooks on the
  * same corpus, and iteration i's codebook/assignment is a strict
  * prefix of iteration i+1's — without a memo every query (and every
  * bench rep) re-pays the whole training chain.
  *
  * Contract: the KEY owns identity. Callers must fold everything that
  * determines the frame's content into the key (data identity — e.g.
  * the source directory — plus every parameter); the memo never
  * inspects the plan. Same key ⇒ the memoized frame is returned even if
  * the caller rebuilt its input differently (that is the point: two
  * queries reaching the same logical frame through different
  * projections share one materialization).
  *
  * TIERS — two registration points with different size contracts and
  * one persistence mechanism each, audited by MemoAuditSpec:
  *
  *  - [[cached]] (tier "bounded"): frames whose row count is bounded
  *    by MODEL CONSTANTS or by the operator's OUTPUT, never by the
  *    corpus — trained models (PQ codebooks: m·kCodes rows; IRLS β;
  *    the bigram LM; the IDF table: vocabulary-sized), graph finals
  *    (ranks/labels/triangles: near-dup-graph-node-sized), verified
  *    near-dup pair sets (output-sized). They persist MEMORY_AND_DISK
  *    OUTSIDE any [[CacheScope]] (they must outlive per-query scopes).
  *  - [[cachedCorpus]] (tier "corpus"): frames PROPORTIONAL to the
  *    corpus — the per-document signature tables the dedup family
  *    shares (minhash shingle sets + signatures, simhash fingerprints)
  *    and the per-vector frames of the trained ANN chains (the kmeans
  *    final assignment; PQ's sliced sub-vector table and final
  *    assignment at the declared m-rows-per-vector factor). These are
  *    the S7 result-cache discipline applied to the tokenize stage,
  *    and they are never pinned in executor storage: each is WRITTEN
  *    once as a Parquet table (the S4 sink path) and served as a scan.
  *
  * Lifecycle: entries live until the SparkContext they were built on
  * goes away — the map clears itself when it sees a different context,
  * so frames from a stopped context are never served.
  */
object Memo {

  private var ctxId: String = null
  private final case class Entry(df: DataFrame, var hits: Long,
    var repersists: Long, writtenDir: Option[String] = None)
  private val entries = mutable.Map.empty[String, Entry]
  // (context id, directory, its filesystem) of the per-application corpus root
  private var appRoot: Option[(String, Path, FileSystem)] = None

  private def session: SparkSession = SparkSession.getActiveSession
    .orElse(SparkSession.getDefaultSession)
    .getOrElse(throw new IllegalStateException("Memo requires an active SparkSession"))

  /** Root of the corpus-tier written tables: `spark.graft.memo.corpusSpillDir`
    * when set (a durable root on any Hadoop FS URI, served across
    * sessions), else this SparkContext's `graft_corpus_memo-*` directory
    * under `java.io.tmpdir`, deleted when the context stops. */
  private def corpusRoot(spark: SparkSession): String =
    Option(spark.conf.get("spark.graft.memo.corpusSpillDir", null))
      .filter(_.trim.nonEmpty).getOrElse(synchronized {
        val sc = spark.sparkContext
        if (!appRoot.exists(_._1 == contextId(sc))) {
          val dir = new Path(System.getProperty("java.io.tmpdir"),
            s"graft_corpus_memo-${sc.applicationId}-${sc.startTime}")
          val fs = StoreFs.fs(spark, dir.toString)
          sc.addSparkListener(new SparkListener {
            override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
              fs.delete(dir, true)
          })
          appRoot = Some((contextId(sc), dir, fs))
        }
        appRoot.get._2.toString
      })

  /** The frame for `key`, building (and persisting) it on first use.
    * BOUNDED tier: the frame's size must be bounded by model constants
    * or operator output, never by corpus rows — corpus-proportional
    * frames go through [[cachedCorpus]]. */
  def cached(key: String)(build: => DataFrame): DataFrame = synchronized {
    entries.get(key) match {
      case Some(e) if sameContext(e.df) =>
        e.hits += 1
        // A hit whose cache was voided behind the memo's back must not
        // be served cache-less. The known path: a CacheScope close
        // unpersists a scoped frame whose plan CANONICALIZES to this
        // entry's (Spark's CacheManager keys on canonicalized plans, so
        // a rename-only Project over a scoped persist shares its cache
        // entry — the r11 LPA regression). Re-persisting here means the
        // next action rebuilds the cache once instead of silently
        // re-running the full lineage on every evaluation. The log line
        // makes a RECURRING void/rebuild cycle (a caller pattern that
        // voids the entry every evaluation) visible instead of just
        // slow — one line per void, keyed, countable.
        if (e.df.storageLevel == StorageLevel.NONE) {
          e.repersists += 1
          System.err.println(
            s"[memo] re-persisting voided entry '$key' (void #${e.repersists})" +
              " — a scoped cache canonicalized onto it and was closed")
          e.df.persist(StorageLevel.MEMORY_AND_DISK)
        }
        e.df
      case _ => register(key, Entry(build.persist(StorageLevel.MEMORY_AND_DISK), 0L, 0L))
    }
  }

  /** The CORPUS-tier frame for `key`: written once as a Parquet table
    * under [[corpusRoot]] and served as a scan of it. A per-doc
    * signature table at corpus scale does not fit (and must not sit
    * in) executor storage memory; a written table survives executor
    * loss and cache eviction, and costs one write job per session.
    * Under a set `spark.graft.memo.corpusSpillDir` it also survives
    * session restarts: a regenerated corpus changes [[corpusKey]]'s
    * fingerprint and therefore the directory, making staleness
    * structurally impossible. Under the per-application default a key
    * without a corpus fingerprint (tests, library callers) is never
    * served across sessions.
    *
    * The directory is skip-if-exists on the committer `_SUCCESS`
    * ([[StoreFs.datasetComplete]], so hdfs:// and s3a:// roots work);
    * a write is staged and first-writer-wins promoted
    * ([[StoreFs.promoteIfAbsent]]), so a complete directory is
    * immutable under concurrent writers. The table keeps the built
    * frame's partitioning, one file per partition: coalescing to fewer
    * files would also run the build's last stage, and every serve's
    * scan, in that many tasks. Build, write
    * and promote run outside the memo lock — only the registration
    * takes it. A fresh
    * write is served with the built frame's schema (its column
    * metadata included, no schema-inference job); a reused table's
    * schema is read from its footer. Signature columns are longs and
    * shingle sets `array<bigint>` digest halves — Parquet INT64, an
    * exact round-trip. One `[memo]` stderr line per write or reuse
    * names the directory, its bytes, files and seconds. */
  def cachedCorpus(key: String)(build: => DataFrame): DataFrame =
    lookup(key).getOrElse {
      val spark = session
      val (root, token) = (corpusRoot(spark), keyToken(key))
      val dir = s"$root/$token"
      val t0 = System.nanoTime()
      val built = if (StoreFs.datasetComplete(spark, dir)) None else {
        val b = build
        val stage = s"$root/.stage-$token-${java.util.UUID.randomUUID()}"
        b.write.mode("overwrite").parquet(stage)
        StoreFs.deleteMarker(spark, stage)
        if (StoreFs.promoteIfAbsent(spark, stage, dir))
          StoreFs.createMarker(spark, dir)
        Some(b)
      }
      val served = built.fold(spark.read)(b => spark.read.schema(b.schema)).parquet(dir)
      System.err.println(s"[memo] ${if (built.isEmpty) "reused" else "wrote"} corpus " +
        s"entry '${key.takeWhile(_ != ':')}' at $dir: ${sizeInBytes(served)} bytes, " +
        f"${served.inputFiles.length} files, ${(System.nanoTime() - t0) / 1e9}%.2f s")
      register(key, Entry(served, 0L, 0L, Some(dir)))
    }

  /** Path-safe directory token for a memo key: readable tag prefix +
    * a content hash of the FULL key (the key embeds the corpus path
    * and listing fingerprint, which are not path-safe). */
  private def keyToken(key: String): String = {
    val tag = key.takeWhile(_ != ':').filter(c => c.isLetterOrDigit || c == '-')
    val h = java.util.UUID.nameUUIDFromBytes(key.getBytes("UTF-8")).toString
    s"${if (tag.nonEmpty) tag else "entry"}-$h"
  }

  /** Register `e` under `key` on its context; a racing registration of
    * the same key that landed first is served instead. */
  private def register(key: String, e: Entry): DataFrame = synchronized {
    val id = contextId(e.df.sparkSession.sparkContext)
    if (ctxId != id) { entries.clear(); ctxId = id }
    entries.getOrElseUpdate(key, e).df
  }

  /** The frame for `key` if (and only if) it is already memoized on
    * the live context — a read-only probe that never registers or
    * persists. For chain INTERMEDIATES: a builder that benefits from a
    * sibling's memoized final frame (pqTrainParts' asg_i, final for
    * the iters=i sharer, intermediate for iters>i) probes here, and on
    * a miss builds UN-persisted — a frame consumed exactly once must
    * not stay pinned for the session (the r3 cache-accumulation
    * regression class). */
  def lookup(key: String): Option[DataFrame] = synchronized {
    entries.get(key).filter(e => sameContext(e.df)).map { e =>
      e.hits += 1
      e.df
    }
  }

  /** Corpus identity for memo keys: the source directory plus a
    * fingerprint of its parquet file listing (name, mtime, size). A
    * path-only key silently serves stale frames when data under the
    * same path is regenerated mid-session (this repo's /tmp/sf1
    * workflow does exactly that); folding the listing into the key
    * makes regeneration a clean miss. Driver-side metadata only —
    * never reads file contents. The listing goes through the Hadoop
    * FileSystem API so the fingerprint observes regeneration on
    * cluster filesystems too — a java.io.File listing of an hdfs://
    * corpus is null, which would degrade every corpus key to
    * path-only (the stale-serve class StoreFs documents). */
  def corpusKey(tag: String, dir: String): String = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(dir)
    val hfs = p.getFileSystem(conf)
    val files = (if (hfs.exists(p)) hfs.listStatus(p).toSeq else Seq.empty)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(st => s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}")
    val fp = java.util.UUID.nameUUIDFromBytes(
      files.mkString("|").getBytes("UTF-8")).toString.take(8)
    s"$tag:$dir@$fp"
  }

  /** One footprint row per live entry: (key, tier, hits, re-persist
    * count, bytes). Bytes come from the optimized plan's statistics:
    * for a corpus entry that is the scan of its written table, so the
    * bytes are its on-disk Parquet bytes; for a bounded entry, once
    * materialized, cache substitution rewrites its plan to the
    * InMemoryRelation whose stats carry the ACCUMULATED cached size (an
    * entry never yet materialized reports its pre-execution estimate
    * instead — read alongside `hits`). Driver-side plan inspection
    * only: no job runs, nothing collects. Bench folds this into its
    * JSON artifact. */
  def report: Seq[MemoEntryStat] = synchronized {
    entries.toSeq.sortBy(_._1).collect { case (key, e) if sameContext(e.df) =>
      MemoEntryStat(key, e.writtenDir.fold("bounded")(_ => "corpus"), e.hits,
        e.repersists, sizeInBytes(e.df),
        e.writtenDir.fold(e.df.storageLevel.toString)(d => s"written:$d"))
    }
  }

  final case class MemoEntryStat(key: String, tier: String, hits: Long,
    repersists: Long, bytes: Long, storage: String)

  // BigInt.toLong TRUNCATES silently: a never-materialized entry can
  // carry a multiplicative join-size estimate past 2^63, which would
  // wrap to plausible-looking garbage — mark such estimates as
  // saturated instead
  private def sizeInBytes(df: DataFrame): Long =
    try {
      val bi = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (bi.isValidLong) bi.toLong else Long.MaxValue
    } catch { case _: Throwable => -1L }

  private def contextId(sc: SparkContext): String = s"${sc.applicationId}@${sc.startTime}"

  private def sameContext(df: DataFrame): Boolean =
    try contextId(df.sparkSession.sparkContext) == ctxId &&
      !df.sparkSession.sparkContext.isStopped
    catch { case _: Throwable => false }

  /** Drop every entry (tests; a long-lived service rotating corpora),
    * and the written tables of the per-application corpus root; tables
    * under a set `spark.graft.memo.corpusSpillDir` stay in place. */
  def clear(): Unit = synchronized {
    entries.values.foreach { e =>
      try e.df.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    entries.clear()
    ctxId = null
    appRoot.foreach { case (_, dir, fs) => fs.delete(dir, true) }
  }
}
