package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
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
  * inspects the plan. Same key ⇒ the cached frame is returned even if
  * the caller rebuilt its input differently (that is the point: two
  * queries reaching the same logical frame through different
  * projections share one materialization).
  *
  * TIERS — two registration points with different size contracts,
  * tracked separately so the footprint report can audit each against
  * its own bound:
  *
  *  - [[cached]] (tier "bounded"): frames whose row count is bounded
  *    by MODEL CONSTANTS or by the operator's OUTPUT, never by the
  *    corpus — trained models (PQ codebooks: m·kCodes rows; IRLS β;
  *    the bigram LM; the IDF table: vocabulary-sized), graph finals
  *    (ranks/labels/triangles: near-dup-graph-node-sized), verified
  *    near-dup pair sets (output-sized — never larger than the
  *    near-dup mass the corpus owes).
  *  - [[cachedCorpus]] (tier "corpus"): frames PROPORTIONAL to the
  *    corpus — the per-document signature tables the dedup family
  *    shares (minhash shingle sets + signatures, simhash fingerprints)
  *    and the per-vector frames of the trained ANN chains (the kmeans
  *    final assignment; PQ's sliced sub-vector table and final
  *    assignment at the declared m-rows-per-vector factor).
  *    These are the S7 result-cache discipline applied to the
  *    tokenize stage: five queries re-deriving the same per-doc
  *    token/gram frames from raw text was the dominant sf1 cost
  *    (~45 s of 194.5 s, r12 recording). At executor-cache scale they
  *    persist MEMORY_AND_DISK like any scan cache; a 100 TB deployment
  *    would WRITE them as derived Parquet tables (the S4 sink path)
  *    rather than pin them in executor memory — the tier marks exactly
  *    the entries that conversion applies to. MemoAuditSpec asserts
  *    every corpus-tier key is on its annotated allowlist and every
  *    bounded-tier entry stays node-sized.
  *
  * Lifecycle: entries persist at MEMORY_AND_DISK OUTSIDE any
  * [[CacheScope]] (they must outlive per-query scopes) and live until
  * the SparkContext they were built on goes away — the map clears
  * itself when it sees a different context, so frames from a stopped
  * context are never served.
  */
object Memo {

  private var ctxId: String = null
  private final case class Entry(df: DataFrame, tier: String, var hits: Long,
    var repersists: Long, writtenDir: Option[String] = None)
  private val entries = mutable.Map.empty[String, Entry]

  /** Root directory for the corpus-tier WRITTEN-TABLE conversion, when
    * configured (`spark.graft.memo.corpusSpillDir`). Unset (the
    * default, and the bench/test posture) corpus entries persist
    * MEMORY_AND_DISK like any scan cache. */
  private def corpusSpillRoot: Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap(s => Option(s.conf.get("spark.graft.memo.corpusSpillDir", null)))
      .filter(_.trim.nonEmpty)

  /** The frame for `key`, building (and persisting) it on first use.
    * BOUNDED tier: the frame's size must be bounded by model constants
    * or operator output, never by corpus rows — corpus-proportional
    * frames go through [[cachedCorpus]]. */
  def cached(key: String)(build: => DataFrame): DataFrame =
    cachedTier(key, "bounded")(build)

  /** [[cached]] for corpus-PROPORTIONAL derived frames (per-doc
    * signature tables). Same mechanics, separate tier label so the
    * footprint report and MemoAuditSpec audit it against the corpus
    * contract (annotated allowlist; disk-backed storage).
    *
    * WRITTEN-TABLE conversion (the 100 TB posture): with
    * `spark.graft.memo.corpusSpillDir` set, a corpus-tier entry is a
    * WRITTEN Parquet artifact — the S4 sink path — not an executor-
    * cache pin: at corpus scale a per-doc signature table does not fit
    * (and must not sit in) executor storage memory, and a written
    * table survives executor loss, cache eviction and session
    * restarts. The frame is written once under the fingerprint-keyed
    * directory (skip-if-exists through the `meta`-style `_SUCCESS`
    * gate — [[StoreFs.datasetComplete]], so hdfs://s3a:// roots work;
    * the write is staged and first-writer-wins promoted via
    * [[StoreFs.promoteIfAbsent]], making a complete directory
    * immutable under concurrent sessions)
    * and every consumer reads the committed table; a regenerated
    * corpus changes [[corpusKey]]'s fingerprint and therefore the
    * directory, making staleness structurally impossible. Row-identity
    * with the cached posture is pinned by MemoAuditSpec (signature
    * columns are longs and shingle sets `array<bigint>` digest halves —
    * Parquet INT64, an exact round-trip). */
  def cachedCorpus(key: String)(build: => DataFrame): DataFrame =
    corpusSpillRoot match {
      case Some(root) => writtenCorpus(root, key)(build)
      case None => cachedTier(key, "corpus")(build)
    }

  /** Path-safe directory token for a memo key: readable tag prefix +
    * a content hash of the FULL key (the key embeds the corpus path
    * and listing fingerprint, which are not path-safe). */
  private def keyToken(key: String): String = {
    val tag = key.takeWhile(_ != ':').filter(c => c.isLetterOrDigit || c == '-')
    val h = java.util.UUID.nameUUIDFromBytes(key.getBytes("UTF-8")).toString
    s"${if (tag.nonEmpty) tag else "entry"}-$h"
  }

  private def writtenCorpus(root: String, key: String)(
      build: => DataFrame): DataFrame = synchronized {
    entries.get(key) match {
      case Some(e) if sameContext(e.df) && e.writtenDir.isDefined =>
        e.hits += 1
        e.df
      case _ =>
        val spark = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          .getOrElse(throw new IllegalStateException(
            "corpus memo spill requires an active SparkSession"))
        val dir = s"$root/${keyToken(key)}"
        // skip-if-exists on the committer marker: an earlier write —
        // this session's or a previous one's — serves as-is, which is
        // the cross-eviction / cross-session hit the conversion buys.
        // The write itself is staged + first-writer-wins promoted
        // (marker-bracketed, appendMinhashSigStore-style): a complete
        // directory is IMMUTABLE, so a concurrent session that also saw
        // "not complete" can never overwrite files under this reader —
        // the loser's stage is discarded and the winner's table serves.
        if (!StoreFs.datasetComplete(spark, dir)) {
          val stage =
            s"$root/.stage-${keyToken(key)}-${java.util.UUID.randomUUID()}"
          StoreFs.sizedForWrite(build).write.mode("overwrite").parquet(stage)
          StoreFs.deleteMarker(spark, stage)
          if (StoreFs.promoteIfAbsent(spark, stage, dir))
            StoreFs.createMarker(spark, dir)
        }
        val served = spark.read.parquet(dir)
        val id = contextId(served)
        if (ctxId != id) { entries.clear(); ctxId = id }
        entries.put(key, Entry(served, "corpus", 0L, 0L, Some(dir)))
        served
    }
  }

  private def cachedTier(key: String, tier: String)(build: => DataFrame): DataFrame =
    synchronized {
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
        case _ =>
          val df = build
          val id = contextId(df)
          if (ctxId != id) { entries.clear(); ctxId = id }
          df.persist(StorageLevel.MEMORY_AND_DISK)
          entries.put(key, Entry(df, tier, 0L, 0L))
          df
      }
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
    * count, cached bytes). Bytes come from the optimized plan's
    * statistics — once an entry is materialized, cache substitution
    * rewrites its plan to the InMemoryRelation whose stats carry the
    * ACCUMULATED cached size, so the number is the real footprint, not
    * a cardinality estimate (an entry never yet materialized reports
    * its pre-execution estimate instead — read alongside `hits`).
    * Driver-side plan inspection only: no job runs, nothing collects.
    * Bench folds this into its JSON artifact so memo cache pressure is
    * observable against the ambient per-query band. */
  def report: Seq[MemoEntryStat] = synchronized {
    entries.toSeq.sortBy(_._1).flatMap { case (key, e) =>
      if (!sameContext(e.df)) None
      else {
        val bytes =
          // BigInt.toLong TRUNCATES silently: a never-materialized
          // entry can carry a multiplicative join-size estimate past
          // 2^63, which would wrap to plausible-looking garbage — mark
          // such estimates as saturated instead
          try {
            val bi = e.df.queryExecution.optimizedPlan.stats.sizeInBytes
            if (bi.isValidLong) bi.toLong else Long.MaxValue
          } catch { case _: Throwable => -1L }
        Some(MemoEntryStat(key, e.tier, e.hits, e.repersists, bytes,
          e.writtenDir.map(d => s"written:$d")
            .getOrElse(e.df.storageLevel.toString)))
      }
    }
  }

  final case class MemoEntryStat(key: String, tier: String, hits: Long,
    repersists: Long, bytes: Long, storage: String)

  private def contextId(df: DataFrame): String = {
    val sc = df.sparkSession.sparkContext
    s"${sc.applicationId}@${sc.startTime}"
  }

  private def sameContext(df: DataFrame): Boolean =
    try contextId(df) == ctxId && !df.sparkSession.sparkContext.isStopped
    catch { case _: Throwable => false }

  /** Drop every entry (tests; a long-lived service rotating corpora). */
  def clear(): Unit = synchronized {
    entries.values.foreach { e =>
      try e.df.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    entries.clear()
    ctxId = null
  }
}
