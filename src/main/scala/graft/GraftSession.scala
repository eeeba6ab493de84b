package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK

/** Session factory with the engine's standard configuration.
  *
  * Local mode is a stand-in for a real cluster: shuffle partitions are
  * sized to the core count (not the 200 default), AQE is on so skewed
  * shuffles re-plan at runtime, and ANSI mode is off for Hive-style
  * null-on-error semantics (matches the DuckDB oracle's NULL handling
  * in the driver's correctness gate).
  *
  * The engine's native Catalyst expressions are injected through
  * `SparkSessionExtensions` (the supported extension point), so
  * `graft_cosine(...)` is available to SQL and `expr(...)` in every
  * session built here.
  */
object GraftSession {
  /** The engine's native functions: (name, class, arity, builder over
    * arity-checked children). A wrong-arity SQL call gets the standard
    * WRONG_NUM_ARGS AnalysisException (naming function and counts)
    * instead of a builder MatchError. */
  private val functions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = {
    import graft.functions._
    def literal(fn: String, what: String, e: Expression): String = {
      require(e.foldable && e.eval() != null, s"$fn needs a literal $what, got ${e.sql}")
      e.eval().toString
    }
    Seq(
      ("graft_cosine", classOf[CosineSimilarity], 2,
        { case Seq(a, b) => CosineSimilarity(a, b) }),
      ("graft_lsh_bucket", classOf[LshBucket], 2, { case Seq(a, b) => LshBucket(a, b) }),
      ("graft_top_cells", classOf[TopCells], 3, { case Seq(a, b, c) => TopCells(a, b, c) }),
      ("graft_minhash_sig", classOf[MinhashSig], 3,
        { case Seq(a, b, c) => MinhashSig(a, b, c) }),
      ("graft_sorted_intersect_size", classOf[SortedIntersectSize], 2,
        { case Seq(a, b) => SortedIntersectSize(a, b) }),
      ("graft_kgrams", classOf[Kgrams], 3, { case Seq(a, b, c) => Kgrams(a, b, c) }),
      ("graft_simhash", classOf[SimhashSig], 1, { case Seq(a) => SimhashSig(a) }),
      ("graft_bucket_members", classOf[BucketMembers], 2, { case Seq(m, cap) =>
        BucketMembers(m, literal("graft_bucket_members", "cap", cap).toLong) }),
      ("graft_decimal_sum", classOf[DecimalSum], 3, { case Seq(x, p, s) =>
        val what = "precision and scale"
        DecimalSum(x, literal("graft_decimal_sum", what, p).toInt,
          literal("graft_decimal_sum", what, s).toInt) }),
      ("graft_repetition", classOf[RepetitionSignals], 1,
        { case Seq(a) => RepetitionSignals(a) }),
      // Spark's bounded top-k aggregate, reachable from SQL only through
      // this row: the k least values in ascending SQL order (NULL inputs
      // skipped, NULL struct fields first), O(k) state per group.
      ("graft_top_k", classOf[CollectTopK], 2, { case Seq(v, k) =>
        val n = literal("graft_top_k", "k", k).toIntOption.getOrElse(0)
        require(n >= 1, s"graft_top_k needs an integer k >= 1, got ${k.sql}")
        new CollectTopK(v, n, true, 0, 0) }))
  }

  /** Names of the injected native functions. */
  private[graft] def functionNames: Seq[String] = functions.map(_._1)

  def configure(b0: SparkSession.Builder, cores: String): SparkSession.Builder = {
    val b = localDirDefault.fold(b0)(d => b0.config("spark.local.dir", d))
    b.withExtensions { ext =>
        functions.foreach { case (name, cls, arity, build) =>
          ext.injectFunction((FunctionIdentifier(name),
            new ExpressionInfo(cls.getName, name),
            (children: Seq[Expression]) => {
              if (children.length != arity)
                throw new org.apache.spark.sql.AnalysisException(
                  errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
                  messageParameters = Map(
                    "functionName" -> s"`$name`",
                    "expectedNum" -> arity.toString,
                    "actualNum" -> children.length.toString,
                    "docroot" -> "https://spark.apache.org/docs/latest"))
              build(children)
            }))
        }
      }
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // The driver's events table is TIMESTAMP(NANOS) parquet, which
      // Spark 4 otherwise rejects; read as raw nanos and normalize in
      // Tables.events (DuckDB truncates ns→µs the same way).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // µs timestamps with isAdjustedToUTC=false would otherwise load as
      // TIMESTAMP_NTZ (unusable with unix_micros); with the session tz
      // pinned to UTC above, reading them as TIMESTAMP keeps the stored
      // value = epoch-micros, exactly how DuckDB hashes the same column.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      // Shuffle write path (r16, measured): the bypass merge writer
      // creates one file PER REDUCE PARTITION per map task (M·R file
      // opens + an M·R-way copy-merge); with 32 maps × 32 reducers per
      // shuffle, stack sampling showed task threads dominated by
      // FileOutputStream.open0/copyFileStreamNIO inside
      // BypassMergeSortShuffleWriter — fixed metadata IO, not data.
      // Threshold 1 routes every SQL shuffle through the serialized
      // sort writer (one spill file + index per map task regardless of
      // R — the same path Spark itself picks whenever R > 200). The
      // sort the bypass writer exists to avoid is over partition IDs of
      // in-memory serialized rows; its cost scales with the DATA, the
      // file-create cost with M·R on every filesystem — so the
      // serialized writer is the right default at both bench and
      // cluster scale (measured at sf0.1: summed task time of the two
      // worst shuffle-wave queries 39.3 s → 9.5 s and 21 s → 6.5 s).
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Codegen class cache (r17, measured): the default is a STATIC
      // 100 entries, sized for a single-query application. A session
      // serving a many-query workload (this registry is 195 queries ×
      // ~10–20 codegen units each) evicts the whole cache between any
      // two runs of the same query, so every run re-compiles every
      // WholeStageCodegen/ordering/unsafe-projection class on the
      // driver (r16 tested the resize only single-query-warm, where it
      // can't matter, and wrongly rejected it). 5000 entries holds the
      // registry's full working set; measured on the 30 slowest
      // queries interleaved ×3: 45.4 s → 31.9 s (−30%), every query
      // faster, none slower. Scale-neutral: compilation happens on the
      // driver regardless of cluster size, and a production session
      // running a query mix pays the identical recompile tax at 100.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Deployment overrides, applied LAST so they win over every
      // default above: SPARK_GRAFT_CONF="k=v;k=v". This is how the
      // scale-dependent settings (shuffle width, local dirs, bypass
      // threshold, broadcast threshold) are re-pointed at cluster
      // values without a code change — and how the bench A/Bs a
      // candidate conf against the standard session.
      .applyOverrides
  }

  private implicit class BuilderOps(private val b: SparkSession.Builder)
      extends AnyVal {
    /** SPARK_GRAFT_CONF="k=v;k=v". Entries are split on ';' so values
      * cannot contain a semicolon (documented limitation — no escape
      * syntax; conf values needing ';' must be set in code or via
      * spark-defaults). Keys AND values are trimmed; an entry whose key
      * trims to empty (e.g. "=v", or a stray ";;") is rejected loudly
      * rather than silently setting the "" conf key. */
    def applyOverrides: SparkSession.Builder =
      sys.env.get("SPARK_GRAFT_CONF").iterator
        .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
        .foldLeft(b) { (acc, kv) =>
          require(kv.contains("="),
            s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
          val Array(k, v) = kv.split("=", 2)
          require(k.trim.nonEmpty,
            s"SPARK_GRAFT_CONF entry '$kv' has an empty key")
          acc.config(k.trim, v.trim)
        }
  }

  /** Shuffle/spill scratch space: prefer the memory-backed /dev/shm
    * when present (the bench's shuffle blocks are MBs; file create +
    * fsync latency on the sandbox overlay fs dominated small-stage task
    * time — same adjudication as the streaming checkpoint default in
    * StreamOps). Deployments keep full control: Spark's own precedence
    * honors the SPARK_LOCAL_DIRS env var over `spark.local.dir`, and
    * cluster managers (YARN/K8s) inject their own local dirs that win
    * outright, so this default only ever binds in bare local mode. The
    * default also yields when the caller already chose: a
    * `spark.local.dir` system property or SPARK_LOCAL_DIRS env var
    * suppresses it (a value set only on the builder before configure()
    * is not observable through the public Builder API — callers who set
    * it that way should set the system property instead, or override
    * via SPARK_GRAFT_CONF, which is applied last and wins).
    *
    * tmpfs is typically capped at half of RAM, so the default is GATED
    * on headroom: it binds only when /dev/shm has ≥ 4 GiB usable AND
    * ≥ 25% of its capacity free — a shuffle larger than that belongs on
    * disk (ENOSPC on tmpfs where disk would have succeeded is worse
    * than the latency win). Crashed runs can also leave blockmgr data
    * resident in RAM under the fixed graft-spark-local dir; startup
    * sweeps entries whose entire subtree is > 1 h cold (a LIVE session
    * keeps writing, so its newest mtime is recent; 1 h of total write
    * silence on a shuffle scratch dir means the owning JVM is gone). */
  private def localDirDefault: Option[String] = {
    if (sys.props.contains("spark.local.dir") ||
        sys.env.contains("SPARK_LOCAL_DIRS")) return None
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (!java.nio.file.Files.isDirectory(shm) ||
        !java.nio.file.Files.isWritable(shm)) return None
    val headroomOk = try {
      val store = java.nio.file.Files.getFileStore(shm)
      store.getUsableSpace >= (4L << 30) &&
        store.getUsableSpace >= store.getTotalSpace / 4
    } catch { case scala.util.control.NonFatal(_) => false }
    if (!headroomOk) return None
    val root = shm.resolve("graft-spark-local")
    sweepStale(root, java.time.Duration.ofHours(1))
    Some(root.toString)
  }

  /** Delete direct children of `root` whose whole subtree went cold
    * before `now - age` (leaked scratch from crashed runs — tmpfs holds
    * it in RAM until reboot otherwise). Best-effort: IO races with a
    * concurrently-exiting session just skip that entry. */
  private def sweepStale(root: java.nio.file.Path,
      age: java.time.Duration): Unit = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(root)) return
    val cutoff = java.time.Instant.now().minus(age)
    def newestMtime(p: Path): java.time.Instant = {
      val self = Files.getLastModifiedTime(p).toInstant
      if (!Files.isDirectory(p)) self
      else {
        val kids = Files.list(p)
        try kids.iterator.asScala.foldLeft(self)((m, k) =>
          try { val t = newestMtime(k); if (t.isAfter(m)) t else m }
          catch { case scala.util.control.NonFatal(_) => m })
        finally kids.close()
      }
    }
    def deleteTree(p: Path): Unit = {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val kids = Files.list(p)
        try kids.iterator.asScala.foreach(deleteTree)
        finally kids.close()
      }
      Files.deleteIfExists(p)
    }
    try {
      val kids = Files.list(root)
      try kids.iterator.asScala.foreach { k =>
        try if (newestMtime(k).isBefore(cutoff)) deleteTree(k)
        catch { case scala.util.control.NonFatal(_) => () }
      } finally kids.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Core count of a session built by [[local]]: `SPARK_GRAFT_CPUS`
    * when set, else the host's processor count. A set value that is not
    * a positive integer is refused, by name, rather than falling back. */
  private[graft] def coreCount(env: Map[String, String] = sys.env,
      available: Int = Runtime.getRuntime.availableProcessors()): Int =
    env.get("SPARK_GRAFT_CPUS").fold(available) { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** The one session recipe of every main and test:
    * `local[cores]` with the standard configuration above. */
  def local(cores: Int = coreCount()): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      cores.toString
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
