package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.queries.Q

/** One query execution inside a pass. */
final case class Exec(query: String, pass: Int, traced: Boolean,
    buildS: Double, totalS: Double, digest: Option[Digest], error: Option[String],
    cacheBytes: Long, cacheFrames: Int, catalyst: Map[String, Double],
    buildSpan: Long, actionSpan: Long, actionStartMs: Long, actionEndMs: Long)

/** One pass over a workload's sample; times are wall clock. `memoHits`
  * and `memoNew` are the memo hits and entries the pass added. */
final case class Pass(index: Int, traced: Boolean, wallS: Double, startMs: Long, endMs: Long,
    memoHits: Long, memoNew: Long)

/** Benchmark driver: one closed-loop client on one driver thread.
  *
  * Modes (`--mode`):
  *  - `run`: one cold pass over a workload's queries, two settling
  *    passes, then warm passes for `--seconds`; with `--trace 1` the cold pass
  *    and every other warm pass are traced;
  *  - `calibrate`: every registry query once cold and once warm, with
  *    digests and times (regenerates `expected.json`).
  *
  * Every query is forced by [[Digest.compute]], inside its own
  * `CacheScope`, and its digest is checked against `--expected`.
  * Results go to the JSON file named by `--out`, with `setup_s`: the
  * time from process spawn to a ready session.
  */
object Main {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"usage: --key value ...; got ${args.mkString(" ")}")
    Opts(args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap)
  }

  def session(runDir: Path, cores: Int): SparkSession = {
    val b = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      cores.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.graft.stream.checkpointDir", runDir.resolve("checkpoints").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    // CLOCK_MONOTONIC, the clock of both System.nanoTime and the spawning
    // process's time.monotonic_ns
    val spawnNs = o("spawn-ns").toLong
    val runDir = Paths.get(o("run-dir"))
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(runDir, cores)
    val startS = (System.nanoTime() - t0) / 1e9
    val record = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (System.nanoTime() - spawnNs) / 1e9)
    try o("mode") match {
      case "calibrate" => record ++= calibrate(spark, o("data"))
      case "run" => record ++= new Run(spark, o, cores, startS).apply()
      case m => sys.error(s"unknown mode $m")
    } finally spark.stop()
    Files.writeString(Paths.get(o("out")), json(record) + "\n")
  }

  /** Total bytes of the RDD blocks cached right now, and how many RDDs. */
  def cacheSample(spark: SparkSession): (Long, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.map(i => i.memSize + i.diskSize).sum, infos.length)
  }

  /** Files under `root` whose first path element starts with `prefix`. */
  def filesUnder(root: Path, prefix: String): Seq[Long] =
    if (!Files.isDirectory(root)) Nil
    else Files.list(root).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith(prefix))
      .flatMap { d =>
        val w = Files.walk(d)
        try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).toList
        finally w.close()
      }

  def inputBytes(dataDir: String): Map[String, Long] =
    graft.Tables.all.map(t => t -> Files.size(Paths.get(dataDir, s"$t.parquet"))).toMap

  def readExpected(path: Option[String]): Map[String, Digest] = path.map { p =>
    mapper.readTree(Paths.get(p).toFile).get("digests").properties.asScala.map { e =>
      val v = e.getValue
      e.getKey -> Digest(v.get("rows").asLong, v.get("hash").asText, v.get("schema").asText)
    }.toMap
  }.getOrElse(Map.empty)

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** Every registry query once cold, then once warm; a query has a
    * digest when both executions succeed with the same result. */
  def calibrate(spark: SparkSession, dataDir: String): Map[String, Any] = {
    def once(q: Q): (Double, Either[String, Digest]) = {
      val t0 = System.nanoTime()
      val r = try Right(graft.operators.CacheScope.withScope(
        Digest.compute(q.build(spark, dataDir))._1))
      catch { case NonFatal(e) => Left(errorText(e)) }
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val cold = Q.registry.map(q => q -> once(q))
    val rows = cold.map { case (q, c) => (q.name, c, once(q)) }
    Map(
      "queries" -> mutable.LinkedHashMap(rows.map { case (n, (cs, cr), (ws, wr)) =>
        n -> Map("family" -> Workloads.family(n), "cold_s" -> cs, "warm_s" -> ws,
          "error" -> cr.left.toOption.orElse(wr.left.toOption), "stable" -> (cr == wr))
      }: _*),
      "digests" -> mutable.LinkedHashMap(rows.collect {
        case (n, (_, Right(d)), (_, wr)) if wr == Right(d) => n -> d
      }: _*))
  }
}

/** One `--mode run` execution: cold pass, warm passes, metrics. */
final class Run(spark: SparkSession, o: Main.Opts, cores: Int, startS: Double) {
  import Main._

  private val w = Workloads.byName(o("workload"))
  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val trace = o.get("trace").contains("1")
  private val dataDir = o("data")
  private val expected = readExpected(o.get("expected"))
  private val registry = Workloads.registry
  private val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
  /** Warm passes every run measures, whatever `--seconds` allows. The
    * JIT still speeds passes up by 5-10% each, so runs must share this
    * count: a slow host that stopped after fewer passes would read
    * slower still (measured: 2-pass runs 15-25% above 3-pass runs). */
  private val minWarm = 4
  /** Passes up to this index are not warm: the cold pass, then passes
    * in which the JIT is still compiling the hot paths the cold pass
    * profiled (measured: the first two after the cold pass are 10-40%
    * slower than the ones after them, and vary most from run to run). */
  private val Settle = 2
  private def isWarm(pass: Int) = pass > Settle

  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val passes = mutable.ArrayBuffer.empty[Pass]
  private val passSpans = mutable.Map.empty[Int, Span]
  private val mismatches = mutable.LinkedHashMap.empty[String, String]
  private val errors = mutable.LinkedHashMap.empty[String, String]

  private def tagged[T](s: Option[Span])(body: => T): T =
    (for (t <- tracer; sp <- s) yield t.tagged(sp)(body)).getOrElse(body)

  private def runOne(name: String, pass: Int, traced: Boolean): Exec = {
    val tr = tracer.filter(_ => traced)
    val qs = tr.map(t => t.open(passSpans(pass).id, name, "query"))
    val bs = tr.map(t => t.open(qs.get.id, "build", "build"))
    var as: Option[Span] = None
    val t0 = System.nanoTime()
    var t1 = t0
    var a0, a1 = 0L
    var phases = Map.empty[String, Double]
    val res: Either[Throwable, (Digest, (Long, Int))] = try Right(
      graft.operators.CacheScope.withScope {
        val df = tagged(bs)(registry(name).build(spark, dataDir))
        t1 = System.nanoTime()
        for (t <- tr; b <- bs) { t.close(b); as = Some(t.open(qs.get.id, "action", "action")) }
        a0 = System.currentTimeMillis()
        val (d, f) = tagged(as)(Digest.compute(df))
        a1 = System.currentTimeMillis()
        val ph = f.queryExecution.tracker.phases
        phases = ph.map { case (k, v) => k -> v.durationMs / 1e3 }
        for (t <- tr; q <- qs; (k, v) <- ph)
          t.close(t.open(q.id, s"catalyst.$k", "catalyst", v.startTimeMs * 1000), v.endTimeMs * 1000)
        (d, cacheSample(spark))
      })
    catch { case NonFatal(e) => Left(e) }
    val t2 = System.nanoTime()
    for (t <- tr) { bs.filter(_.end < 0).foreach(t.close(_)); as.foreach(t.close(_)); qs.foreach(t.close(_)) }
    if (t1 == t0) t1 = t2
    val (digest, error, (cacheBytes, cacheFrames)) = res match {
      case Right((d, cache)) =>
        if (!expected.get(name).contains(d))
          mismatches(s"$name@$pass") = s"expected ${expected.get(name)}, got $d"
        (Some(d), None, cache)
      case Left(e) =>
        errors(s"$name@$pass") = errorText(e)
        (None, Some(errorText(e)), (0L, 0))
    }
    Exec(name, pass, traced, (t1 - t0) / 1e9, (t2 - t0) / 1e9, digest, error,
      cacheBytes, cacheFrames, phases, bs.map(_.id).getOrElse(0L),
      as.map(_.id).getOrElse(0L), a0, a1)
  }

  /** Memo hits so far and live memo entries. */
  private def memoTotals: (Long, Long) = {
    val r = graft.operators.Memo.report
    (r.map(_.hits).sum, r.size.toLong)
  }

  private def runPass(pass: Int, traced: Boolean, runSpan: Option[Span]): Double = {
    val tr = tracer.filter(_ => traced)
    tr.foreach(_.attach(spark))
    tr.foreach(t => passSpans(pass) = t.open(runSpan.get.id, s"pass $pass", "pass"))
    val (h0, n0) = if (traced) memoTotals else (0L, 0L)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Workloads.passOrder(w, seed, pass).foreach(n => execs += runOne(n, pass, traced))
    val wall = (System.nanoTime() - t0) / 1e9
    val m1 = System.currentTimeMillis()
    tr.foreach { t => t.close(passSpans(pass)); t.detach(spark) }
    val (h1, n1) = if (traced) memoTotals else (0L, 0L)
    passes += Pass(pass, traced, wall, m0, m1, h1 - h0, math.max(0L, n1 - n0))
    wall
  }

  def apply(): scala.collection.Map[String, Any] = {
    val runSpan = tracer.map(_.open(0L, s"run ${w.name}", "run"))
    val cold = runPass(0, traced = trace, runSpan)
    (1 to Settle).foreach(runPass(_, traced = false, runSpan))
    val warmStart = System.nanoTime()
    var pass = Settle + 1
    while (pass <= Settle + minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      runPass(pass, traced = trace && pass % 2 == 0, runSpan)
      pass += 1
    }
    for (t <- tracer; r <- runSpan) t.close(r)

    val warmExecs = execs.filter(e => isWarm(e.pass) && !e.traced)
    val warmWalls = passes.filter(p => isWarm(p.index) && !p.traced).map(_.wallS)
    val (tail, tailP, tailBeyond) =
      Stats.tail(warmExecs.map(_.totalS).toSeq, w.sample.size * (if (trace) minWarm / 2 else minWarm))
    val storeFiles = filesUnder(Paths.get(System.getProperty("java.io.tmpdir")), "graft_")
    val inBytes = inputBytes(dataDir)
    val failed = execs.count(_.error.isDefined) + mismatches.size
    val cachePeak = execs.map(_.cacheBytes).maxOption.getOrElse(0L)
    val endToEnd = mutable.LinkedHashMap[String, Any](
      "cold_pass_s" -> cold,
      "warm_pass_s" -> Stats.median(warmWalls.toSeq),
      "query_p50_s" -> Stats.median(warmExecs.map(_.totalS).toSeq),
      "query_tail_s" -> tail,
      "failed_ratio" -> failed.toDouble / execs.size,
      "cache_peak_mb" -> cachePeak / 1048576.0,
      "store_bytes_per_input_byte" -> storeFiles.sum.toDouble / inBytes.values.sum)
    mutable.LinkedHashMap[String, Any](
      "workload" -> w.name,
      "seed" -> seed,
      "trace" -> trace,
      "attempted" -> execs.size,
      "failed" -> failed,
      "end_to_end" -> endToEnd,
      "tail" -> Map("percentile" -> tailP, "samples" -> warmExecs.size, "beyond" -> tailBeyond),
      "warm_passes" -> warmWalls.toSeq,
      "settle_passes" -> passes.filter(p => p.index > 0 && !isWarm(p.index)).map(_.wallS).toSeq,
      "per_layer" -> (if (trace) layers(storeFiles, inBytes.values.sum) else Map.empty),
      "provenance" -> Map(
        "nproc" -> cores, "master" -> spark.sparkContext.master,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.version")}",
        "spark" -> spark.version, "seed" -> seed, "families" -> w.families,
        "queries" -> w.sample, "query_list_sha256" -> Workloads.listHash(w.sample),
        "input_bytes" -> inBytes),
      "errors" -> errors,
      "mismatches" -> mismatches,
      "queries" -> w.sample.map { n =>
        val es = execs.filter(_.query == n)
        n -> (Map("cold_s" -> es.find(_.pass == 0).map(_.totalS),
          "warm_s" -> es.filter(e => isWarm(e.pass) && !e.traced).map(_.totalS).toSeq,
          "digest" -> es.flatMap(_.digest).headOption) ++ tracer.map { _ =>
          // median over the traced warm executions, as a pass reports it
          val tr = es.filter(e => isWarm(e.pass) && e.traced).map(figures).toSeq
          "layers" -> tr.headOption.map(_.keys.map(k => k -> Stats.median(tr.map(_(k)))).toMap)
        })
      }.toMap) ++ tracer.map(_ => "trace_spans" -> o("trace-out"))
  }

  private def agg(id: Long): TaskAgg =
    tracer.flatMap(t => Option(t.aggs.get(id))).getOrElse(new TaskAgg)

  /** The per-layer work of one traced execution: what it adds to its
    * pass's per-layer metrics. */
  private def figures(e: Exec): Map[String, Double] = {
    val (b, a) = (agg(e.buildSpan), agg(e.actionSpan))
    def both(f: TaskAgg => Long): Double = (f(b) + f(a)).toDouble
    val covered = a.synchronized(Stats.covered(a.intervals.toSeq, e.actionStartMs, e.actionEndMs))
    Map(
      "query_s" -> e.totalS,
      "queries.build_s" -> e.buildS,
      "queries.build_jobs" -> b.jobs.toDouble,
      "catalyst.analysis_s" -> e.catalyst.getOrElse("analysis", 0.0),
      "catalyst.optimize_s" -> e.catalyst.getOrElse("optimization", 0.0),
      "catalyst.plan_s" -> e.catalyst.getOrElse("planning", 0.0),
      "scheduler.jobs" -> both(_.jobs),
      "scheduler.stages" -> both(_.stages),
      "scheduler.tasks" -> both(_.tasks),
      "scheduler.driver_gap_s" -> (e.actionEndMs - e.actionStartMs - covered) / 1e3,
      "executor.task_s" -> both(_.taskMs) / 1e3,
      "executor.cpu_s" -> both(_.cpuNs) / 1e9,
      "executor.gc_s" -> both(_.gcMs) / 1e3,
      "executor.deserialize_s" -> both(_.deserMs) / 1e3,
      "executor.spill_bytes" -> both(_.spillBytes),
      "shuffle.write_bytes" -> both(_.shuffleWrite),
      "shuffle.read_bytes" -> both(_.shuffleRead),
      "shuffle.fetch_wait_s" -> both(_.fetchWaitMs) / 1e3,
      "kernels.task_s" -> (if (Workloads.isKernel(e.query)) both(_.taskMs) / 1e3 else 0.0))
  }

  /** Per-layer metrics of the traced passes: per-pass sums of the
    * executions' [[figures]], median over the traced warm passes, plus
    * end-of-run memo, cache and store state. */
  private def layers(storeFiles: Seq[Long], inBytes: Long): Map[String, Double] = {
    val t = tracer.get
    Files.writeString(Paths.get(o("trace-out")), json(t.spans.synchronized(t.spans.toSeq)))
    val traced = passes.filter(p => p.traced && isWarm(p.index)).toSeq
    val untraced = passes.filter(p => !p.traced && isWarm(p.index)).map(_.wallS).toSeq
    val passFigures = traced.map { p =>
      val fs = execs.filter(_.pass == p.index).map(figures)
      p -> fs.flatMap(_.keys).distinct.map(k => k -> fs.map(_(k)).sum).toMap
    }
    def perPass(f: (Map[String, Double], Pass) => Double): Double =
      Stats.median(passFigures.map { case (p, fs) => f(fs, p) })
    val summed = passFigures.headOption.map(_._2.keySet - "query_s").getOrElse(Set.empty)
    val memo = graft.operators.Memo.report
    def inPass(b: Batch, p: Pass) = b.timeMs >= p.startMs && b.timeMs <= p.endMs
    val batches = t.batches.synchronized(t.batches.toSeq)
    summed.map(k => k -> perPass((fs, _) => fs(k))).toMap ++ Map(
      "session.start_s" -> startS,
      "queries.build_cold_s" -> execs.filter(_.pass == 0).map(_.buildS).sum,
      "executor.slot_util" -> perPass((fs, p) => fs("executor.task_s") / (p.wallS * cores)),
      "memo.hits" -> perPass((_, p) => p.memoHits.toDouble),
      // lookups: hits plus the entries a pass created
      "memo.hit_ratio" -> perPass((_, p) =>
        if (p.memoHits + p.memoNew == 0) 0.0 else p.memoHits.toDouble / (p.memoHits + p.memoNew)),
      "memo.entries" -> memo.size.toDouble,
      "memo.bytes" -> memo.map(_.bytes.max(0L)).sum.toDouble,
      "cache.frames_peak" -> execs.map(_.cacheFrames).maxOption.getOrElse(0).toDouble,
      "store.bytes" -> storeFiles.sum.toDouble,
      "store.files" -> storeFiles.size.toDouble,
      "store.mean_file_bytes" -> (if (storeFiles.isEmpty) 0.0 else storeFiles.sum.toDouble / storeFiles.size),
      "streaming.batches" -> perPass((_, p) => batches.count(inPass(_, p)).toDouble),
      "streaming.batch_s" -> perPass((_, p) => batches.filter(inPass(_, p)).map(_.durationMs).sum / 1e3),
      "streaming.input_rows" -> perPass((_, p) => batches.filter(inPass(_, p)).map(_.inputRows).sum.toDouble),
      "streaming.state_rows_peak" -> batches.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "store.bytes_per_input_byte" -> storeFiles.sum.toDouble / inBytes,
      "trace.overhead_s" -> (Stats.median(traced.map(_.wallS)) - Stats.median(untraced)))
  }
}
