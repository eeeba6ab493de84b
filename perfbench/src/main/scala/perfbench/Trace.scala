package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch microseconds; `parent` is the
  * id of the span that caused it (0 for the run). */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    start: Long, var end: Long = -1L)

/** Work the executors did for one build or action span. */
final class TaskAgg {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, deserMs, spillBytes = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  val intervals = ArrayBuffer.empty[(Long, Long)] // task [launch, finish) in ms
}

/** One streaming micro-batch, as reported by the progress listener. */
final case class Batch(timeMs: Long, durationMs: Long, inputRows: Long, stateRows: Long)

/** In-memory trace of a run.
  *
  * Driver-side spans (run, pass, query, build, action, Catalyst phases)
  * are opened and closed by the benchmark around its calls into the
  * engine. Job and stage spans and task counters come from a Spark
  * listener: the driver thread tags every job it starts with the id of
  * the build or action span that is open (a local property), so jobs of
  * one query share its span. Streaming progress comes from a streaming
  * query listener. Listeners are attached only while [[attach]]ed; spans
  * stay in memory until the run writes them out, parent links included,
  * so a layer's self time is its span minus the part its child spans
  * cover.
  */
final class Tracer(sc: SparkContext) {
  val SpanProp = "perfbench.span"

  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowUs: Long = (offsetNs + System.nanoTime()) / 1000

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = ArrayBuffer.empty[Span]

  def open(parent: Long, name: String, kind: String, start: Long = -1L): Span = {
    val s = Span(nextId.getAndIncrement(), parent, name, kind,
      if (start >= 0) start else nowUs)
    spans.synchronized(spans += s)
    s
  }

  def close(s: Span, end: Long = -1L): Unit = s.end = if (end >= 0) end else nowUs

  /** Run `body` with jobs tagged as children of `s`. */
  def tagged[T](s: Span)(body: => T): T = {
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body finally sc.setLocalProperty(SpanProp, null)
  }

  val aggs = new ConcurrentHashMap[Long, TaskAgg]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  val batches = ArrayBuffer.empty[Batch]

  private def agg(spanId: Long): TaskAgg = aggs.computeIfAbsent(spanId, _ => new TaskAgg)
  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { sid =>
      val a = agg(sid)
      a.synchronized(a.jobs += 1)
      val j = open(sid, s"job ${e.jobId}", "job", e.time * 1000)
      jobSpans.put(e.jobId, j)
      e.stageIds.foreach { st => stageSpan.put(st, sid); stageJob.put(st, j.id) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach(close(_, e.time * 1000))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { sid =>
        stageSpan.put(e.stageInfo.stageId, sid)
        val a = agg(sid)
        a.synchronized(a.stages += 1)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageSpan.get(si.stageId)).foreach { sid =>
        val parent: Long = Option(stageJob.get(si.stageId)).map(_.longValue).getOrElse(sid)
        for (a <- si.submissionTime; b <- si.completionTime)
          close(open(parent, s"stage ${si.stageId}", "stage", a * 1000), b * 1000)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { sid =>
        val a = agg(sid)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          if (m != null) {
            a.taskMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.deserMs += m.executorDeserializeTime
            a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead
            a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.synchronized(batches += Batch(t, dur, p.numInputRows, state))
    }
  }

  private var attached = false
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Deliver every pending event, then stop listening. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    attached = false
  }
}
