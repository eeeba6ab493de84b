package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{GraftSession, SparkEntry}
import graft.operators.CacheScope

/** Per-STAGE attribution for the r16 "where does the task time go"
  * question: a per-query job split on 32 cores showed several ~2 s
  * queries carry 25–30 s of SUMMED executor task time (wall ≈
  * task_sum / 32 + the job floor) — so their wall is real compute, not
  * pure scheduling.
  * This tool names the stages that burn it.
  *
  * Method: warm the query once (memo/codegen), then run one timed rep
  * with a listener that records, per completed stage, the summed
  * executor run time, task count, and the stage's name (the first line
  * of its details — the call site). Stages are printed sorted by task
  * time so the top entry IS the optimization target.
  *
  * Usage: runMain graft.tools.StageProfile <name[,name...]>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1); the session reads
  * SPARK_GRAFT_CPUS and SPARK_GRAFT_CONF like every other main.
  */
object StageProfile {

  private case class St(id: Int, name: String, runMs: Long, tasks: Int,
    cpuMs: Long, deserMs: Long, gcMs: Long,
    inRec: Long, shRdRec: Long, shWrRec: Long)

  private class Acc extends SparkListener {
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages += St(i.stageId, i.name.takeWhile(_ != '\n'),
          if (m != null) m.executorRunTime else 0L, i.numTasks,
          if (m != null) m.executorCpuTime / 1000000L else 0L,
          if (m != null) m.executorDeserializeTime else 0L,
          if (m != null) m.jvmGCTime else 0L,
          if (m != null) m.inputMetrics.recordsRead else 0L,
          if (m != null) m.shuffleReadMetrics.recordsRead else 0L,
          if (m != null) m.shuffleWriteMetrics.recordsWritten else 0L)
      }
    def reset(): Unit = synchronized { stages.clear() }
  }

  /** Poor-man's profiler: sample all "Executor task launch worker"
    * thread stacks every `periodMs` while `body` runs; returns
    * frame-histogram of the topmost interesting frame per sample. */
  private def sampleStacks[A](periodMs: Long)(body: => A)
      : (A, Seq[(String, Int)]) = {
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var stop = false
    // GRAFT_SAMPLE_THREADS=driver samples every non-executor, non-idle
    // thread (prefixed with its name) — the per-job floor lives there.
    val driverMode = sys.env.get("GRAFT_SAMPLE_THREADS").contains("driver")
    val t = new Thread(() => {
      while (!stop) {
        Thread.getAllStackTraces.forEach { (th, st) =>
          val isExec = th.getName.startsWith("Executor task launch worker")
          if (st.nonEmpty && (if (driverMode) !isExec else isExec)) {
            val top = st.head
            val m = top.getMethodName
            val idle = m.contains("wait") || m.contains("Wait") ||
              m.contains("park") || m.contains("poll") ||
              m.contains("accept") || m.contains("dumpThreads") ||
              m.contains("sleep") || top.getClassName.startsWith("java.lang.ref")
            if (!driverMode || !idle) {
              val key = (if (driverMode) s"[${th.getName}] " else "") +
                st.take(24).map(f => f.getClassName + "." + f.getMethodName)
                  .mkString(" <- ")
              hist.merge(key, 1, (a, b) => a + b)
            }
          }
        }
        Thread.sleep(periodMs)
      }
    })
    t.setDaemon(true)
    t.start()
    // try/finally: if body throws, the sampler must still be stopped and
    // joined, or the daemon thread keeps spinning and leaks the histogram.
    val r = try body finally { stop = true; t.join(500) }
    import scala.jdk.CollectionConverters._
    (r, hist.asScala.toSeq.map { case (k, v) => (k, v.intValue) }.sortBy(-_._2))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProfile <name,...>")
    val names = args(0).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // A/B a hypothesis against the standard session with
    // SPARK_GRAFT_CONF="k=v;k=v", which GraftSession applies last.
    val spark = GraftSession.local()
    val reg = SparkEntry.queries
    names.foreach { n =>
      val fn = reg(n)
      try CacheScope.withScope { fn(spark, sfDir).count() }
      catch { case scala.util.control.NonFatal(_) => () }
      val acc = new Acc
      // The listener bus is async: stage-completed events from the warm
      // run can still be queued here and would be delivered to the new
      // listener, inflating the timed totals — drain before registering,
      // mirroring the drain already done before removal.
      Thread.sleep(300L)
      spark.sparkContext.addSparkListener(acc)
      val t0 = System.nanoTime()
      val (_, frames) = sampleStacks(20) {
        CacheScope.withScope { fn(spark, sfDir).count() }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300L) // listener bus drain
      spark.sparkContext.removeSparkListener(acc)
      val tot = acc.stages.map(_.runMs).sum / 1e3
      println(f"===== $n wall=$wall%.3f s, stage task-time total=$tot%.3f s, stages=${acc.stages.size}")
      acc.stages.sortBy(-_.runMs).take(12).foreach { s =>
        println(f"  run=${s.runMs / 1e3}%7.3f s cpu=${s.cpuMs / 1e3}%7.3f s gc=${s.gcMs / 1e3}%6.3f s tasks=${s.tasks}%4d in=${s.inRec}%8d shR=${s.shRdRec}%8d shW=${s.shWrRec}%8d  ${s.name}")
      }
      val totSamples = frames.map(_._2).sum.max(1)
      println(s"  --- task-thread stack samples (total $totSamples) ---")
      frames.take(10).foreach { case (k, v) =>
        println(f"  ${100.0 * v / totSamples}%5.1f%% ($v%4d)  ${k.take(600)}")
      }
    }
    spark.stop()
  }
}
