package graft.tools

/** Dev probe: wall-clock decomposition of one bounded streaming replay
  * (micro-batch durationMs breakdown from the progress events), to see
  * where the fixed stream floor actually goes. Not part of the driver
  * contract. Usage: runMain graft.tools.StreamProfile <sfDir> <op>
  * To measure the RocksDB state store's per-batch overhead against the
  * default, run with SPARK_GRAFT_CONF set to
  * spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val op = if (args.length > 1) args(1) else "interval_join"
    val spark = graft.GraftSession.local()
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        events.add(s"started ${System.nanoTime()}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(s"batch ${e.progress.batchId} rows=${e.progress.numInputRows} " +
          s"durationMs=${e.progress.durationMs}")
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        events.add(s"terminated ${System.nanoTime()}")
    })
    for (rep <- 1 to 3) {
      val t0 = System.nanoTime()
      val df = op match {
        case "interval_join" => graft.streaming.StreamOps.intervalJoin(spark, sfDir)
        case "interval_join_outer" => graft.streaming.StreamOps.intervalJoinOuter(spark, sfDir)
        case "sessionize" => graft.streaming.StreamOps.sessionize(spark, sfDir)
        case "watermark" => graft.streaming.StreamOps.watermarkTumblingWindow(spark, sfDir)
        case "dedup" => graft.streaming.StreamOps.streamingDedup(spark, sfDir)
        case "neardup" => graft.streaming.StreamOps.streamingNearDup(
          spark, sfDir, Seq("src0", "src1", "src2", "src3"))
        case other => sys.error(s"unknown op $other")
      }
      val n = graft.operators.CacheScope.withScope { df.count() }
      println(f"rep $rep total ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
      Thread.sleep(300) // let listener events drain
      var ev = events.poll()
      while (ev != null) { println("  " + ev); ev = events.poll() }
    }
    spark.stop()
  }
}
