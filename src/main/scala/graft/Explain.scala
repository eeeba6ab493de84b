package graft

/** Dev tool: print the formatted physical plan of one or more declared
  * queries (comma-separated names in args(0)) against args(1) sf dir.
  * Used to audit broadcast choices, pushed filters and codegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    // optional args(2): explain mode (formatted | codegen | extended…)
    val mode = if (args.length > 2) args(2) else "formatted"
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain(mode)
    }
    spark.stop()
  }
}
