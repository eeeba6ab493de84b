package graft

import graft.operators.Memo

/** Child-JVM half of MemoAuditSpec's per-application root case: builds
  * one default-posture corpus entry, stops its context and prints
  * whether the entry's root survived the stop. */
object MemoAppRootProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(1)
    import spark.implicits._
    Memo.cachedCorpus("tok:/spec/app-root@0")(Seq((1L, "a")).toDF("doc_id", "text")).collect()
    val root = new java.io.File(Memo.report.head.storage.stripPrefix("written:")).getParentFile
    def state = if (root.exists) "present" else "absent"
    println(s"root $root")
    println(s"before stop: $state")
    spark.stop()
    println(s"after stop: $state")
  }
}
