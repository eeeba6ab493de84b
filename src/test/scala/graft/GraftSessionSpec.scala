package graft

import org.scalatest.funsuite.AnyFunSuite

/** The core-count rule every main's session is built with. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS wins; otherwise the host's processor count") {
    assert(GraftSession.coreCount(Map("SPARK_GRAFT_CPUS" -> "6"), available = 4) == 6)
    assert(GraftSession.coreCount(Map("SPARK_GRAFT_CPUS" -> "1"), available = 32) == 1)
    assert(GraftSession.coreCount(Map.empty, available = 4) == 4)
    assert(GraftSession.coreCount(Map("OTHER" -> "8"), available = 3) == 3)
  }

  test("a SPARK_GRAFT_CPUS that is not a positive integer is refused by name") {
    Seq("0", "-2", "four", "", " 4", "2.5", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.coreCount(Map("SPARK_GRAFT_CPUS" -> v), available = 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
      assert(e.getMessage.contains(s"'$v'"), v)
    }
  }

  test("a wrong-arity call to any native function raises WRONG_NUM_ARGS") {
    val spark = GraftSession.local(4)
    assert(GraftSession.functionNames.size == 11)
    for (name <- GraftSession.functionNames; args <- Seq("", "1, 2, 3, 4, 5")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $name($args)").queryExecution.analyzed)
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$name($args)")
      assert(e.getMessage.contains(s"`$name`"), s"$name($args)")
    }
  }
}
