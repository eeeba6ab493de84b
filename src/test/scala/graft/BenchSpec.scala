package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Q

/** The bench record's output routing, its head fields and its `errors`
  * object. */
class BenchSpec extends AnyFunSuite {

  test("a filtered run writes a side file unless told where to write") {
    assert(Bench.outputPath(filtered = false, Map.empty, "/r") == "/r/BENCH_PARSED.json")
    assert(Bench.outputPath(filtered = true, Map.empty, "/r") == "/r/BENCH_FILTERED.json")
    val out = Map("SPARK_GRAFT_BENCH_OUT" -> "/tmp/x.json")
    assert(Bench.outputPath(filtered = true, out, "/r") == "/tmp/x.json")
    assert(Bench.outputPath(filtered = false, out, "/r") == "/tmp/x.json")
  }

  test("the repo root comes from the property, the variable or a checkout working directory") {
    val checkout = java.nio.file.Files.createTempDirectory("graft-root").toFile
    val elsewhere = java.nio.file.Files.createTempDirectory("graft-noroot").toFile
    new java.io.File(checkout, "build.sbt").createNewFile()
    val env = Map("GRAFT_REPO_ROOT" -> "/e")
    assert(Q.repoRoot(Map("graft.repo.root" -> "/p"), env, elsewhere.getPath) == "/p")
    assert(Q.repoRoot(Map.empty, env, elsewhere.getPath) == "/e")
    assert(Q.repoRoot(Map.empty, Map.empty, checkout.getPath) == checkout.getPath)
    val e = intercept[IllegalArgumentException](Q.repoRoot(Map.empty, Map.empty, elsewhere.getPath))
    assert(e.getMessage.contains("GRAFT_REPO_ROOT") && e.getMessage.contains(elsewhere.getPath))
    // an explicit output path needs no repo root
    assert(Bench.outputPath(filtered = false, Map("SPARK_GRAFT_BENCH_OUT" -> "/tmp/x.json"),
      sys.error("root resolved")) == "/tmp/x.json")
  }

  test("a query's cached frames are sampled inside its scope and recorded per query") {
    val spark = GraftSession.local(4)
    val (bytes0, frames0) = Bench.cacheSample(spark)
    val inScope = graft.operators.CacheScope.withScope {
      graft.operators.CacheScope.persist(
        spark.range(1000).selectExpr("id * 7919 AS bench_spec_x")).count()
      Bench.cacheSample(spark)
    }
    // the scope's persist is visible to a sample taken before the scope
    // closes, and released after
    assert(inScope._2 == frames0 + 1 && inScope._1 > bytes0, s"in scope: $inScope")
    assert(Bench.cacheSample(spark)._2 == frames0)
    assert(Bench.cacheJson(Seq("q\"1" -> (42L, 2), "q2" -> (0L, 0))) ==
      """{"q\"1":{"bytes":42,"frames":2},"q2":{"bytes":0,"frames":0}}""")
  }

  test("the forcing action computes every output column") {
    val spark = GraftSession.local(4)
    val df = spark.range(3).selectExpr("id", "raise_error('bench column computed') AS boom")
    // count() prunes the unreferenced column, so it never runs
    assert(df.count() == 3)
    val e = intercept[Exception](Bench.force(df))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("bench column computed")), e)
  }

  test("the record and the summary line carry the session's core count") {
    assert(Bench.headJson(12.3456, 1, 4) ==
      """"metric":"total","value":12.346,"unit":"sec","failed":1,"cpus":4""")
  }

  test("errors carry each failed query's exception class and escaped message") {
    val js = Bench.errorsJson(Seq(
      "q1" -> new IllegalStateException("bad \"quote\"\nline"),
      "q2" -> new RuntimeException(null: String)))
    assert(js == """{"q1":{"class":"java.lang.IllegalStateException",""" +
      """"message":"bad \"quote\"\nline"},""" +
      """"q2":{"class":"java.lang.RuntimeException","message":"null"}}""")
    assert(Bench.errorsJson(Nil) == "{}")
  }
}
