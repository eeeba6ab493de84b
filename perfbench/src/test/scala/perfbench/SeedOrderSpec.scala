package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CacheScope, Memo}

/** Two seeds run the same queries in different orders, so the memo and
  * the stores are built by different queries; every digest must agree. */
class SeedOrderSpec extends AnyFunSuite {

  private lazy val spark = graft.GraftSession.local(2)

  test("digests match under two different seeds (query orders)") {
    val dir = Files.createTempDirectory("perfbench-data").toString
    val gen = sys.process.Process(Seq("python3", "gen_data.py", dir, "--sf", "0.01")).!
    assert(gen == 0, "gen_data.py failed")
    val registry = Workloads.registry
    try Workloads.all.foreach { w =>
      def pass(seed: Long): Map[String, Digest] = {
        Memo.clear()
        Workloads.passOrder(w, seed, 0).map { n =>
          n -> CacheScope.withScope(Digest.compute(registry(n).build(spark, dir))._1)
        }.toMap
      }
      val a = pass(1)
      val b = pass(2)
      assert(Workloads.passOrder(w, 1, 0) != Workloads.passOrder(w, 2, 0))
      w.sample.foreach(n => assert(a(n) == b(n), s"${w.name}: $n"))
    } finally sys.process.Process(Seq("rm", "-rf", dir)).!
  }
}
