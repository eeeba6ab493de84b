package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Q

class WorkloadsSpec extends AnyFunSuite {

  private val names = Q.registry.map(_.name)

  test("the three families partition the registry exactly") {
    assert(names.distinct.size == names.size)
    val byFamily = names.groupBy(Workloads.family)
    assert(byFamily.keySet == Workloads.families.toSet)
    assert(byFamily.values.map(_.size).sum == names.size)
    assert(byFamily(Workloads.Neuro).size == 80)
    assert(byFamily(Workloads.Curation).size == 68)
    assert(byFamily(Workloads.Ingest).size == 47)
    val ingestPrefixes = Seq("stream_", "s3_", "s4_", "s5_", "s6_", "graph_", "sketch_",
      "mm_", "inc_", "diag_", "layout_", "pack_", "mix_", "samp_", "so", "sess_", "funnel_")
    byFamily(Workloads.Ingest).foreach(n =>
      assert(ingestPrefixes.exists(n.startsWith), s"$n is not an ingest-family name"))
  }

  test("each workload samples only its own families, and samples are disjoint") {
    Workloads.all.foreach { w =>
      assert(w.sample.distinct == w.sample, w.name)
      w.sample.foreach { n =>
        assert(names.contains(n), s"${w.name}: $n is not a registry query")
        assert(w.families.contains(Workloads.family(n)), s"${w.name}: $n")
      }
    }
    val all = Workloads.all.flatMap(_.sample)
    assert(all.distinct.size == all.size)
  }

  test("family:<f> is every registry query of family f, in registry order") {
    Workloads.families.foreach { f =>
      val w = Workloads.byName(s"family:$f")
      assert(w.families == Seq(f))
      assert(w.sample == names.filter(Workloads.family(_) == f))
    }
    intercept[IllegalArgumentException](Workloads.byName("family:other"))
  }

  test("every sampled query has an expected digest") {
    val expected = Main.readExpected(Some("expected.json"))
    Workloads.all.flatMap(_.sample).foreach(n => assert(expected.contains(n), n))
  }

  test("the seed sets a permutation of the sample, different per seed and pass") {
    val w = Workloads.all.head
    val a = Workloads.passOrder(w, 1, 0)
    assert(a.sorted == w.sample.sorted)
    assert(Workloads.passOrder(w, 1, 0) == a)
    assert(Workloads.passOrder(w, 2, 0) != a)
    assert(Workloads.passOrder(w, 1, 1) != a)
  }
}
