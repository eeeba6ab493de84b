package perfbench

import graft.queries.Q

/** A benchmark workload: a fixed sample of registry queries drawn from
  * one or more query families.
  *
  * Every registry query belongs to exactly one family (see
  * [[Workloads.family]]); that rule is the partition of `Q.registry`.
  * A workload runs its sample on every pass: a whole family takes
  * 70-140 s per cold pass at sf0.1 on four cores, far more than one
  * benchmark run can spend.
  */
final case class Workload(name: String, families: Seq[String], sample: Seq[String])

object Workloads {
  val Neuro = "neuro"
  val Curation = "curation"
  val Ingest = "ingest"
  val families: Seq[String] = Seq(Neuro, Curation, Ingest)

  private val neuroNamed = Set(
    "f_composite_validity", "pipeline_region_cca", "pipeline_glm_sensitivity")
  private val curationNamed = Set(
    "pipeline_curation_funnel", "pipeline_reject_ledger")
  private val curationPrefix =
    Seq("dedup_", "sim_", "text_", "curate_", "ret_", "quality_")

  /** The family a registry query belongs to: the reference pipeline's
    * analytic queries (`a c f j l p t w` + digit), the LLM-data
    * curation family, and everything else (streams, sinks, graphs,
    * sketches, media, incremental and layout operators). */
  def family(name: String): String =
    if (neuroNamed(name) || name.matches("[acfjlptw][0-9].*")) Neuro
    else if (curationNamed(name) || curationPrefix.exists(name.startsWith)) Curation
    else Ingest

  /** Queries of the neuro family that run the dense linear-algebra
    * kernels (their task time is reported as `kernels.task_s`). */
  def isKernel(name: String): Boolean =
    name.matches("l[0-9].*") ||
      name == "pipeline_region_cca" || name == "pipeline_glm_sensitivity"

  /** Why each workload exists is recorded in BENCHMARK.json. Each
    * family's part of a sample is the one perfbench/select_sample.py
    * picks from a traced profile of the whole family: its per-layer
    * shares of warm time come closest to the family's, and it holds the
    * kernel, store, stream and sink queries the reported layers need.
    * The curation and ingest families share one workload so that a run
    * fits the benchmark's time budget. */
  val all: Seq[Workload] = Seq(
    Workload("neuro_sf0.1", Seq(Neuro), Seq(
      "a7_signed_peak", "f7_min_groups_gate", "l15_rastermap_order",
      "t1_pearson_corr", "t3_wilcoxon_one_sample")),
    Workload("curation_ingest_sf0.1", Seq(Curation, Ingest), Seq(
      "dedup_minhash_lsh", "dedup_sig_store_serve",
      "inc_merge_rollup", "s4_sink_memo_roundtrip", "stream_dedup_watermark")))

  /** A workload of [[all]], or `family:<f>`: every registry query of
    * family `f`, the profile its workload's sample is chosen to match. */
  def byName(name: String): Workload = name match {
    case s"family:$f" if families.contains(f) =>
      Workload(name, Seq(f), Q.registry.map(_.name).filter(family(_) == f))
    case _ => all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}, " +
        families.map("family:" + _).mkString(", ")))
  }

  /** Registry queries by name, in registry order. */
  def registry: Map[String, Q] = Q.registry.map(q => q.name -> q).toMap

  /** The sample's queries in the pass order set by `seed` and `pass`. */
  def passOrder(w: Workload, seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(w.sample)

  /** Stable hash of a query list, recorded with every run. */
  def listHash(names: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(names.mkString("\n").getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
