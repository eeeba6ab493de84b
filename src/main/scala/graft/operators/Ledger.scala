package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rejected-rows ledger: the per-stage exclusion accounting a curation
  * pipeline owes its operators — which gate dropped how many rows, why,
  * and a few concrete examples to go look at. The engine analog of the
  * reference's per-session failure logger and exclusion reports
  * (Matlab_part/initialize_session_logger.m:239-458): where the
  * reference appends failure records imperatively as each session
  * trips a gate, the relational form attributes every row to the FIRST
  * stage that rejects it in one narrow pass — no side-effecting log,
  * same report.
  *
  * Scale posture: attribution is a row-local chained CASE (no shuffle),
  * the roll-up is one hash aggregate keyed by stage (≤ nStages+1
  * groups), and the example ids are collected through the bounded-state
  * top-k aggregator (O(sampleK) state per stage) — never a
  * collect_list of every rejected id, which at 100 TB would pull a
  * corpus-sized array into one aggregation buffer.
  */
object Ledger {

  /** One curation gate: display name, machine reason tag, and the KEEP
    * predicate (false or NULL ⇒ the row is rejected here — a predicate
    * that cannot be evaluated fails the gate, the conservative
    * convention for data-quality filters). */
  final case class Stage(name: String, reason: String, keep: Column)

  /** Per-stage rejection ledger over `df`: every row is attributed to
    * the first stage whose `keep` predicate it fails (survivors to the
    * terminal `kept` stage), and each stage reports its row count plus
    * the `sampleK` smallest `idCol` values as inspectable examples
    * (comma-joined, ascending — a stable, engine-portable rendering).
    * Stages with zero rows still appear (n_rows = 0, empty sample), so
    * the report's shape is fixed by the pipeline, not the data.
    *
    * `idCol` must be integral (the bounded-state sampler ranks ids
    * numerically; NULL ids count but are never sampled). Output:
    * (stage_idx, stage, reason, n_rows, sample_ids), one row per stage
    * + the `kept` row, ordered by stage_idx. */
  def rejectLedger(df: DataFrame, idCol: String, stages: Seq[Stage],
      sampleK: Int = 3): DataFrame = {
    require(stages.nonEmpty, "rejectLedger needs at least one stage")
    require(sampleK >= 1, s"rejectLedger needs sampleK >= 1, got $sampleK")
    val spark = df.sparkSession
    import spark.implicits._
    // first-fail attribution: one row-local CASE, NULL keep ⇒ reject
    val idx = stages.zipWithIndex.foldRight(lit(stages.length.toLong)) {
      case ((st, i), rest) => when(!coalesce(st.keep, lit(false)), i.toLong).otherwise(rest)
    }
    // min-k ids per stage with O(k) state, ranked on the long id itself
    val got = df
      .select(idx.as("stage_idx"), col(idCol).cast("long").as("id"))
      .groupBy("stage_idx")
      .agg(count(lit(1)).as("n_rows"),
        call_function("graft_top_k", col("id"), lit(sampleK)).as("sample"))
    // fixed report shape: every declared stage appears, rejected or not
    val dim = (stages.map(s => (s.name, s.reason)) :+ ("kept" -> "kept"))
      .zipWithIndex
      .map { case ((n, r), i) => (i.toLong, n, r) }
      .toDF("stage_idx", "stage", "reason")
    broadcast(dim).join(got, Seq("stage_idx"), "left")
      .select(col("stage_idx"), col("stage"), col("reason"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        concat_ws(",", coalesce(col("sample"), array()).cast("array<string>"))
          .as("sample_ids"))
      .orderBy("stage_idx")
  }
}
