package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Q

/** Mechanized plan audit (SCALE.md §Plan audit): nested-loop/cartesian
  * joins may appear ONLY in the known, dimension-bounded plans — literal
  * threshold fan-outs, seeded-centroid crosses, 1-row scalar bounds,
  * label-count theta pairs, the brute-force ANN baseline. A new operator
  * that accidentally plans a nested loop over data-sized inputs fails
  * here instead of surfacing in a 100 TB run.
  *
  * Streaming queries are excluded: building them executes the stream;
  * their (batch) post-sink plans are audited by the oracle gate instead.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  /** The shape of every MinHash band-candidate plan: the bounded member
    * aggregate guards the (band, bkey) buckets in one keyed pass; there
    * is no Window (a count window sorts the whole band stream), no
    * `collect_list`/`collect_set` (its state grows with a flooded
    * bucket), and no cached relation holds band rows (the band stream
    * has one reader, so nothing corpus-sized is pinned). */
  private def assertBandPass(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    val plan = df.queryExecution.executedPlan
    val str = plan.toString
    assert(str.contains("graft_bucket_members"),
      s"$name lost its bounded member aggregate bucket guard:\n$str")
    assert(!str.contains("Window"), s"$name regressed to a window-based bucket guard:\n$str")
    assert(!str.contains("collect_list") && !str.contains("collect_set"),
      s"$name regressed to an unbounded collect:\n$str")
    object walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      def relations(p: SparkPlan): Seq[InMemoryRelation] =
        collect(p) { case t: InMemoryTableScanExec => t.relation }
          .flatMap(r => r +: relations(r.cachedPlan))
    }
    val bandFrames = walk.relations(plan).filter(r =>
      Set("band", "bkey").subsetOf(r.output.map(_.name).toSet))
    assert(bandFrames.isEmpty, s"$name pins a band frame in executor storage:\n$str")
  }

  /** Every node of a physical plan, descending into AQE wrappers and
    * cached frames (memo entries hide their producer's plan). */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.inputPlan)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      planNodes(m.relation.cachedPlan)
    case _ => p.children.flatMap(planNodes)
  })

  test("nested-loop joins appear only in the intentional dimension-bounded plans") {
    val intentional = Set(
      "dedup_simhash",            // 1-row observed-bucket-width broadcast cross
      "a11_threshold_sweep",      // threshold-literal fan-out
      "l14_stability_sweep",      // sizes×iters literal fan-out
      "sim_ann_ivf",              // 16-row seeded centroid cross
      "dedup_embedding_cosine",   // 8-row seeded centroid cross
      "f3_boundary_filter",       // 1-row scalar-aggregate bound
      "f_composite_validity",     // 1-row scalar-aggregate bound
      "l5_matmul_projection",     // 1-row scalar-aggregate bound
      "j6_self_theta_pairs",      // ≤ dimension-count pair generation
      "w4_custom_order_sort",     // 5-row ordering-table cross
      "l10_principal_angles",     // ≤ label-count subspace pairs
      "sim_cosine_topk",          // brute-force baseline, 8 broadcast queries
      "sim_hard_negatives",       // same 8-query broadcast scoring pass
      "text_bm25_rank",           // 1-row corpus-stats broadcast cross
      "ret_hybrid_rrf",           // both legs' bounded crosses (bm25 stats + 1 query vec)
      // (sim_kmeans_cells: its per-iteration 1-row centroid-array
      // crosses run INSIDE the written corpus-tier assignment build, so
      // the registered plan scans that table with no nested loop)
      "sim_kmeans_silhouette",    // same chain + the 1-row top-2 scoring cross
      "sketch_kmv_overlap",       // three 1-row sketch crosses
      "text_unigram_logprob",     // 1-row corpus-total broadcast cross
      // (text_tfidf_keywords: the 1-row doc-count cross moved INSIDE
      // the memoized IDF build — no nested loop in the registered plan)
      "curate_dsir_weights",      // 1-row two-LM-totals broadcast cross
      "layout_shuffle_shards",    // 1-row corpus-token-total broadcast cross
      "t13_mutual_information",   // 1-row entropy/MI report crosses (category-bounded)
      "inc_snapshot_diff",        // 1-row timeline-cut scalar bound
      "sim_ann_recall",           // composes sim_cosine_topk + sim_ann_ivf bounds
      "sim_ann_recall_curve",     // same composition, top-10 + the bounded k explode
      "sketch_bloom_prune",       // two 1-row report-dimension crosses
      "diag_join_size_cms",       // 1-row est × 1-row exact report crosses
      // (graph_pagerank_copurchase / dedup_keep_rank: their per-iteration
      // 1-row node-count/dangling-mass crosses live INSIDE pageRank's
      // memoized checkpoint build now, so the registered plans carry no
      // nested loop; the directed variant keeps a query-level cross)
      "graph_pagerank_directed",  // 1-row n_dangling report cross
      "t11_chi2_independence",    // category-bounded r×c grid + 1-row scalars
      "sim_pq_adc_topk",          // candidates × broadcast per-query ADC LUTs (bounded query set)
      "sim_ivfpq_topk",           // 1-row centroid-array broadcast cross (the IVF stage)
      "sim_ivfpq_recall",         // composes sim_cosine_topk + sim_ivfpq_topk bounds
      // (sim_index_persist_search: buildExecutes — the one-off index
      // write runs inside build, so the audit skips it like stream_)
      // (text_perplexity_bigram / curate_perplexity_prune: the 1-row
      // vocab cross moved INSIDE the memoized bigram-LM build, so the
      // registered plans carry no nested loop)
      "curate_quality_classifier", // 1-row β/moments crosses per IRLS step
      "curate_classifier_calibration", // same IRLS crosses + the 1-row ECE total
      "diag_embedding_drift",     // 1-row global-centroid broadcast cross
      "t16_psi_event_type")       // 1-row decile-cuts + ref-total broadcast crosses
    val offenders = Q.registry
      .filterNot(q => q.name.startsWith("stream_") || q.buildExecutes)
      .flatMap { q =>
        val plan = q.build(spark, s"${Q.testdataRoot}/sf0.001")
          .queryExecution.executedPlan.toString
        if (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
          Some(q.name)
        else None
      }.toSet
    assert(offenders == intentional,
      s"unexpected nested-loop plans: ${offenders -- intentional}; " +
        s"no longer nested-loop (update the list): ${intentional -- offenders}")
  }

  test("unpartitioned windows appear only over dimension-bounded frames") {
    // A WindowExec with an empty partition spec funnels its ENTIRE
    // input through one task — a scale-killer when the frame is
    // corpus-sized (the r9 psiDrift/oovRate class). Allowed only where
    // the windowed frame is bounded by a constant or a dimension, never
    // by the corpus: these are each annotated at the definition site.
    val intentional = Set(
      "text_bm25_rank",          // rank over the ≤topK-row result frame (TextOps.scala:122)
      "ret_hybrid_rrf",          // re-rank over the ≤ΣtopK fused frame (TextOps.rrfFuse)
                                 //   + the bm25 leg's post-LIMIT rank
      "pack_sequences",          // bucket-offset frame: ≤numBuckets rows (Packing.scala:70)
      "curate_token_budget",     // Packing band-offset frame: ≤(score range/bandWidth)
      "curate_token_budget_bpe", //   bands, 10 here (Packing.scala:123)
      "mix_temperature_rates",   // domain-count totals frame (Sampling.scala:124)
      "mix_epoch_schedule",      // same domain-count totals frame (epochSchedule)
      "p5_upper_triangle_hier",  // region-dimension totals frame (QGaps2.scala:336)
      "t15_bh_fdr",              // BH rank over the per-day hypothesis frame — one row
                                 //   per DAY (time dimension), and BH is definitionally
                                 //   a total rank over the m hypotheses (QStats.scala:811)
      "t2_wilcoxon_signed_rank", // documented single-group demonstrator (QStats.scala:192);
                                 //   the typed Aggregator legs are the scale path
      "graph_pagerank_copurchase", // rank over the 10-row post-LIMIT frame (QScale.scala)
      "graph_pagerank_directed",   // same 10-row post-LIMIT rank
      "curate_pareto_skyline",   // running max over the distinct-LENGTH frame — bounded
                                 //   by the token-length value range, not the corpus
                                 //   (QCuration.skyline)
      "sim_pq_adc_topk",         // LUT-position offsets over the m-row subspace frame
                                 //   (Similarity.pqLutPositions — codebook-bounded)
      "sim_ivfpq_topk",          // same codebook-bounded LUT-position offsets
      "sim_ivfpq_recall")        // same, via its IVF-ADC side
                                 // (sim_index_persist_search: skipped,
                                 //   buildExecutes — see nested-loop list)
    val offenders = Q.registry
      .filterNot(q => q.name.startsWith("stream_") || q.buildExecutes)
      .flatMap { q =>
        val plan = q.build(spark, s"${Q.testdataRoot}/sf0.001")
          .queryExecution.sparkPlan
        val bad = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        if (bad.nonEmpty) Some(q.name) else None
      }.toSet
    assert(offenders == intentional,
      s"unexpected unpartitioned windows (corpus-scaled single-task sort?): " +
        s"${offenders -- intentional}; " +
        s"no longer windowed (update the list): ${intentional -- offenders}")
  }

  test("explicit broadcast() hints build only from cardinality-bounded frames") {
    // The r10 regression class: an explicit broadcast() hint whose build
    // side is corpus-scaled (one row per document/vector/event) is green
    // at bench scale and a driver OOM at 100 TB — and unlike the
    // nested-loop and window classes, Catalyst executes it without
    // complaint. This audit walks every broadcast-HINTED join side in
    // the optimized logical plan and requires the hinted frame to be
    // provably bounded: a LIMIT / top-k, a global (empty-grouping)
    // aggregate, or leaves that are dimension tables (region, nation) /
    // literal frames. Conservatively UNBOUNDED: corpus parquet scans,
    // cached/memoized frames (InMemoryRelation — the cache hides its
    // producer), and GROUPED aggregates over corpus inputs (the key
    // space may be corpus-scaled). Queries whose hinted frames are
    // genuinely bounded but invisible to the walk are allowlisted with
    // the bounding argument; anything else failing here is the
    // stream_neardup_ingest / sim_pq_error class and must lose its hint.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dimTables = Set("region", "nation")
    def boundedLeafScan(lr: LogicalRelation): Boolean = lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.forall { p =>
        dimTables.exists(t => p.getName.startsWith(t + "."))
      }
      case _ => false
    }
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case j: Join => j.joinType match {
        case LeftSemi | LeftAnti => bounded(j.left)
        case _ => bounded(j.left) && bounded(j.right)
      }
      case lr: LogicalRelation => boundedLeafScan(lr)
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => false
      // LogicalRDD is a checkpoint/RDD leaf that HIDES its producer —
      // the corpus-scaled edgeLeaf frames land here, so like
      // InMemoryRelation it must count as unbounded; only the
      // provably-literal leaves below pass.
      case _: org.apache.spark.sql.execution.LogicalRDD => false
      case _: LocalRelation | _: Range | _: OneRowRelation => true
      case _: LeafNode => false // unknown leaf: conservative
      case o => o.children.nonEmpty && o.children.forall(bounded)
    }
    val intentional = Set(
      // 8-row query slices: an isin-filter over the embeddings scan —
      // bounded by the literal query-id list, invisible to the walk.
      "sim_cosine_topk", "sim_hard_negatives", "sim_ann_lsh_bucket",
      "sim_ann_recall", "sim_ann_recall_curve",
      // k-row centroid / m·kCodes codebook / LUT frames: grouped
      // aggregates keyed by the codebook dimension (memoized, so the
      // walk sees an InMemoryRelation or the grouped chain either way).
      "sim_ann_ivf", "sim_pq_error", "sim_pq_adc_topk",
      "sim_ivfpq_topk", "sim_ivfpq_recall",
      // (sim_index_persist_search: skipped, buildExecutes — the one-off
      // index write runs inside build)
      // 1-row IRLS β memo frame (the memo leaf hides the global
      // aggregate underneath).
      "curate_quality_classifier", "curate_classifier_calibration",
      // distributed-rank machinery (r17 refine shape): the groups-sized
      // min/max/count scalar frame and the groups × requests located-bin
      // frame — both grouped aggregates keyed by the group dimension.
      "t16_psi_event_type", "t17_winsorize",
      "f10_percentile_threshold", // same refine shape: 3-row coarse-bin
                                  //   selection frame (one per returnflag)
      // grouped aggregates keyed by a bounded dimension the walk cannot
      // prove bounded:
      "text_length_outliers",   // per-group median/MAD histogram frames
      "text_decontaminate",     // eval-set shingles (eval slice of docs)
      "p5_upper_triangle_hier", // 5-row region rank over the persisted
                                //   25-cell table (InMemoryRelation)
      "pack_sequences",         // per-bucket offset frame (numBuckets)
      "curate_token_budget",    // per-band offset frame (score bands)
      "curate_token_budget_bpe", // same band-offset frame
      "curate_perplexity_prune", // per-domain perplexity cut frame
      "curate_pareto_skyline",  // per-token-length skyline frame
      "ret_daily_cohorts",      // per-cohort-day size frame
      "ret_hybrid_rrf",         // 1-row bm25 stats + 1 query vector
      "sketch_cms_tokens",      // depth×width CMS cell frame
      "sketch_bloom_prune",     // m-bit bloom bit-set rows
      "t13_mutual_information", // category-dim margin frames
      "c4_unit_heuristic",      // per-event-type max frame (category dim)
      "j3_cross_condition_projection", // 20-row (user_id % 20) weights
      "l4_minmax_norm",         // per-dimension min/max frame
      "l10_principal_angles",   // label-dim subspace weight frame
      "l14_stability_sweep",    // nation-dim moment frame
      "sim_scalar_quant")       // 64-row per-dimension scale table
    val offenders = Q.registry
      .filterNot(q => q.name.startsWith("stream_") || q.buildExecutes)
      .flatMap { q =>
        val plan = q.build(spark, s"${Q.testdataRoot}/sf0.001")
          .queryExecution.optimizedPlan
        val badSides = plan.collect { case j: Join =>
          val sides = Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right)
          sides.collect {
            case (Some(h), side) if h.strategy.contains(BROADCAST) && !bounded(side) => side
          }
        }.flatten
        if (badSides.nonEmpty) Some(q.name) else None
      }.toSet
    assert(offenders == intentional,
      s"broadcast hints on unbounded (corpus-scaled?) frames: " +
        s"${offenders -- intentional}; " +
        s"no longer hint-flagged (update the list): ${intentional -- offenders}")
  }

  test("shingle sets stay array<bigint> and never meet array_intersect in any plan") {
    // Shingle sets — in a plan that builds or verifies them, the array
    // columns s and shs and the verify sides s_a, s_b, s_old — are
    // array<bigint> digest halves (Dedup.shingleEncoding), and their
    // overlap goes through the merge kernel (Dedup.shingleOverlap).
    // array_intersect over one counts halves, not digests, whatever the
    // element type; a set in another type is a layout the kernel and
    // the signature store refuse. (Kernel queries carry an unrelated
    // array<double> `s`; their plans build no shingle sets.)
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}
    import graft.functions.{MinhashSig, SortedIntersectSize}
    val setNames = Set("s", "shs", "s_a", "s_b", "s_old")
    // the shingle-set arrays a column carries, itself or as a struct field
    def sets(name: String, t: DataType): Seq[(String, ArrayType)] = t match {
      case a: ArrayType if setNames(name) => Seq(name -> a)
      case st: StructType => st.fields.toSeq.flatMap(f => sets(f.name, f.dataType))
      case _ => Nil
    }
    def handlesSets(ns: Seq[SparkPlan]): Boolean = ns.exists(p =>
      p.expressions.exists(_.exists {
        case _: MinhashSig | _: SortedIntersectSize => true
        case _ => false
      }) || p.output.exists(_.metadata.contains("graft_shingle_encoding")))
    def violations(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val ns = planNodes(df.queryExecution.executedPlan)
      if (!handlesSets(ns)) Nil else ns.flatMap { p =>
        p.output.flatMap(a => sets(a.name, a.dataType)).collect {
          case (n, t) if t.elementType != LongType => s"$n: ${t.sql}"
        } ++ p.expressions.flatMap(_.collect {
          case ai: ArrayIntersect
              if ai.references.exists(a => sets(a.name, a.dataType).nonEmpty) =>
            s"array_intersect over ${ai.references.map(_.name).mkString(", ")}"
        })
      }.distinct
    }
    // the detector sees each construct it guards against (over a range,
    // not literal rows, which the optimizer would evaluate away)
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, array_intersect, expr, hex, struct, unhex}
    // a frame whose plan builds shingle sets (the marker column) next to `set`
    def withSets(set: org.apache.spark.sql.Column) = spark.range(2)
      .select(set, expr("graft_minhash_sig(cast(id AS string), 1, 1)").as("ms"))
    assert(violations(withSets(array($"id", $"id").as("s"))
      .select(array_intersect($"s", $"s"), $"ms")).exists(_.startsWith("array_intersect")))
    assert(violations(withSets(array(unhex(hex($"id"))).as("s"))) == Seq("s: ARRAY<BINARY>"))
    assert(violations(withSets(struct(array(hex($"id")).as("shs")).as("t"))) ==
      Seq("shs: ARRAY<STRING>"))
    assert(violations(withSets(array($"id", $"id").as("s"))).isEmpty)
    // outside a shingle-set plan an array named s is not a set
    assert(violations(spark.range(2).select(array($"id".cast("double")).as("s"))).isEmpty)
    val offenders = Q.registry
      .filterNot(q => q.name.startsWith("stream_") || q.buildExecutes)
      .map(q => q.name -> violations(q.build(spark, s"${Q.testdataRoot}/sf0.001")))
      .filter(_._2.nonEmpty)
    assert(offenders.isEmpty, s"shingle sets intersected or mistyped: $offenders")
    // the plans the registry walk skips: the ingest-time near-dup plan
    // (over a batch frame — its streaming build executes) and the
    // signature-store serve (its registry queries write a store in build)
    import graft.operators.Dedup
    import graft.streaming.StreamOps
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    assert(violations(StreamOps.nearDupPlan(docs, StreamOps.nearDupIndex(docs))).isEmpty)
    val sigDir = java.nio.file.Files.createTempDirectory("graft-audit-sets").toString
    Dedup.writeMinhashSigStore(docs, "doc_id", "text", sigDir, nHash = 8)
    assert(violations(Dedup.searchMinhashSigStore(sigDir,
      docs.withColumn("doc_id", $"doc_id" + 10), "doc_id", "text")).isEmpty)
  }

  test("exact sums run on graft_decimal_sum, never Spark's sum over a cast to DECIMAL") {
    // Spark's sum(cast(x AS DECIMAL(p, s))) over a double or integral x
    // pays a BigDecimal add per row; the native kernel computes the same
    // value on a 128-bit buffer (Deterministic.decimalSum, DecimalSumSpec).
    // A window's (or a pre-projected) sum reads its cast through an
    // attribute, so a sum's input is followed through the plan's aliases.
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, ExprId, Expression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.types._
    def castSums(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val ns = planNodes(df.queryExecution.executedPlan)
      val defs: Map[ExprId, Expression] =
        ns.flatMap(_.expressions.flatMap(_.collect { case a: Alias => a.exprId -> a.child })).toMap
      def input(e: Expression): Expression = e match {
        case a: Attribute if defs.contains(a.exprId) => input(defs(a.exprId))
        case _ => e
      }
      ns.flatMap(_.expressions.flatMap(_.collect {
        case s: Sum if (input(s.child) match {
          case c: Cast => c.dataType.isInstanceOf[DecimalType] && (c.child.dataType match {
            case DoubleType | FloatType | ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          })
          case _ => false
        }) => s"${s.sql} over ${input(s.child).sql}"
      })).distinct
    }
    // the detector sees the construct, windowed and under a cached frame,
    // and passes the kernel
    import org.apache.spark.sql.functions.{col, sum}
    val raw = sum((col("id") * 0.5).cast("double").cast(DecimalType(28, 6)))
    assert(castSums(spark.range(4).agg(raw)).nonEmpty)
    assert(castSums(spark.range(4).select(raw.over())).nonEmpty)
    val cached = spark.range(4).groupBy(col("id") % 2).agg(raw.as("v")).cache()
    assert(castSums(cached.select("v")).nonEmpty)
    cached.unpersist()
    assert(castSums(spark.range(4).agg(
      graft.functions.Deterministic.stableSum(col("id").cast("double")))).isEmpty)
    val offenders = Q.registry
      .filterNot(q => q.name.startsWith("stream_") || q.buildExecutes)
      .map(q => q.name -> castSums(q.build(spark, s"${Q.testdataRoot}/sf0.001")))
      .filter(_._2.nonEmpty)
    assert(offenders.isEmpty, s"sum over a cast to DECIMAL outside the kernel: $offenders")
  }

  test("word k-grams are keyed by digest halves: no plan md5-hashes a concat_ws") {
    // The text family keys every gram by its MD5 as two longs
    // (graft_kgrams, Dedup.shingles); md5(encode(concat_ws(' ', ..))) is
    // the retired per-gram 32-char hex key. Encode is runtime-replaced by
    // a StaticInvoke of Encode.encode; a projection split in two reads
    // the concat_ws through an alias.
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ConcatWs, Encode, ExprId, Expression, Md5}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    def hexGramKeys(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val ns = planNodes(df.queryExecution.executedPlan)
      val defs: Map[ExprId, Expression] =
        ns.flatMap(_.expressions.flatMap(_.collect { case a: Alias => a.exprId -> a.child })).toMap
      def gramText(e: Expression): Boolean = e match {
        case a: Attribute if defs.contains(a.exprId) => gramText(defs(a.exprId))
        case _: ConcatWs => true
        case enc: Encode => gramText(enc.str)
        case si: StaticInvoke if si.staticObject == classOf[Encode] => gramText(si.arguments.head)
        case _ => false
      }
      ns.flatMap(_.expressions.flatMap(_.collect {
        case m: Md5 if gramText(m.child) => m.sql
      })).distinct
    }
    // the detector sees the chain, encoded or not, cached or not, and
    // passes an md5 of a plain column
    import org.apache.spark.sql.functions.{col, concat_ws, encode, md5}
    val words = spark.range(3).select(concat_ws(" ", col("id").cast("string"),
      (col("id") + 1).cast("string")).as("g"))
    assert(hexGramKeys(words.select(md5(encode(col("g"), "UTF-8")))).nonEmpty)
    assert(hexGramKeys(words.select(md5(col("g").cast("binary")))).isEmpty)
    assert(hexGramKeys(words.select(md5(encode(concat_ws(" ", col("g"), col("g")), "UTF-8"))))
      .nonEmpty)
    val cached = words.select(md5(encode(col("g"), "UTF-8")).as("h")).cache()
    assert(hexGramKeys(cached.select("h")).nonEmpty)
    cached.unpersist()
    assert(hexGramKeys(spark.range(3).select(
      md5(encode(col("id").cast("string"), "UTF-8")))).isEmpty)
    val offenders = Q.registry
      .filterNot(q => q.name.startsWith("stream_") || q.buildExecutes)
      .map(q => q.name -> hexGramKeys(q.build(spark, s"${Q.testdataRoot}/sf0.001")))
      .filter(_._2.nonEmpty)
    assert(offenders.isEmpty, s"hex md5(concat_ws) gram keys: $offenders")
  }

  test("no typed Scala aggregator in registry plans except WilcoxonSignedRank and MomentsAgg") {
    // A typed Aggregator ships its per-group buffer through an encoder
    // (Kryo for a collection buffer) and runs interpreted; bounded
    // selection runs on graft_top_k (Spark's CollectTopK, an
    // UnsafeProjection wire form). Only the two statistics kernels keep
    // the typed form.
    import org.apache.spark.sql.execution.aggregate.ScalaAggregator
    import org.apache.spark.sql.functions.{col, udaf}
    import graft.functions.{MomentsAgg, WilcoxonSignedRank}
    def typedAggs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      planNodes(df.queryExecution.executedPlan).flatMap(_.expressions.flatMap(_.collect {
        case a: ScalaAggregator[_, _, _]
            if !(a.agg.eq(WilcoxonSignedRank) || a.agg.isInstanceOf[MomentsAgg]) =>
          a.agg.getClass.getName
      })).distinct
    // the detector sees a planted udaf, plain and under a cached frame,
    // and passes the two kernels
    val planted = udaf(PlantedSumAgg, org.apache.spark.sql.Encoders.scalaLong)
    assert(typedAggs(spark.range(4).agg(planted(col("id")))).nonEmpty)
    val cached = spark.range(4).groupBy(col("id") % 2).agg(planted(col("id")).as("s")).cache()
    assert(typedAggs(cached.select("s")).nonEmpty)
    cached.unpersist()
    val wsr = udaf(WilcoxonSignedRank, org.apache.spark.sql.Encoders.scalaDouble)
    assert(typedAggs(spark.range(4).agg(wsr(col("id").cast("double")))).isEmpty)
    val offenders = Q.registry
      .filterNot(q => q.name.startsWith("stream_") || q.buildExecutes)
      .map(q => q.name -> typedAggs(q.build(spark, s"${Q.testdataRoot}/sf0.001")))
      .filter(_._2.nonEmpty)
    assert(offenders.isEmpty, s"typed Scala aggregators outside the kernels: $offenders")
  }

  test("j1_skewed_segment joins on the deterministic salt") {
    val plan = Q.registry.find(_.name == "j1_skewed_segment").get
      .build(spark, s"${Q.testdataRoot}/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"),
      s"skewed segmentation lost its salted join:\n$plan")
  }

  test("curation operators keep their broadcast / shuffle-free shapes") {
    def plan(name: String): String = Q.registry.find(_.name == name).get
      .build(spark, s"${Q.testdataRoot}/sf0.001")
      .queryExecution.executedPlan.toString
    // decontamination: the eval shingle set must BROADCAST to the
    // corpus stream — a sort-merge join here would shuffle the corpus
    val dec = plan("text_decontaminate")
    assert(dec.contains("BroadcastHashJoin"),
      s"text_decontaminate lost its broadcast eval join:\n$dec")
    // stratified mixture: a pure row-wise filter — no join at all, and
    // the only exchanges belong to the report aggregation
    val mix = plan("w9_stratified_mixture")
    assert(!mix.contains("Join") || mix.contains("BroadcastHashJoin"),
      s"w9_stratified_mixture plans a non-broadcast join:\n$mix")
    // scalar quantization: the dim-scale table must broadcast
    val sq = plan("sim_scalar_quant")
    assert(sq.contains("BroadcastHashJoin"),
      s"sim_scalar_quant lost its broadcast scale join:\n$sq")
    // the per-document stages must stay ROW-LOCAL native expressions —
    // a silent regression to the explode+groupBy formulations would
    // reintroduce a corpus-wide shuffle before candidate generation.
    // The signature tables are corpus-tier memo entries, written by
    // their own job and scanned by the queries, so the stage is pinned
    // on the frame each table is written from (the same builder, unkeyed)
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, s"${Q.testdataRoot}/sf0.001")
    val mhSig = Dedup.minhashSigTable(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(mhSig.contains("graft_minhash_sig") && !mhSig.contains("collect_set"),
      s"minhashSigTable lost its row-local signature stage:\n$mhSig")
    val mh = plan("dedup_minhash_lsh")
    assert(!mh.contains("collect_set"),
      s"dedup_minhash_lsh regressed to a grouped signature stage:\n$mh")
    // the band-bucket population guard is the bounded member aggregate
    // (one keyed pass that drops an over-cap bucket whole), not a count
    // window (full sort of the bands stream), an unbounded collect
    // (state grows with a flooded bucket) or a missing guard
    assertBandPass("dedup_minhash_lsh", Q.registry.find(_.name == "dedup_minhash_lsh").get
      .build(spark, s"${Q.testdataRoot}/sf0.001"))
    val sh = Dedup.simhashSigTable(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(sh.contains("graft_simhash"),
      s"simhashSigTable lost its row-local signature stage:\n$sh")
    val rep = plan("text_repetition_signals")
    assert(rep.contains("graft_repetition"),
      s"text_repetition_signals lost its row-local stage:\n$rep")
    // the r14 join-strategy pins: the dedup family's corpus-sized
    // self-join sides must stay hash-partitioned exchanges. Without the
    // shuffle_hash hints, Catalyst's under-threshold size estimate of
    // the cached array/vector/probe frames serializes a corpus-sized
    // join side through ONE driver broadcast — measured 2-3× the
    // hash-partitioned cost at the 10× bench scale and an OOM shape at
    // real corpus sizes. The hint renders as ShuffledHashJoin in the
    // static plan at every scale.
    // (dedup_semantic's hinted pair join is not pinnable here: it sits
    // inside the eagerly-executed connected-components build, so the
    // registered plan only shows the final labeling join over the
    // checkpointed leaf — the embeddingNearDup pin covers the same
    // vector-payload construct.)
    for (name <- Seq("dedup_embedding_cosine", "dedup_incremental_minhash")) {
      val p = plan(name)
      assert(p.contains("ShuffledHashJoin"),
        s"$name lost its hash-partitioned candidate/verify join " +
          s"(driver-broadcast regression):\n$p")
    }
    // simhash expands its candidates from the keyed bucket pass: the
    // probe frame is never a join side, so it cannot be broadcast
    val shPlan = plan("dedup_simhash")
    assert(shPlan.contains("graft_bucket_members") && !shPlan.contains("BroadcastHashJoin") &&
        !shPlan.contains("ShuffledHashJoin") && !shPlan.contains("SortMergeJoin"),
      s"dedup_simhash must generate candidates from its keyed bucket pass, with no probe-frame join:\n$shPlan")
  }

  test("persisted-store serve plans stay audited (fixture stores, no registry side effects)") {
    // The two buildExecutes queries (sim_index_persist_search,
    // dedup_sig_store_serve) are skipped by the registry walks above —
    // their one-off WRITE runs inside build. Their SERVE halves are
    // pure plans, so they are audited here over tiny fixture stores
    // written by the test itself: the same nested-loop / unpartitioned-
    // window / memo-hygiene rules, applied to the plan a production
    // serving job would run.
    import spark.implicits._
    import graft.operators.{Dedup, Similarity, Memo}
    import org.apache.spark.sql.functions._
    val memoBefore = Memo.report.map(_.key).toSet

    // --- ANN index serve (searchIvfPqIndex) ---
    def rng(seed: Long): Iterator[Double] = Iterator.iterate(
      seed * 2862933555777941757L + 3037000493L)(
      s => s * 2862933555777941757L + 3037000493L)
      .map(s => (s >>> 33).toDouble / (1L << 31).toDouble - 0.5)
    val dim = 16
    val vecs = (0 until 40).map(i =>
      (i.toLong, rng(i + 1).take(dim).map(_.toFloat).toArray)).toDF("vid", "vec")
    val annDir = java.nio.file.Files.createTempDirectory("graft-audit-ann").toString
    Similarity.writeIvfPqIndex(vecs, "vid", "vec", annDir,
      nList = 4, ivfSeed = 11L, dim = dim, m = 4, kCodes = 8, pqSeed = 13L)
    val annServe = Similarity.searchIvfPqIndex(annDir,
      vecs.filter(col("vid") < 4), "vid", "vec", k = 3, nProbe = 2,
      dim = dim, m = 4)
    val annPlan = annServe.queryExecution.sparkPlan
    assert(!annPlan.toString.contains("CartesianProduct"),
      s"ANN serve plans a cartesian product:\n$annPlan")
    // nested loops: only the 1-row centroid-array broadcast cross (the
    // IVF probe stage — same bound as the allowlisted sim_ivfpq_topk)
    val annNl = annPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(annNl.size <= 2, // probe stage + query-LUT stage, both 1-row crosses
      s"ANN serve grew unexpected nested loops (${annNl.size}):\n$annPlan")
    // unpartitioned windows: only the codebook-bounded LUT-position
    // offsets (m-row frame — the sim_ivfpq_topk allowlist entry)
    val annW = annPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(annW.size <= 1,
      s"ANN serve grew unpartitioned windows (${annW.size}):\n$annPlan")

    // --- signature-store serve (searchMinhashSigStore) ---
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("id", "body")
    val shard = Seq((10L, "alpha beta gamma delta epsilon eta")).toDF("id", "body")
    val sigDir = java.nio.file.Files.createTempDirectory("graft-audit-sig").toString
    Dedup.writeMinhashSigStore(corpus, "id", "body", sigDir, nHash = 8)
    val sigServe = Dedup.searchMinhashSigStore(sigDir, shard, "id", "body",
      bandRows = 2, threshold = 0.4)
    val sigPlan = sigServe.queryExecution.sparkPlan
    val sigStr = sigPlan.toString
    assert(!sigStr.contains("CartesianProduct") &&
      !sigStr.contains("BroadcastNestedLoopJoin"),
      s"sig-store serve plans a nested loop:\n$sigStr")
    assert(sigPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"sig-store serve grew a window:\n$sigStr")
    // the serve path guards its band buckets with the same bounded
    // keyed pass, pins no band frame, and its corpus side comes from
    // the persisted store
    assertBandPass("sig-store serve", sigServe)
    assert(sigStr.contains("graft-audit-sig"),
      s"sig-store serve does not scan the persisted store:\n$sigStr")
    // r15 join-strategy pin: the STORE side must never be the build
    // side of a driver broadcast. The r14 pathology trigger was
    // estimate-blind cached frames, but a plain Parquet scan's stats
    // flip with store size — at corpus scale a broadcast of the store
    // is the OOM shape. The band/verify joins over store-derived rows
    // must stay partitioned exchanges (ShuffledHashJoin/SortMergeJoin).
    assert(sigStr.contains("ShuffledHashJoin") || sigStr.contains("SortMergeJoin"),
      s"sig-store serve lost its partitioned band/verify joins:\n$sigStr")
    // "store side" = a direct FileScan of the store parquet inside a
    // broadcast build subtree. (An InMemoryTableScan build whose CACHE
    // lineage mentions the store is legal when runtime-filtered to
    // is_new — that broadcast carries only the increment's band rows,
    // the correct small side; a plain .toString match would flag it.)
    // Checked on BOTH plans: the static sparkPlan catches planning-time
    // stats-driven broadcasts, and the POST-EXECUTION adaptive final
    // plan catches AQE's runtime shuffled→broadcast conversion — the
    // actual mechanism behind the r14 driver-broadcast pathology, which
    // the static plan alone would wave through. The descent crosses
    // query-stage and reused-exchange boundaries, which plain
    // SparkPlan#collect does not.
    def flattenExec(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case _ => p.children
      }
      p +: kids.flatMap(flattenExec)
    }
    def storeScansUnderBroadcast(
        root: org.apache.spark.sql.execution.SparkPlan) =
      flattenExec(root).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          flattenExec(j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          }).collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.relation.location.rootPaths.exists(
                  _.toString.contains("graft-audit-sig")) => f
          }
      }.flatten
    val bcastOverStore = storeScansUnderBroadcast(sigPlan)
    assert(bcastOverStore.isEmpty,
      s"sig-store serve broadcasts a store scan " +
        s"(${bcastOverStore.size} scans) — the corpus-side-OOM shape:\n$sigStr")
    sigServe.collect() // materialize so AQE finalizes every stage
    val sigFinal = sigServe.queryExecution.executedPlan
    val bcastOverStoreFinal = storeScansUnderBroadcast(sigFinal)
    assert(bcastOverStoreFinal.isEmpty,
      s"AQE converted a store-side join to broadcast at runtime " +
        s"(${bcastOverStoreFinal.size} scans) — the corpus-side-OOM shape:\n$sigFinal")

    // neither serve path registers session-memo entries (the
    // MemoAuditSpec concern the buildExecutes skip would otherwise hide)
    assert(Memo.report.map(_.key).toSet == memoBefore,
      "a serve path registered a session-memo entry")
  }

  test("filters and projections reach the parquet scans of the core filter queries") {
    for (name <- Seq("f1_equality_filter", "j1_event_window_segment")) {
      val plan = Q.registry.find(_.name == name).get
        .build(spark, s"${Q.testdataRoot}/sf0.001")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [Is") || plan.contains("PushedFilters: [Equal"),
        s"$name scan lost its pushed filters:\n$plan")
      assert(!plan.contains("ReadSchema: struct<>"), s"$name reads no columns?")
    }
  }
}

/** A typed aggregator planted in the audit's detector check. */
private object PlantedSumAgg
    extends org.apache.spark.sql.expressions.Aggregator[Long, Long, Long] {
  def zero: Long = 0L
  def reduce(b: Long, a: Long): Long = b + a
  def merge(a: Long, b: Long): Long = a + b
  def finish(b: Long): Long = b
  def bufferEncoder: org.apache.spark.sql.Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
  def outputEncoder: org.apache.spark.sql.Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
}
