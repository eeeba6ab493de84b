package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Deterministic.stableSum

/** Iterative graph analytics as relational plans. Complements the
  * connected-components operator (Dedup.connectedComponents): CC finds
  * WHICH nodes belong together; PageRank scores HOW CENTRAL each node
  * is — the standard importance prior for dedup keep-selection,
  * crawl-frontier prioritization and source weighting.
  */
object Graphs {

  /** PageRank with a FIXED number of unrolled power iterations (the
    * same finite-iteration discipline as Similarity.kmeans — an exact
    * relational artifact, not a convergence loop):
    * r₀ = 1/N;  r_{t+1}(v) = (1−d)/N + d · Σ_{u→v} r_t(u)/deg(u).
    *
    * `edges` is a DIRECTED edge list; symmetrize before calling for an
    * undirected graph. The node set is src ∪ dst, and DANGLING nodes
    * (dst-only, out-degree 0) get the standard treatment: their rank
    * mass redistributes uniformly each iteration
    * (r_{t+1}(v) = (1−d)/N + d·(Σ_{u→v} r_t(u)/deg(u) + dm_t/N), dm_t
    * the summed rank of the dangling set), so Σr stays 1 instead of
    * leaking. On a dangling-free graph (any symmetrized list) dm ≡ 0
    * and every arithmetic operand — including the rounding chain — is
    * identical to the no-redistribution form, so existing oracles
    * replay unchanged.
    *
    * Determinism: per-edge contributions r/deg are rounded to 12 dp and
    * summed as DECIMAL(28,12) — merge-order-independent — and each
    * iteration re-rounds to 12 dp, so every double derives from
    * identical operands on any engine/partitioning (the SQL oracle
    * replays the identical chain).
    *
    * Scale shape: one shuffle per iteration, always on the node key —
    * ranks ⋈ edges on src, re-aggregated on dst; the rank and degree
    * frames are node-sized, edges are scanned once per iteration from
    * the scoped persist. Iterations are a fixed small constant, so the
    * whole plan is iters·|E| work with no driver-side loop state.
    *
    * Output: (node, r, dg) — the out-degree rides along from the frame
    * the operator already holds, so callers never rescan the edge list
    * for it. */
  /** The checkpoint mode shared by every lineage-truncation site in
    * this object and [[Dedup.connectedComponents]] (`who` tags the
    * checkpoint-dir conflict warning): the
    * default `localCheckpoint` (executor-block storage) is right for
    * local mode and short-lived jobs; a `checkpointDir` switches to
    * RELIABLE `checkpoint()` against that directory (set as the
    * context's checkpoint dir if none is set yet) — the cluster
    * deployment mode, where a lost executor must not void a memoized
    * graph frame derived from a 100 TB corpus. Results are identical
    * either way (spec-proven row identity); only fault tolerance and
    * checkpoint IO differ — and the IO half is MEASURED, not assumed:
    * at sf0.1 in r13 (memo off, 5 reps, co-purchase graph), pageRank
    * took 4.94/4.07 s and LPA 4.42/4.13 s min wall-clock for
    * local/reliable — the reliable mode's directory writes are
    * indistinguishable from localCheckpoint's block writes for
    * node-sized graph frames (within rep noise; the reliable legs ran
    * on the warmer JVM). The cost driver either way is the iterative
    * chain itself, so reliability is effectively free at this frame
    * size — pick the mode by deployment, not by speed.
    *
    * Checkpoint-dir semantics are CONTEXT-GLOBAL in Spark: if the
    * context already has a different dir set, it is KEPT (a warning is
    * logged — silently honoring one caller's dir over another's would
    * scatter checkpoints unpredictably). Checkpoint FILES are not
    * cleaned up by [[Memo.clear]]/unpersist (those release executor
    * cache only); reliable checkpoint data lives until
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` collects
    * it with the RDD or the operator of the directory deletes it — a
    * long-lived session rotating corpora should do one or the other,
    * or orphaned checkpoint directories accumulate on disk. */
  /** Sets `dir` as the context checkpoint dir if none is set; on a
    * conflict keeps the existing one and logs a warning. Called only by
    * [[ckpt]], the one reliable-checkpoint entry, so the convention
    * cannot drift.
    * The match is path-boundary-aware: Spark stores the requested dir
    * plus a per-context UUID segment, so an existing `dir/<uuid>`
    * matches, while a requested `/tmp/ck` does NOT silently claim an
    * existing `/tmp/ckpt2/<uuid>` (a genuinely different directory a
    * bare startsWith would accept). */
  private def ensureCheckpointDir(
      sc: org.apache.spark.SparkContext, dir: String, who: String): Unit = {
    val existing = sc.getCheckpointDir
    if (existing.isEmpty) sc.setCheckpointDir(dir)
    else {
      // Spark stores the SCHEME-QUALIFIED path ('file:/tmp/ck/<uuid>'
      // for a local '/tmp/ck'), so the request must be qualified the
      // same way before comparing — a bare string match never matches
      // and would log a spurious conflict on every same-dir checkpoint
      val req = new org.apache.hadoop.fs.Path(dir)
      val reqQ = try req.getFileSystem(sc.hadoopConfiguration)
        .makeQualified(req).toString
      catch { case scala.util.control.NonFatal(_) => dir }
      if (!existing.exists(p => p == reqQ || p.startsWith(reqQ + "/") ||
          p == dir || p.startsWith(dir + "/")))
        System.err.println(
          s"[$who] checkpointDir '$dir' requested but context already uses " +
            s"'${existing.get}' — keeping the existing dir")
    }
  }

  private[operators] def ckpt(checkpointDir: Option[String],
      who: String): DataFrame => DataFrame =
    checkpointDir match {
      case Some(dir) => df => {
        ensureCheckpointDir(df.sparkSession.sparkContext, dir, who)
        df.checkpoint(eager = true)
      }
      case None => _.localCheckpoint(true)
    }

  /** The shared materialized edge leaf of the iterative graph
    * operators: (src, dst), pre-partitioned on src, lineage-truncated
    * by an eager checkpoint (see [[pageRank]]'s header for why a
    * persist alone is not enough), and — with a memoKey — held in the
    * session memo tier so every iterative consumer of the SAME graph
    * ([[pageRank]], [[labelPropagation]]) shares ONE materialization
    * instead of re-checkpointing |E| rows each. */
  def edgeLeaf(edges: DataFrame, srcCol: String, dstCol: String,
      memoKey: Option[String],
      checkpointDir: Option[String] = None): DataFrame = {
    def build = ckpt(checkpointDir, "graphs")(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")))
    memoKey.map(mk => Memo.cached(s"$mk/graph/edges")(build)).getOrElse(build)
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85,
      memoKey: Option[String] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && iters <= 20, s"pageRank needs 1 <= iters <= 20, got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping in (0,1), got $damping")
    def build: DataFrame =
      buildRanks(edges, srcCol, dstCol, iters, damping, memoKey, checkpointDir)
    // The FINAL (node, r, dg) frame is node-sized and a pure function
    // of (graph, iters, damping): with a memoKey it joins the session
    // memo tier as its own eager-localCheckpoint leaf — the same
    // lineage-truncation discipline as [[labelPropagation]]'s labels
    // (a bare memo of the joined frame would die with the building
    // scope via plan canonicalization; see that header). A hit also
    // skips the whole build — including the build-time dangling probe
    // action — so warm evaluations read one cached node-sized frame
    // instead of re-running iters |E|-row power rounds. First-build
    // cost stays visible in the bench cold pass (`queries_cold`).
    memoKey.map(mk => Memo.cached(s"$mk/pr/$iters/$damping/ranks") {
      ckpt(checkpointDir, "graphs")(build)
    }).getOrElse(build)
  }

  private def buildRanks(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double, memoKey: Option[String],
      checkpointDir: Option[String]): DataFrame = {
    // Materialize the edge list PRE-PARTITIONED on the join key via an
    // eager localCheckpoint — the same lineage-truncation discipline as
    // connectedComponents' rounds, and for the same reason: a persist
    // alone keeps the caller's FULL logical plan under every iteration,
    // and when the edges derive from an expensive pipeline (the
    // near-dup pair set in dedup_keep_rank) the optimizer re-analyzes
    // that tree once per iteration per action — measured 30–40 s of
    // pure planning on a 45-row pair graph. The checkpointed frame is
    // a leaf that still advertises its HashPartitioning (LogicalRDD
    // keeps outputPartitioning), so each iteration's ranks-join
    // exchanges only the node-sized rank frame instead of re-shuffling
    // |E| rows per round — the partitioning-reuse pattern the 100 TB
    // posture rests on (one big exchange, iters small ones).
    // memoKey: the checkpointed edge frame and the node/degree frame
    // are a pure function of the input graph, and the checkpoint is
    // EAGER — per-rep/per-consumer it re-materializes |E| rows. With a
    // key they join the session memo tier (the S7 discipline): built
    // once, every later evaluation starts from the partitioned leaf.
    def memoOr(kk: String, fallback: DataFrame => DataFrame)(b: => DataFrame) =
      memoKey.map(mk => Memo.cached(s"$mk/pr/$kk")(b)).getOrElse(fallback(b))
    val e = edgeLeaf(edges, srcCol, dstCol, memoKey, checkpointDir)
    // node set = src ∪ dst WITH out-degree in ONE shuffle (src rows
    // count 1, dst rows 0): a dst-only (dangling) node is a real node —
    // it holds rank, and its mass must re-enter the distribution below
    val nd = memoOr("nodes", CacheScope.persist(_)) {
      e.select(col("src").as("node"), lit(1L).as("o"))
        .union(e.select(col("dst").as("node"), lit(0L).as("o")))
        .groupBy("node").agg(sum("o").as("dg"))
    }
    // ONE build-time probe decides the iteration shape: with no
    // dangling node (every symmetrized list) the redistribution term
    // is identically 0 every round, so the fast iteration — no
    // per-round dangling aggregate/broadcast — is exact, and the two
    // shapes produce bit-identical doubles there (x + d·0.0/N ≡ x).
    val hasDangling = nd.filter(col("dg") === 0L).limit(1).count() > 0
    val n = nd.agg(count(lit(1)).as("nn"))
    // per-iteration persists keep the plan per-round (each round's rank
    // frame is node-sized): without them the final plan is one deep
    // lineage whose every broadcast/AQE re-plan re-derives the chain
    val r0 = CacheScope.persist(nd.crossJoin(broadcast(n))
      .select(col("node"), round(lit(1.0).cast("double") / col("nn"), 12).as("r")))
    (1 to iters).foldLeft(r0) { (r, _) =>
      // contribution weight r/deg is a NODE property: computed on the
      // node-sized frame BEFORE touching edges, so the |E|-row path
      // carries exactly one join (ranks onto the pre-partitioned edge
      // list) instead of dragging the degree join through every edge
      // row — same rounded operands, same decimal sum, bit-identical.
      val rj = r.join(nd, "node")
      val w = rj.filter(col("dg") > 0L)
        .select(col("node").as("wnode"),
          round(col("r") / col("dg"), 12).as("w"))
      val mass = e.join(w, col("src") === col("wnode"))
        .groupBy(col("dst").as("node"))
        .agg(stableSum(col("w"), 12).as("mass"))
      val base = nd.select("node").join(mass, Seq("node"), "left")
        .crossJoin(broadcast(n))
      val next =
        if (!hasDangling)
          base.select(col("node"),
            round((lit(1.0).cast("double") - lit(damping)) / col("nn") +
              lit(damping) * coalesce(col("mass"), lit(0.0)), 12).as("r"))
        else {
          // dangling mass: summed rank of out-degree-0 nodes — the
          // node-keyed rj again (co-partitioned, no exchange) folded
          // to a 1-row broadcast, redistributed uniformly
          val dm = rj.filter(col("dg") === 0L)
            .agg(stableSum(col("r"), 12).as("dm"))
          base.crossJoin(broadcast(dm))
            .select(col("node"),
              round((lit(1.0).cast("double") - lit(damping)) / col("nn") +
                lit(damping) * coalesce(col("mass"), lit(0.0)) +
                lit(damping) * coalesce(col("dm"), lit(0.0)) / col("nn"),
                12).as("r"))
        }
      CacheScope.persist(next)
    }.join(nd, "node") // degree rides along: node-sized join, no rescan
      .select(col("node"), col("r"), col("dg"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected edge list — the node-iterator++ scheme (Schank &
    * Wagner 2005): edges are ORIENTED from the lower- to the
    * higher-(degree, id) endpoint, every triangle {a,b,c} then appears
    * as exactly ONE wedge a→b, a→c (rank(b) < rank(c)) closed by the
    * oriented edge b→c, so no triangle is double-counted and — the
    * scale guarantee — every node's oriented OUT-degree is O(√m)
    * regardless of raw degree: a 10⁷-degree hub contributes wedges
    * only through its (few) higher-rank neighbors, never d² pairs.
    * Both the wedge join (on the oriented source) and the closing join
    * (on the oriented pair) are plain equi-joins.
    *
    * Input may contain duplicates, self-loops or both orientations —
    * canonicalized and distinct'd first. Output: (node, degree,
    * triangles, clustering) for every node of the edge set; clustering
    * = 2T/(d(d−1)) rounded to 6 dp (0.0 where d < 2), all counts exact
    * BIGINTs.
    *
    * The output is node-sized and a pure function of the graph, so —
    * like [[pageRank]]'s ranks and [[labelPropagation]]'s labels —
    * a `memoKey` parks it in the session memo tier as an eager
    * localCheckpoint leaf; first-build cost stays in the bench cold
    * pass. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      memoKey: Option[String] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    def build = buildTriangles(edges, srcCol, dstCol)
    memoKey.map(mk => Memo.cached(s"$mk/tri/counts") {
      ckpt(checkpointDir, "graphs")(build)
    }).getOrElse(build)
  }

  private def buildTriangles(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = CacheScope.persist(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct())
    val deg = CacheScope.persist(
      e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d")))
    def rankLess(d1: org.apache.spark.sql.Column, n1: org.apache.spark.sql.Column,
        d2: org.apache.spark.sql.Column, n2: org.apache.spark.sql.Column) =
      d1 < d2 || (d1 === d2 && n1 < n2)
    // orient low→high rank; carry the DEST rank (dt) so the wedge join
    // can order the two spokes without another degree lookup
    val withDeg = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val ori = CacheScope.persist(withDeg.select(
      when(rankLess(col("du"), col("u"), col("dv"), col("v")), col("u"))
        .otherwise(col("v")).as("s"),
      when(rankLess(col("du"), col("u"), col("dv"), col("v")), col("v"))
        .otherwise(col("u")).as("t"),
      when(rankLess(col("du"), col("u"), col("dv"), col("v")), col("dv"))
        .otherwise(col("du")).as("dt")))
    val wedges = ori.as("x").join(ori.as("y"),
        col("x.s") === col("y.s") &&
          rankLess(col("x.dt"), col("x.t"), col("y.dt"), col("y.t")))
      .select(col("x.s").as("a"), col("x.t").as("b"), col("y.t").as("c"))
    val tris = wedges.join(ori.select(col("s").as("b"), col("t").as("c")),
      Seq("b", "c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(when(col("d") < 2, lit(0.0)).otherwise(
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("d") * (col("d") - 1)).cast("double")), 6).as("clustering"))
  }

  /** Synchronous label propagation (Raghavan 2007), a FIXED number of
    * unrolled iterations with fully deterministic updates: every node
    * starts labeled with its own id; each round a node adopts the most
    * frequent label among its in-neighbors PLUS ITSELF (count desc,
    * label asc tie-break). Including the node's own current label in
    * the vote is the standard damping that keeps synchronous LPA from
    * oscillating on bipartite structure — without it a two-sided graph
    * (the co-purchase projection here) flips labels side-to-side every
    * round. Fixed iterations + total-order tie-break = deterministic
    * AND finitely SQL-replayable (the oracle unrolls each round as a
    * CTE with the identical vote).
    *
    * Scale shape: per round, ONE |E|-row join (labels onto the shared
    * pre-partitioned [[edgeLeaf]] — memo-shared with [[pageRank]] on
    * the same graph) + a (node, label)-keyed count + a node-keyed
    * `max(struct(cnt, −label))` argmax — all map-side combinable, no
    * window, no corpus sort; the label frame stays node-sized and is
    * scope-persisted per round so each round plans once.
    *
    * Output: (node, community) — community = the final label. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, memoKey: Option[String] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && iters <= 20, s"labelPropagation needs 1 <= iters <= 20, got $iters")
    def build: DataFrame = {
      val e = edgeLeaf(edges, srcCol, dstCol, memoKey, checkpointDir)
      val l0 = CacheScope.persist(
        e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
          .distinct()
          .select(col("node"), col("node").as("lbl")))
      (1 to iters).foldLeft(l0) { (l, _) =>
        val votes = e.join(l.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), col("lbl"))
          .unionAll(l.select(col("node"), col("lbl")))
        CacheScope.persist(votes
          .groupBy("node", "lbl").agg(count(lit(1)).as("c"))
          .groupBy("node")
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl")))
      }.select(col("node"), col("lbl").as("community"))
    }
    // The FINAL label frame is node-sized and a pure function of
    // (graph, iters): with a memoKey it joins the session memo tier —
    // the same discipline as pageRank's node/edge frames — so a second
    // evaluation (a bench rep, a sibling query on the same graph)
    // reads one cached node-sized frame instead of re-running `iters`
    // |E|-row vote rounds. First-build cost stays visible in the bench
    // cold pass (`queries_cold`).
    //
    // The memoized frame MUST be its own materialized leaf: `build`'s
    // result is a rename-only Project over the CacheScope-persisted
    // final round, which Spark CANONICALIZES to the same cache key as
    // the round frame itself — so when the building query's scope
    // closes and unpersists the round, the memo entry's cache entry is
    // removed with it, and every later evaluation re-runs all `iters`
    // |E|-row vote rounds with NO per-round persists (each round's
    // `votes` union references the previous label frame twice, so the
    // un-cached recompute doubles per round). The eager
    // localCheckpoint — the same lineage-truncation discipline as
    // [[edgeLeaf]] — turns the entry into an independent node-sized
    // LogicalRDD leaf that no scope close can touch.
    memoKey.map(mk => Memo.cached(s"$mk/lpa/$iters/labels") {
      ckpt(checkpointDir, "graphs")(build)
    }).getOrElse(build)
  }
}
