package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Deterministic.{decimalSum, stableSum}
import graft.Tables
import graft.operators.{Dedup, Incremental, Layout, Sessionize, Sketches}

/** Scale-infrastructure operators: the constructions that keep a
  * 100 TB pipeline affordable — batch sessionization (one-shuffle
  * gaps-and-islands), count–min frequency sketching (constant-size
  * shuffle), Z-order write layout (file-skipping bounding boxes),
  * rolling event-time range windows (burst detection), and
  * incremental snapshot+delta aggregate maintenance (merge instead of
  * recompute).
  */
object QScale {

  // ------------------------------------------- batch sessionization
  /** Gaps-and-islands sessionization of the event log (30-min gap) —
    * operators.Sessionize, the batch twin of stream_sessionize_state:
    * same session labels, plus the DECIMAL-stable per-session value
    * roll-up. ONE shuffle on user_id (both windows and the final
    * aggregation share the clustering). */
  val sessBatch = Q("sess_batch_islands", Some("""
    WITH e AS (SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t, value FROM events),
    o AS (SELECT user_id, t, value,
                 CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
                      THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
    g AS (SELECT user_id, t, value,
                 CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                     ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
          FROM o)
    SELECT user_id, session_id, min(t) AS session_start, max(t) AS session_end,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM g GROUP BY 1, 2 ORDER BY 1, 2"""
  ))((s, d) => {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("long").as("t"), col("value"))
    Sessionize.summarize(e, "user_id", "t", gapSeconds = 1800L,
        extraAggs = Seq(
          stableSum(col("value")).as("sum_value")))
      .orderBy("user_id", "session_id")
  })

  // ------------------------------------------------ count-min sketch
  /** Token-frequency estimation by count–min sketch
    * (operators.Sketches): depth 4 × width 16 counters over the corpus
    * token stream, probed with the 20 most frequent tokens. The tiny
    * width is deliberate — the ~31-token vocabulary collides in 16
    * buckets, so the report shows real over-counts and the min-over-
    * rows recovery, not a trivially exact table. The sketch build's
    * shuffle is ≤ depth·width cells per task regardless of corpus
    * size — the 100 TB story. Estimates are deterministic (counter
    * sums are merge-order-independent), so the oracle replays them
    * exactly. */
  private val cmsDepth = 4
  private val cmsWidth = 16
  private val cmsProbes = 20

  val cms = Q("sketch_cms_tokens", Some {
    val h8 = "(" + (1 to 8).map(k =>
      s"(strpos('0123456789abcdef', md5(tok)[$k]) - 1) * ${1L << (4 * (8 - k))}")
      .mkString(" + ") + s") % ${Dedup.mixM}"
    def bucketSql(r: Int) =
      s"((h1 * ${Dedup.mixA(r)} + ${Dedup.mixB(r)}) % ${Dedup.mixM}) % $cmsWidth"
    val cmsCte = (0 until cmsDepth).map(r =>
      s"SELECT $r AS cms_row, ${bucketSql(r)} AS cms_bucket, count(*) AS cnt " +
        "FROM hx GROUP BY 2").mkString(" UNION ALL ")
    val probeCells = (0 until cmsDepth).map(r =>
      s"SELECT tok, n_exact, $r AS cms_row, ${bucketSql(r)} AS cms_bucket FROM ph")
      .mkString(" UNION ALL ")
    s"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents WHERE text IS NOT NULL),
    hx AS (SELECT tok, $h8 AS h1 FROM toks),
    cms AS ($cmsCte),
    exact AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY 1),
    probes AS (SELECT tok, n_exact FROM exact
               QUALIFY row_number() OVER (ORDER BY n_exact DESC, tok) <= $cmsProbes),
    ph AS (SELECT tok, n_exact, $h8 AS h1 FROM probes),
    pc AS ($probeCells),
    est AS (SELECT p.tok, p.n_exact, min(c.cnt) AS n_est
            FROM pc p JOIN cms c ON p.cms_row = c.cms_row AND p.cms_bucket = c.cms_bucket
            GROUP BY 1, 2)
    SELECT tok, n_exact, n_est, n_est - n_exact AS overcount
    FROM est ORDER BY tok"""
  })((s, d) => {
    val toks = Tables.documentsP(s, d).filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = Sketches.countMin(toks, "tok", cmsDepth, cmsWidth)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
    // top-cmsProbes selection via orderBy+limit — TakeOrderedAndProject
    // (per-partition top-k), so the distinct-token frame of a web-scale
    // corpus never funnels through one task just to pick the probes
    val probes = exact
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(cmsProbes)
    Sketches.estimate(sketch, probes, "tok", cmsDepth, cmsWidth)
      .select(col("tok"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
      .orderBy("tok")
  })

  // --------------------------------------------------- z-order layout
  /** Z-order write-layout diagnostic (operators.Layout): Morton key
    * over (user bucket, hour-of-stream bucket), keyspace split into 16
    * file-sized z-ranges, each chunk's row count + (x, y) bounding box
    * reported. Tight boxes are what turn parquet min/max footers into
    * file skipping on BOTH filter dimensions at 100 TB. Pure integer
    * arithmetic — identical on both engines. */
  private val zBits = 8
  private val zChunks = 16

  val zorder = Q("layout_zorder_box", Some(s"""
    WITH e AS (SELECT user_id % 256 AS x,
                      ((epoch_us(ts) // 1000000) // 3600) % 256 AS y
               FROM events),
    z AS (SELECT x, y, ${Layout.zorder2Sql("x", "y", zBits)} AS zkey FROM e)
    SELECT zkey // ${(1L << (2 * zBits)) / zChunks} AS chunk, count(*) AS n,
           min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
    FROM z GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val e = Tables.events(s, d).selectExpr(
      "user_id % 256 AS x",
      "(cast(ts AS long) div 3600) % 256 AS y")
    Layout.zorderBoxes(e, col("x"), col("y"), zBits, zChunks)
      .orderBy("chunk")
  })

  // ------------------------------------------- rolling range window
  /** Per-user burst detection: event-time rolling 1-hour window
    * (RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) over the event
    * log, rolled up to each user's peak 1-hour rate and peak 1-hour
    * DECIMAL-stable value sum. The range frame is tie-safe (all rows
    * at the same timestamp share a frame) and the window shares the
    * user_id clustering with the final roll-up — one shuffle. */
  val rolling = Q("w10_rolling_range", Some("""
    WITH e AS (SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t, value FROM events),
    r AS (SELECT user_id, t,
                 count(*) OVER w AS n_1h,
                 SUM(CAST(value AS DECIMAL(28,6))) OVER w AS s_1h
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t
                              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))
    SELECT user_id, count(*) AS n_events,
           max(n_1h) AS peak_1h_n,
           CAST(max(s_1h) AS DOUBLE) AS peak_1h_sum
    FROM r GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("long").as("t"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("t").rangeBetween(-3600L, 0L)
    e.withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("s_1h", decimalSum(col("value"), 28, 6).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("n_1h")).as("peak_1h_n"),
        max(col("s_1h")).cast("double").as("peak_1h_sum"))
      .orderBy("user_id")
  })

  // ------------------------------------------- incremental merge
  /** Incremental aggregate maintenance (operators.Incremental): the
    * event log split into a "snapshot" half and a "delta" half
    * (event_id parity), each reduced to per-(user, type) partials
    * (count + DECIMAL sum), then merged with the full-outer coalesce
    * merge. The oracle computes the DIRECT one-pass aggregate — the
    * hash match IS the proof that merge == recompute exactly (decimal
    * sufficient statistics are associative), which is the contract
    * that lets a 100 TB pipeline aggregate only the day's delta. */
  val incMerge = Q("inc_merge_rollup", Some("""
    SELECT event_type, count(DISTINCT user_id) AS n_keys, count(*) AS total_n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
      col("event_id"), col("value"))
    def partials(f: org.apache.spark.sql.DataFrame) =
      f.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), decimalSum(col("value"), 28, 6).as("s"))
    val snap = partials(e.filter(col("event_id") % 2 === 0))
    val delta = partials(e.filter(col("event_id") % 2 === 1))
    Incremental.mergeAggregates(snap, delta, Seq("user_id", "event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n")).as("total_n"),
        decimalSum(col("s"), 38, 6).cast("double").as("total_value"))
      .orderBy("event_type")
  })

  // --------------------------------------------- SCD2 historization
  /** SCD2 dimension build from a change log —
    * operators.Incremental.scd2Intervals: each user's event stream
    * collapses into type-2 validity intervals (consecutive same-type
    * events merge; each type change opens a new version and closes the
    * previous one, closed-open, NULL valid_to = current). The standard
    * CDC→dimension historization whose output the as-of join
    * (j10_asof_attribution) resolves fact timestamps against. Every
    * window/aggregate keys on user_id — a key's history never leaves
    * its partition. The probe slice (user_id < 40) keeps the ledger
    * result bounded and demonstrates scan-level pushdown of the key
    * predicate. */
  val scd2 = Q("inc_scd2_intervals", Some("""
    WITH e AS (SELECT user_id, event_type, ts, event_id FROM events WHERE user_id < 40),
    v AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                           OR lag(event_type) OVER w <> event_type
                         THEN 1 ELSE 0 END AS chg
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    ver AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS version FROM v),
    iv AS (SELECT user_id, version, min(event_type) AS state,
                  min(ts) AS valid_from, count(*) AS n_events
           FROM ver GROUP BY 1, 2),
    fin AS (SELECT *, lead(valid_from) OVER (PARTITION BY user_id
                                             ORDER BY version) AS valid_to FROM iv)
    SELECT user_id, CAST(version AS BIGINT) AS version, state, valid_from, valid_to,
           CAST(n_events AS BIGINT) AS n_events, valid_to IS NULL AS is_current
    FROM fin ORDER BY user_id, version"""
  ))((s, d) =>
    Incremental.scd2Intervals(
      Tables.events(s, d).filter(col("user_id") < 40)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
      keyCols = Seq("user_id"), stateCol = "event_type", tsCol = "ts",
      tieCols = Seq("event_id"))
      .orderBy("user_id", "version"))

  // --------------------------------------------- key-skew diagnostic
  /** Key-skew planning report (operators.Diagnostics.keySkew) over
    * three join/aggregation keyspaces: the statistics that decide
    * whether a shuffle needs salting (operators.SkewJoin) or AQE skew
    * splitting, and how wide to make it — computed as O(distinct-keys)
    * aggregations, never a straggler discovered mid-job. */
  private def skewSql(tbl: String, key: String, label: String) = s"""
    SELECT '$label' AS keyspace, count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt,
           round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) AS avg_cnt,
           round(max(cnt) * CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS skew_ratio,
           round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_share
    FROM (SELECT $key, count(*) AS cnt FROM $tbl GROUP BY 1)"""

  val keySkew = Q("diag_key_skew", Some(
    Seq(skewSql("events", "user_id", "events.user_id"),
      skewSql("lineitem", "l_partkey", "lineitem.l_partkey"),
      skewSql("orders", "o_custkey", "orders.o_custkey"))
      .mkString("", " UNION ALL ", " ORDER BY keyspace")
  ))((s, d) =>
    Seq(
      graft.operators.Diagnostics.keySkew(Tables.events(s, d), "user_id", "events.user_id"),
      graft.operators.Diagnostics.keySkew(Tables.lineitem(s, d), "l_partkey", "lineitem.l_partkey"),
      graft.operators.Diagnostics.keySkew(Tables.orders(s, d), "o_custkey", "orders.o_custkey"))
      .reduce(_ unionByName _)
      .orderBy("keyspace"))

  // --------------------------------------------- missingness profile
  /** Per-column data-quality profile of the event log —
    * operators.Diagnostics.missingnessProfile: NULL/NaN counts and
    * fractions plus exact distinct cardinality for every column, one
    * aggregate pass (the Expand-based multi-distinct plan — the
    * report a pipeline runs FIRST over a new snapshot: did a feed
    * start sending NULLs, is the id column still unique). `ts` is
    * deliberately out of the profile: its distinct count would depend
    * on the engine's ns→µs normalization, not the data. */
  val missing = Q("diag_missingness_profile", Some {
    def leg(c: String, nan: String) = s"""
      SELECT '$c' AS col_name, count(*) AS n_rows,
             CAST(count(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT) AS n_null,
             CAST($nan AS BIGINT) AS n_nan,
             CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             round(count(CASE WHEN $c IS NULL THEN 1 END)::DOUBLE / count(*), 6) AS null_frac
      FROM events"""
    Seq(leg("event_id", "0"), leg("event_type", "0"),
      leg("props", "0"), leg("user_id", "0"),
      leg("value", "count(CASE WHEN isnan(value) THEN 1 END)"))
      .mkString("", " UNION ALL ", " ORDER BY col_name")
  })((s, d) =>
    graft.operators.Diagnostics.missingnessProfile(
        Tables.events(s, d)
          .select("event_id", "event_type", "props", "user_id", "value"),
        numericCols = Set("value"))
      .orderBy("col_name"))

  // --------------------------------------------- snapshot diff (CDC)
  /** Snapshot-diff audit (operators.Incremental.snapshotDiff) keyed by
    * (user, day): classify every user-day activity cell as added /
    * changed / unchanged between the first-half snapshot (events up to
    * the timeline midpoint) and the full log — the daily "what moved
    * since yesterday" CDC report. Day cells before the cut come out
    * unchanged, the cut day changed, later days added — all three
    * paths live (the cut sits at 37% of the timeline, off any day
    * boundary). ONE conditional-aggregation pass over the log (the
    * old snapshot is a predicate, not a second scan); the cut is
    * a 1-row scalar bound broadcast like f3/l5. */
  val snapDiff = Q("inc_snapshot_diff", Some("""
    WITH e AS (SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t FROM events),
    b AS (SELECT min(t) + (max(t) - min(t)) * 37 // 100 AS cut FROM e),
    k AS (SELECT user_id, t // 86400 AS day,
                 CAST(sum(CASE WHEN t <= b.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
                 count(*) AS n_new
          FROM e, b GROUP BY 1, 2),
    s AS (SELECT n_old, n_new,
                 CASE WHEN n_old = 0 THEN 'added'
                      WHEN n_old = n_new THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM k)
    SELECT status, count(*) AS n_cells,
           CAST(sum(n_new - n_old) AS BIGINT) AS delta_rows
    FROM s GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val e = Tables.events(s, d)
      .selectExpr("user_id", "cast(ts AS long) AS t",
        "cast(ts AS long) div 86400 AS day")
    val cut = e.agg(expr("min(t) + (max(t) - min(t)) * 37 div 100").as("cut"))
    val diff = graft.operators.Incremental.snapshotDiff(
      e.crossJoin(broadcast(cut)), Seq("user_id", "day"),
      col("t") <= col("cut"))
    diff.groupBy("status")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n_new") - col("n_old")).as("delta_rows"))
      .orderBy("status")
  })

  // ------------------------------------------- categorical entropy
  /** Corpus-diversity audit (operators.Diagnostics.categoryEntropy):
    * per-source Shannon entropy of the language mix, with e^H as the
    * effective language count — the balance metric a mixture builder
    * (mix_temperature_rates, w9) monitors. Rounded-term DECIMAL sum
    * keeps the entropy bit-stable on both engines. */
  val entropy = Q("diag_source_entropy", Some("""
    WITH c AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
    t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_cats FROM c GROUP BY 1),
    e AS (SELECT c.source, t.n, t.n_cats,
                 round(-(CAST(c.c AS DOUBLE) / t.n) * ln(CAST(c.c AS DOUBLE) / t.n), 6) AS term
          FROM c JOIN t USING (source))
    SELECT source, max(n) AS n_rows, max(n_cats) AS n_cats,
           CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS entropy,
           round(exp(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE)), 6) AS eff_cats
    FROM e GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    graft.operators.Diagnostics.categoryEntropy(
        Tables.documents(s, d), "source", "lang")
      .select(col("source"), col("n_rows"), col("n_cats"),
        col("entropy"), col("eff_cats"))
      .orderBy("source"))

  // --------------------------------------------- embedding drift
  /** Embedding-space drift — operators.Diagnostics.embeddingDrift over
    * the label groups of the embeddings table: per-group centroid vs
    * the global centroid (cosine + norm ratio), the t16-PSI analog for
    * vector columns. The oracle replays the DECIMAL(28,12) per-
    * dimension sums, the divide-by-count means, and the dimension-
    * ascending unrolled cosine/norm chains. */
  private val edDim = 64
  val embDrift = Q("diag_embedding_drift", Some {
    def dotL(x: String, y: String) =
      "(0" + (1 to edDim).map(i => s" + ($x[$i] * $y[$i])").mkString + ")"
    s"""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (SELECT label, t.i, v[t.i] AS x
           FROM e, LATERAL unnest(generate_series(1, $edDim)) AS t(i)),
    gs AS (SELECT label, i, ${graft.functions.Deterministic.stableSumSql("x", 12)} AS sx,
                  count(*) AS n
           FROM ex GROUP BY 1, 2),
    gc AS (SELECT label, max(n) AS n_vecs, list(sx / n ORDER BY i) AS cg
           FROM gs GROUP BY 1),
    asx AS (SELECT i, ${graft.functions.Deterministic.stableSumSql("x", 12)} AS sx,
                   count(*) AS n
            FROM ex GROUP BY 1),
    ag AS (SELECT list(sx / n ORDER BY i) AS cglob FROM asx)
    SELECT label, n_vecs,
           round(${dotL("cg", "cglob")}
             / (sqrt(${dotL("cg", "cg")}) * sqrt(${dotL("cglob", "cglob")})), 6)
             AS cos_to_global,
           round(sqrt(${dotL("cg", "cg")}) / sqrt(${dotL("cglob", "cglob")}), 6)
             AS norm_ratio,
           round(${dotL("cg", "cglob")}
             / (sqrt(${dotL("cg", "cg")}) * sqrt(${dotL("cglob", "cglob")})), 6)
             < 0.99 AS drifted
    FROM gc, ag ORDER BY label"""
  })((s, d) =>
    graft.operators.Diagnostics.embeddingDrift(
        Tables.embeddings(s, d), "label", "embedding", dim = edDim)
      .orderBy("label"))

  // --------------------------------------------- bloom runtime filter
  private val bloomHashes = 3
  /** Bits per ALL orders rows (the filter keeps ~20%, so this is
    * ~10 bits per build key at every scale — never saturates). */
  private val bloomBitsPerOrder = 2L

  /** Bloom runtime-filter audit (operators.Sketches.bloomBits/
    * bloomPrune): build a bit-set from the selective side of the
    * classic fact-prune join (high-value orders), flag every lineitem
    * row with its exact-match and bloom-pass status in ONE broadcast-
    * join pass (the fact side is never shuffled), and report the
    * numbers that decide whether the runtime filter pays for itself
    * at 100 TB: rows kept vs true matches (false positives) and the
    * false-positive rate among true negatives. The bit array is sized
    * from the same metadata-level row count the engine reads
    * (2·|orders| bits ≈ 10 bits/key at ~20% selectivity), so the
    * report stays meaningful at any scale. No false negatives are
    * possible by construction — the query proves it with an
    * `n_missed` column that must be 0. */
  val bloom = Q("sketch_bloom_prune", Some {
    val m = "SELECT 2 * count(*) FROM orders"
    def pos(r: Int) = Sketches.intBucketSql("k", r, s"($m)")
    def bpos(r: Int) = Sketches.intBucketSql("bk", r, s"($m)")
    s"""
    WITH bkeys AS (SELECT DISTINCT o_orderkey AS bk FROM orders
                   WHERE o_totalprice > 400000),
    bits AS (SELECT DISTINCT bloom_bit FROM (
      ${(0 until bloomHashes).map(r =>
        s"SELECT ${bpos(r)} AS bloom_bit FROM bkeys").mkString(" UNION ALL ")})),
    fl AS (SELECT l_orderkey AS k,
             CASE WHEN l_orderkey IN (SELECT bk FROM bkeys) THEN 1 ELSE 0 END AS is_match,
             CASE WHEN ${(0 until bloomHashes).map(r =>
               s"${pos(r)} IN (SELECT bloom_bit FROM bits)").mkString(" AND ")}
                  THEN 1 ELSE 0 END AS is_pass
           FROM lineitem)
    SELECT (SELECT count(*) FROM bkeys) AS n_build_keys,
           (SELECT count(*) FROM bits) AS n_bits_set,
           count(*) AS n_fact,
           CAST(sum(is_pass) AS BIGINT) AS n_pass,
           CAST(sum(is_match) AS BIGINT) AS n_match,
           CAST(sum(is_pass) - sum(is_match) AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN is_match = 1 AND is_pass = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
           round(CAST(sum(is_pass) - sum(is_match) AS DOUBLE)
                 / (count(*) - sum(is_match)), 6) AS fp_rate
    FROM fl"""
  })((s, d) => {
    val m = bloomBitsPerOrder * Tables.rowCount(s, d, "orders")
    val keys = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("bk")).distinct()
    val bits = Sketches.bloomBits(keys, "bk", m, bloomHashes)
    val li = Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
    val withMatch = li.join(broadcast(keys), li("k") === keys("bk"), "left")
    val flagged = (0 until bloomHashes).foldLeft(withMatch) { (f, r) =>
      val b = bits.select(col("bloom_bit").as(s"bit_$r"))
      f.join(broadcast(b),
        Sketches.intBucket(col("k"), r, m) === col(s"bit_$r"), "left")
    }
    val passFlag = (0 until bloomHashes)
      .map(r => col(s"bit_$r").isNotNull).reduce(_ && _)
    val counts = flagged.agg(
      count(lit(1)).as("n_fact"),
      sum(when(passFlag, 1L).otherwise(0L)).as("n_pass"),
      count(col("bk")).as("n_match"),
      sum(when(col("bk").isNotNull && !passFlag, 1L).otherwise(0L)).as("n_missed"))
    val dims = keys.agg(count(lit(1)).as("n_build_keys"))
      .crossJoin(bits.agg(count(lit(1)).as("n_bits_set")))
    broadcast(dims).crossJoin(counts)
      .select(col("n_build_keys"), col("n_bits_set"), col("n_fact"),
        col("n_pass"), col("n_match"),
        (col("n_pass") - col("n_match")).as("n_false_pos"),
        col("n_missed"),
        round((col("n_pass") - col("n_match")).cast("double")
          / (col("n_fact") - col("n_match")), 6).as("fp_rate"))
  })

  // ------------------------------------------ CMS join-size estimate
  /** Join-cardinality estimation from count–min sketches
    * (operators.Sketches.countMinInt/joinSizeEstimate): |A ⋈ B| =
    * Σ_k f_A(k)·f_B(k) estimated as the min-over-rows sketch inner
    * product (AMS/CMS), for the classic planning pair — the
    * events.user_id ⋈ orders.o_custkey fan-out join and the
    * events.user_id SELF-join size (F₂, the skew statistic). The
    * estimate touches depth·width counter cells instead of either
    * input — at 100 TB this prices a join (shuffle width, skew
    * strategy, broadcast viability) without a second scan. The audit
    * reports est vs exact: the deliberately narrow width=512 leaves
    * the cross-join leg visibly collision-inflated (est ≥ exact,
    * over_ratio ≈ 3) while the self-join leg, whose 150 distinct keys
    * sit far under the width, comes out exact — both regimes of the
    * estimator on one report. */
  private val jsDepth = 4
  private val jsWidth = 512

  val joinSize = Q("diag_join_size_cms", Some {
    def cmsSql(src: String, key: String) = (0 until jsDepth).map(r =>
      s"SELECT $r AS cms_row, ${Sketches.intBucketSql(key, r, jsWidth.toString)} AS cms_bucket, " +
        s"count(*) AS cnt FROM $src GROUP BY 2").mkString(" UNION ALL ")
    s"""
    WITH ca AS (${cmsSql("events", "user_id")}),
    cb AS (${cmsSql("orders", "o_custkey")}),
    jx AS (SELECT ca.cms_row, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS ip
           FROM ca JOIN cb ON ca.cms_row = cb.cms_row AND ca.cms_bucket = cb.cms_bucket
           GROUP BY 1),
    js AS (SELECT a.cms_row, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS ip
           FROM ca a JOIN ca b ON a.cms_row = b.cms_row AND a.cms_bucket = b.cms_bucket
           GROUP BY 1),
    ex AS (SELECT count(*) AS exact FROM events e JOIN orders o ON e.user_id = o.o_custkey),
    es AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact
           FROM (SELECT count(*) AS cnt FROM events GROUP BY user_id))
    SELECT 'events_user_x_orders_cust' AS metric, ex.exact,
           CASE WHEN (SELECT count(*) FROM jx) < $jsDepth THEN 0
                ELSE (SELECT min(ip) FROM jx) END AS n_est,
           round(CAST(CASE WHEN (SELECT count(*) FROM jx) < $jsDepth THEN 0
                           ELSE (SELECT min(ip) FROM jx) END AS DOUBLE)
                 / ex.exact, 6) AS over_ratio
    FROM ex
    UNION ALL
    SELECT 'self_events_user' AS metric, es.exact,
           CASE WHEN (SELECT count(*) FROM js) < $jsDepth THEN 0
                ELSE (SELECT min(ip) FROM js) END AS n_est,
           round(CAST(CASE WHEN (SELECT count(*) FROM js) < $jsDepth THEN 0
                           ELSE (SELECT min(ip) FROM js) END AS DOUBLE)
                 / es.exact, 6) AS over_ratio
    FROM es
    ORDER BY metric"""
  })((s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"))
    val od = Tables.orders(s, d).select(col("o_custkey"))
    val ca = Sketches.countMinInt(ev, "user_id", jsDepth, jsWidth)
    val cb = Sketches.countMinInt(od, "o_custkey", jsDepth, jsWidth)
    val estCross = Sketches.joinSizeEstimate(ca, cb, jsDepth)
    val estSelf = Sketches.joinSizeEstimate(ca, ca, jsDepth)
    val exactCross = ev.join(od, ev("user_id") === od("o_custkey"))
      .agg(count(lit(1)).as("exact"))
    val exactSelf = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt") * col("cnt")).cast("long").as("exact"))
    def leg(name: String, exact: org.apache.spark.sql.DataFrame,
        est: org.apache.spark.sql.DataFrame) =
      exact.crossJoin(est)
        .select(lit(name).as("metric"), col("exact"), col("n_est"),
          round(col("n_est").cast("double") / col("exact"), 6).as("over_ratio"))
    leg("events_user_x_orders_cust", exactCross, estCross)
      .unionByName(leg("self_events_user", exactSelf, estSelf))
      .orderBy("metric")
  })

  // ------------------------------------------------------- PageRank
  /** PageRank over the customer–supplier co-purchase graph
    * (operators.Graphs.pageRank): distinct (custkey, suppkey) pairs
    * from orders ⋈ lineitem, symmetrized into an undirected bipartite
    * graph (nodes encoded 2·key / 2·key+1 to keep the keyspaces
    * disjoint), 3 unrolled power iterations at d = 0.85, top-10
    * suppliers by final rank. The iterative-compute complement of
    * connected components: one node-keyed shuffle per iteration,
    * per-edge contributions rounded and DECIMAL-summed so every rank
    * is bit-identical on both engines. `rank_ppm` = rank · 10⁶. */
  private val prIters = 3
  private val prDamp = 0.85

  val pagerank = Q("graph_pagerank_copurchase", Some {
    def step(prev: String, out: String) = s"""
    $out AS (SELECT e.dst AS node,
         round((CAST(1.0 AS DOUBLE) - CAST($prDamp AS DOUBLE)) / (SELECT nn FROM n)
           + CAST($prDamp AS DOUBLE)
             * CAST(SUM(CAST(round($prev.r / deg.dg, 12) AS DECIMAL(28,12))) AS DOUBLE), 12) AS r
       FROM edges e JOIN $prev ON e.src = $prev.node JOIN deg ON e.src = deg.node
       GROUP BY 1)"""
    s"""
    WITH raw AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM raw
              UNION ALL SELECT s * 2 + 1, c * 2 FROM raw),
    deg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM deg),
    r0 AS (SELECT node, round(CAST(1 AS DOUBLE) / (SELECT nn FROM n), 12) AS r FROM deg),
    ${step("r0", "r1")},
    ${step("r1", "r2")},
    ${step("r2", "r3")}
    SELECT row_number() OVER (ORDER BY r.r DESC, r.node) AS rk,
           r.node // 2 AS supp_key, round(r.r * 1e6, 6) AS rank_ppm,
           deg.dg AS degree
    FROM r3 r JOIN deg ON r.node = deg.node
    WHERE r.node % 2 = 1
    ORDER BY rk LIMIT 10"""
  })((s, d) =>
    graft.operators.Graphs.pageRank(copurchaseEdges(s, d), "src", "dst",
        prIters, prDamp,
        memoKey = Some(graft.operators.Memo.corpusKey("prcp", d)))
      .filter(col("node") % 2 === 1)
      .select(col("node"), col("r"), col("dg").as("degree"))
      // top-10 via orderBy+limit (distributed TakeOrdered); the rank
      // window then runs over the 10-row post-limit frame only
      .orderBy(col("r").desc, col("node"))
      .limit(10)
      .withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("r").desc, col("node"))))
      .select(col("rk").cast("long").as("rk"),
        expr("node div 2").as("supp_key"),
        round(col("r") * lit(1e6), 6).as("rank_ppm"), col("degree"))
      .orderBy("rk"))

  /** The bipartite-encoded co-purchase graph shared by the iterative
    * graph queries (customer keys even, supplier keys odd; symmetrized
    * in ONE pass — explode, not union, so the join+distinct pipeline
    * runs once). Both consumers pass the same corpus memo key, so the
    * materialized Graphs.edgeLeaf is built once per session. */
  private[graft] def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val raw = copurchaseRaw(s, d)
    raw.select(explode(array(
        struct((col("c") * 2).as("src"), (col("sk") * 2 + 1).as("dst")),
        struct((col("sk") * 2 + 1).as("src"), (col("c") * 2).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Distinct (customer, supplier) purchase pairs — the symmetric
    * co-purchase graph above and the DIRECTED flow graph of
    * `graph_pagerank_directed` both derive from this frame. */
  private def copurchaseRaw(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()

  // ------------------------------------ PageRank, directed + dangling
  /** PageRank over the DIRECTED customer→supplier purchase-flow graph —
    * the dangling-mass redistribution path of operators.Graphs.pageRank
    * (`Graphs.scala` slow branch) exercised end-to-end: every supplier
    * node is dst-only (out-degree 0), so each iteration folds the
    * danglers' summed rank into a 1-row broadcast and hands it back
    * uniformly — Σr stays 1 instead of leaking 85 % of the supplier
    * mass per round. The symmetric co-purchase query keeps the
    * fast no-dangling iteration; this one proves the slow path against
    * an oracle that replays the identical per-round (contribution,
    * dangling-sum) arithmetic. `n_dangling` rides on every row, so the
    * correctness gate also pins that the fixture REALLY exercises the
    * branch (n_dangling = supplier count > 0). */
  val pagerankDirected = Q("graph_pagerank_directed", Some {
    def step(prev: String, out: String) = s"""
    ${prev}d AS (SELECT CAST(SUM(CAST($prev.r AS DECIMAL(28,12))) AS DOUBLE) AS dm
         FROM $prev JOIN nd ON $prev.node = nd.node WHERE nd.dg = 0),
    ${prev}m AS (SELECT e.dst AS node,
           CAST(SUM(CAST(round($prev.r / nd.dg, 12) AS DECIMAL(28,12))) AS DOUBLE) AS mass
         FROM edges e JOIN $prev ON e.src = $prev.node JOIN nd ON e.src = nd.node
         GROUP BY 1),
    $out AS (SELECT nd.node,
         round((CAST(1.0 AS DOUBLE) - CAST($prDamp AS DOUBLE)) / (SELECT nn FROM n)
           + CAST($prDamp AS DOUBLE) * coalesce(m.mass, CAST(0 AS DOUBLE))
           + CAST($prDamp AS DOUBLE)
             * coalesce((SELECT dm FROM ${prev}d), CAST(0 AS DOUBLE))
             / (SELECT nn FROM n), 12) AS r
       FROM nd LEFT JOIN ${prev}m m ON nd.node = m.node)"""
    s"""
    WITH raw AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM raw),
    nd AS (SELECT node, CAST(sum(o) AS BIGINT) AS dg
           FROM (SELECT src AS node, 1 AS o FROM edges
                 UNION ALL SELECT dst, 0 FROM edges) GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM nd),
    dang AS (SELECT CAST(count(*) AS BIGINT) AS n_dangling FROM nd WHERE dg = 0),
    r0 AS (SELECT node, round(CAST(1 AS DOUBLE) / (SELECT nn FROM n), 12) AS r FROM nd),
    ${step("r0", "r1")},
    ${step("r1", "r2")},
    ${step("r2", "r3")}
    SELECT row_number() OVER (ORDER BY r.r DESC, r.node) AS rk,
           CASE WHEN r.node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS entity,
           r.node // 2 AS entity_key, round(r.r * 1e6, 6) AS rank_ppm,
           (SELECT n_dangling FROM dang) AS n_dangling
    FROM r3 r ORDER BY rk LIMIT 10"""
  })((s, d) => {
    val pr = graft.operators.Graphs.pageRank(
      copurchaseRaw(s, d)
        .select((col("c") * 2).as("src"), (col("sk") * 2 + 1).as("dst")),
      "src", "dst", prIters, prDamp,
      memoKey = Some(graft.operators.Memo.corpusKey("prdir", d)))
    // the final round is scope-persisted inside pageRank, so this
    // second consumer re-reads one node-sized cached frame
    val nDang = pr.filter(col("dg") === 0L).agg(count(lit(1)).as("n_dangling"))
    pr.orderBy(col("r").desc, col("node")).limit(10)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("r").desc, col("node"))))
      .crossJoin(broadcast(nDang))
      .select(col("rk").cast("long").as("rk"),
        when(col("node") % 2 === 1, lit("supplier")).otherwise(lit("customer"))
          .as("entity"),
        expr("node div 2").as("entity_key"),
        round(col("r") * lit(1e6), 6).as("rank_ppm"),
        col("n_dangling"))
      .orderBy("rk")
  })

  // --------------------------------------- Label-propagation communities
  /** Community detection over the co-purchase graph —
    * operators.Graphs.labelPropagation (synchronous LPA, 3 unrolled
    * rounds, self-vote damping, deterministic (count desc, label asc)
    * tie-break) — the market-segmentation complement of the other
    * graph primitives: CC answers reachability, PageRank centrality,
    * triangles cliquishness, LPA answers "which densely-connected
    * group does each node trade in". Reported as the community-size
    * spectrum (size → how many communities, how many nodes) — the
    * bounded histogram, not a per-node dump. Edge leaf memo-shared
    * with `graph_pagerank_copurchase` (same corpus key → one
    * materialization). The oracle unrolls the identical three rounds
    * with the row_number twin of the argmax vote. */
  val lpa = Q("graph_lpa_communities", Some {
    def step(prev: String, out: String) = s"""
    $out AS (SELECT node, lbl FROM (
       SELECT v.node, v.lbl,
              row_number() OVER (PARTITION BY v.node ORDER BY v.c DESC, v.lbl) AS rn
       FROM (SELECT node, lbl, count(*) AS c FROM (
               SELECT e.dst AS node, $prev.lbl FROM edges e JOIN $prev ON e.src = $prev.node
               UNION ALL SELECT node, lbl FROM $prev) GROUP BY 1, 2) v)
       WHERE rn = 1)"""
    s"""
    WITH raw AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM raw
              UNION ALL SELECT s * 2 + 1, c * 2 FROM raw),
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
    ${step("l0", "l1")},
    ${step("l1", "l2")},
    ${step("l2", "l3")},
    cs AS (SELECT lbl, count(*) AS csize FROM l3 GROUP BY 1)
    SELECT csize AS community_size, count(*) AS n_communities,
           CAST(sum(csize) AS BIGINT) AS n_nodes
    FROM cs GROUP BY 1 ORDER BY 1"""
  })((s, d) =>
    graft.operators.Graphs.labelPropagation(copurchaseEdges(s, d),
        "src", "dst", iters = 3,
        memoKey = Some(graft.operators.Memo.corpusKey("prcp", d)))
      .groupBy("community").agg(count(lit(1)).as("csize"))
      .groupBy("csize")
      .agg(count(lit(1)).as("n_communities"), sum("csize").as("n_nodes"))
      .select(col("csize").as("community_size"), col("n_communities"),
        col("n_nodes"))
      .orderBy("community_size"))

  // ------------------------------------------------ Triangle counting
  /** Per-part triangle counts over the co-purchase graph —
    * operators.Graphs.triangleCounts (node-iterator++ / degree-ordered
    * wedge closure): parts are linked when ≥ 2 orders contain both, and
    * each part reports how many closed co-purchase triangles it sits in
    * plus its local clustering coefficient — the "bought-together
    * cliquishness" signal, and the third graph primitive beside
    * connected components (membership) and PageRank (centrality).
    * The degree orientation bounds every node's wedge fan-out at
    * O(√m), so a hub part never generates d² candidate pairs; the
    * per-order pair generation is bounded by order size. Counts are
    * exact integers; the oracle replays the same orientation via
    * SQL row-value comparison. Top 15 by (triangles, node). */
  val triangles = Q("graph_triangle_copurchase", Some("""
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT a.p AS u, b.p AS v FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
    ori AS (SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS s,
                   CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS t,
                   CASE WHEN (da.d, e.u) < (db.d, e.v) THEN db.d ELSE da.d END AS dt
            FROM e JOIN deg da ON da.node = e.u JOIN deg db ON db.node = e.v),
    w AS (SELECT x.s AS a, x.t AS b, y.t AS c FROM ori x JOIN ori y
          ON x.s = y.s AND (x.dt, x.t) < (y.dt, y.t)),
    tri AS (SELECT a, b, c FROM w JOIN ori z ON w.b = z.s AND w.c = z.t),
    pn AS (SELECT node, count(*) AS triangles FROM
             (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri) GROUP BY 1)
    SELECT deg.node, deg.d AS degree,
           CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
           round(CASE WHEN deg.d < 2 THEN CAST(0 AS DOUBLE)
                      ELSE CAST(2 AS DOUBLE) * coalesce(pn.triangles, 0)
                           / CAST(deg.d * (deg.d - 1) AS DOUBLE) END, 6) AS clustering
    FROM deg LEFT JOIN pn USING (node)
    ORDER BY triangles DESC, node LIMIT 15"""
  ))((s, d) => {
    // pair generation: ONE groupBy(order) — collect_set doubles as the
    // per-order distinct — then a row-local double explode (order size
    // is bounded ≤ 7, so ≤ 21 pairs per row); the orderkey self-join
    // form re-shuffled the 600k-row distinct frame twice for the same
    // pairs (measured 3× the edge-build cost at sf0.1)
    val byOrder = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(collect_set(col("p")).as("ps"))
    val edges = byOrder
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") < col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select("src", "dst")
    graft.operators.Graphs.triangleCounts(edges, "src", "dst",
        memoKey = Some(graft.operators.Memo.corpusKey("tricp", d)))
      .orderBy(col("triangles").desc, col("node")).limit(15)
      .orderBy(col("triangles").desc, col("node"))
  })

  // ------------------------------------------------ HyperLogLog
  /** HLL distinct-count audit (operators.Sketches.hyperLogLog): how
    * many distinct parts does each supplier nation ship, from 64
    * integer registers per group instead of a distinct-shuffle —
    * reported beside the exact count and the relative error (~1.04/√m
    * ≈ 13 % at b = 6; the deliberately small register file makes the
    * error REAL, the same honesty convention as sketch_cms_tokens).
    * Register ranks are all-integer, Σ2^(−M) is a dyadic-rational sum
    * (exact in any order), so the estimates replay bit-identically. */
  private val hllB = 6

  val hll = Q("sketch_hll_distinct", Some {
    val m = 1 << hllB
    val wBits = 31 - hllB
    val h8 = "(" + (1 to 8).map(j =>
      s"(strpos('0123456789abcdef', md5(CAST(k AS VARCHAR))[$j]) - 1) * ${1L << (4 * (8 - j))}")
      .mkString(" + ") + s") % ${graft.operators.Dedup.mixM}"
    val bitsCase = "CASE " + (wBits - 1 to 0 by -1)
      .map(k => s"WHEN w >= ${1L << k} THEN ${k + 1}").mkString(" ") + " ELSE 0 END"
    val amm = graft.operators.Sketches.hllAlpha(m) * m * m
    val estExpr =
      s"CASE WHEN CAST($amm AS DOUBLE) / denom <= 2.5 * $m AND v0 > 0 " +
        s"THEN $m * ln(CAST($m AS DOUBLE) / v0) " +
        s"ELSE CAST($amm AS DOUBLE) / denom END"
    s"""
    WITH it AS (SELECT s.s_nationkey AS g, l.l_partkey AS k FROM lineitem l
                JOIN supplier s ON l.l_suppkey = s.s_suppkey),
    h AS (SELECT g, $h8 AS hv FROM it),
    rw AS (SELECT g, hv // ${1L << wBits} AS reg, hv % ${1L << wBits} AS w FROM h),
    rk AS (SELECT g, reg, max(${wBits + 1} - ($bitsCase)) AS mr FROM rw GROUP BY 1, 2),
    grid AS (SELECT DISTINCT g, unnest(generate_series(0, ${m - 1})) AS reg FROM rk),
    full_r AS (SELECT grid.g, grid.reg, COALESCE(rk.mr, 0) AS mr
               FROM grid LEFT JOIN rk ON grid.g = rk.g AND grid.reg = rk.reg),
    est AS (SELECT g, CAST(sum(pow(2.0, -mr)) AS DOUBLE) AS denom,
                   CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
            FROM full_r GROUP BY 1),
    ex AS (SELECT g, count(DISTINCT k) AS n_exact FROM it GROUP BY 1)
    SELECT ex.g AS nationkey, ex.n_exact, round($estExpr, 4) AS n_est,
           round(abs($estExpr - n_exact) / n_exact, 4) AS rel_err
    FROM ex JOIN est ON ex.g = est.g ORDER BY 1"""
  })((s, d) => {
    val it = Tables.lineitem(s, d).select(col("l_suppkey"), col("l_partkey").as("k"))
      .join(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey").as("g")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("g"), col("k"))
    val est = Sketches.hyperLogLog(it, "g", "k", b = hllB)
    val ex = it.groupBy("g").agg(countDistinct(col("k")).as("n_exact"))
    ex.join(est, "g")
      .select(col("g").as("nationkey"), col("n_exact"),
        round(col("hll_est"), 4).as("n_est"),
        round(abs(col("hll_est") - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
      .orderBy("nationkey")
  })

  // ------------------------------------------- shuffle-shard layout
  /** Deterministic training-shard layout + audit —
    * operators.Layout.shuffleShards: 16 hash-dealt shards over the
    * document corpus, each reporting doc/token balance, its corpus
    * token share, and the source-mix entropy/effective-source count
    * proving crawl locality is broken. The oracle replays the integer
    * hash deal and the rounded-term DECIMAL entropy sums; everything
    * else is exact integer arithmetic. */
  private val shardN = 16
  private val shardSeed = 4242L

  val shards = Q("layout_shuffle_shards", Some(s"""
    WITH d AS (SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
                 (${graft.functions.Deterministic.hrandSql("doc_id", shardSeed)})
                   * $shardN // ${graft.functions.Deterministic.M} AS shard
               FROM documents WHERE text IS NOT NULL),
    c AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS dc,
                 CAST(sum(nt) AS BIGINT) AS dt
          FROM d GROUP BY 1, 2),
    s AS (SELECT shard, CAST(sum(dc) AS BIGINT) AS n_docs,
                 CAST(sum(dt) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_domains
          FROM c GROUP BY 1),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM s),
    e AS (SELECT c.shard,
                 round(-(CAST(dc AS DOUBLE) / n_docs)
                       * ln(CAST(dc AS DOUBLE) / n_docs), 6) AS term
          FROM c JOIN s USING (shard)),
    ent AS (SELECT shard,
                   CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS domain_entropy
            FROM e GROUP BY 1)
    SELECT s.shard, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_share,
           round(domain_entropy, 6) AS domain_entropy, n_domains
    FROM s JOIN ent USING (shard) CROSS JOIN tot ORDER BY shard"""
  ))((s, d) =>
    Layout.shuffleShards(Tables.documentsP(s, d).filter(col("text").isNotNull),
        "doc_id", size(split(col("text"), " ")).cast("long"), "source",
        nShards = shardN, seed = shardSeed)
      .orderBy("shard"))

  val all: Seq[Q] = Seq(sessBatch, cms, zorder, rolling, incMerge, keySkew,
    snapDiff, scd2, entropy, embDrift, bloom, joinSize, missing, pagerank,
    pagerankDirected, lpa, triangles, hll, shards)
}
