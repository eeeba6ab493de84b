package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Similarity}

/** Deduplication + similarity-search registry entries — thin
  * instantiations of the reusable `graft.operators.Dedup` /
  * `graft.operators.Similarity` library over the testdata schema, each
  * with an exact DuckDB oracle.
  *
  * Oracle basis: md5 hex strings (identical bytes→hex in both engines);
  * pseudo-random projections from the deterministic LCG hash; vector
  * math unrolled into the SAME sequential addition chain on both sides
  * so doubles are bit-identical by construction (DuckDB's `list_sum`
  * may sum pairwise — see operators.Similarity).
  */
object QSim {

  private[queries] val shinglesSqlDuck =
    "list_distinct([md5(concat_ws(' ', w[i], w[i+1], w[i+2])) for i in generate_series(1, len(w)-2)])"

  // Input choice (SCALE.md §Dedup): only the SHINGLE-heavy operators
  // (minhash, ngram-Jaccard — 3-gram concat+md5 per position, the
  // measured 7.3 s single-core stage) read through Tables.documentsP's
  // pre-repartition; the hash/signature/vector operators read the RAW
  // scan — their per-row compute is light, the first groupBy
  // redistributes anyway, and the up-front repartition is a pure extra
  // shuffle wave (measured ~0.3 s/query at sf0.1; at cluster scale the
  // parquet splits provide the scan parallelism).

  // -------------------------------------------------------- exact dedup
  /** Exact dedup via content hash — operators.Dedup.exactSummary. */
  val exact = Q("dedup_exact", Some("""
    WITH h AS (SELECT doc_id, source, md5(text) AS th FROM documents),
    k AS (SELECT source, th, count(*) AS copies, min(doc_id) AS keep_id FROM h GROUP BY 1, 2)
    SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs, count(*) AS n_unique,
           CAST(sum(copies) - count(*) AS BIGINT) AS n_removed, min(keep_id) AS first_keep
    FROM k GROUP BY 1 ORDER BY 1"""
  ))((s, d) =>
    Dedup.exactSummary(Tables.documents(s, d), "source", "doc_id", "text")
      .orderBy("source"))

  // -------------------------------------------------------- MinHash LSH
  /** MinHash + LSH banding near-dup — operators.Dedup.minhashLsh
    * (12 affine-mix hashes off one md5, 6 bands of 2, Jaccard ≥ 0.5).
    * The oracle parses the md5's first 8 hex chars positionally into the
    * same 31-bit integer Spark gets from conv(·,16,10), then replays the
    * identical (h·A+B) mod 2^31 mixes. */
  private[queries] val nHash = 12
  private[queries] val bandRows = 2

  /** The memoized per-document signature table the text-dedup family
    * shares (operators.Dedup.minhashSigTable, corpus tier — see the
    * Memo tier doc): ONE tokenize/shingle/hash pass over the corpus
    * serves minhash-LSH (+ its three pair-set consumers on their cold
    * build), the incremental variant, n-gram Jaccard and containment —
    * at sf1 these queries re-deriving this frame from raw text per
    * query was the dominant bench tail (~45 s of 194.5 s, r12). `shs`
    * is nHash-invariant, so the nHash=12 table serves the signature-
    * free Jaccard/containment consumers bit-identically. Carried
    * columns cover every consumer's block key: lang (jaccard +
    * containment blocks), source (incremental is_new), n_tok (jaccard
    * length band). First-build cost lands on the first consumer and
    * stays visible in the bench's queries_cold. */
  private[queries] def sigTab(s: org.apache.spark.sql.SparkSession, d: String) =
    Dedup.minhashSigTable(
      Tables.documentsP(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long")),
      "doc_id", "text", carry = Seq("lang", "source", "n_tok"),
      ngram = 3, nHash = nHash,
      memoKey = Some(graft.operators.Memo.corpusKey("tok", d)))

  /** The n-gram family's shared PAIR-STATS table (memo BOUNDED tier —
    * the verified-pair-set discipline `mh` set): lang-blocked candidate
    * pairs aggregated to (doc_a, doc_b, na, nb, inter, lb_a, lb_b) and
    * prefiltered at C >= 0.8, which keeps the frame emitted-pair-sized.
    * The Σ df² index join + count — the whole cost of both n-gram
    * measures — runs ONCE per corpus; `dedup_ngram_containment` is a
    * projection of this frame and `dedup_ngram_jaccard` a row filter
    * over it (lb_a == lb_b recovers its finer (lang, length-band)
    * blocking, carried per-document; J <= C makes the C-prefilter
    * lossless at the shared 0.8 threshold). First-build cost lands on
    * the first consumer, visible in the bench's queries_cold. */
  private[queries] def ngPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    Dedup.ngramPairStats(Tables.documentsP(s, d), "doc_id", "text",
      blockCols = Seq("lang"), minContainment = 0.8, carry = Seq("lb"),
      // the length band derives from the carried token count — the
      // same size(split).cast/divide/cast chain the docs frame uses
      sigTable = Some(sigTab(s, d)
        .withColumn("lb", col("n_tok").divide(lit(40)).cast("long"))),
      // the band width shapes the CARRIED lb column, which the operator
      // key records only by name — fold it in here (key-owns-identity)
      memoKey = Some(graft.operators.Memo.corpusKey("ngp", d) + "/lbw40"))

  /** CC labels (node, comp) over the memo-shared minhash pair set —
    * memoized once (BOUNDED tier: one row per clustered doc, a subset
    * of the pair set's endpoints) for its FOUR consumers: the cluster
    * report, the keep-rank election, the savings spectrum and the
    * curation funnel each ran the identical alternating-star rounds on
    * the identical pairs every rep (r14: ~0.5-0.7 s each at the 10x
    * scale). The star rounds EXECUTE eagerly at first build (the
    * checkpointed-loop shape), so the memo converts three re-runs into
    * cache reads — the same discipline the Graphs family's finals use. */
  private[queries] def mhCc(s: org.apache.spark.sql.SparkSession, d: String) = {
    val pairs = Dedup.minhashLsh(Tables.documentsP(s, d), "doc_id", "text",
      nHash = nHash, bandRows = bandRows, threshold = 0.5,
      memoKey = Some(graft.operators.Memo.corpusKey("mh", d)),
      sigTable = Some(sigTab(s, d)))
    graft.operators.Memo.cached(
      graft.operators.Memo.corpusKey("mhcc", d) + s"/$nHash/$bandRows/0.5")(
      Dedup.connectedComponents(pairs, "doc_a", "doc_b"))
  }

  // (strpos hex parse) == conv(substring(sh,1,8),16,10): digit k of 8
  // scales by 16^(8-k) = 2^(4(8-k)); all terms integer-exact BIGINTs.
  private[queries] val h1Duck = "(" + (1 to 8).map(k =>
    s"(strpos('0123456789abcdef', sh[$k]) - 1) * ${1L << (4 * (8 - k))}")
    .mkString(" + ") + s") % ${graft.operators.Dedup.mixM}"

  /** Shared CTE chain producing minhash near-dup pairs (`ver`: doc_a,
    * doc_b, j) — the oracle body of `dedup_minhash_lsh`, reused verbatim
    * as the edge source of `dedup_cluster_cc`. */
  private val minhashPairsCte = {
    val mhCols = (0 until nHash).map(i =>
      s"min((h1 * ${graft.operators.Dedup.mixA(i)} + ${graft.operators.Dedup.mixB(i)}) " +
        s"% ${graft.operators.Dedup.mixM}) AS mh$i").mkString(", ")
    val bandSel = (0 until nHash / bandRows).map { b =>
      val ks = (0 until bandRows).map(r => s"mh${b * bandRows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $ks) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
    shs AS (SELECT doc_id, $shinglesSqlDuck AS s FROM w),
    ex AS (SELECT doc_id, unnest(s) AS sh FROM shs),
    hx AS (SELECT doc_id, $h1Duck AS h1 FROM ex),
    sig AS (SELECT doc_id, $mhCols FROM hx GROUP BY 1),
    bands AS ($bandSel),
    bandsc AS (SELECT doc_id, band, bkey FROM (
               SELECT doc_id, band, bkey, count(*) OVER (PARTITION BY band, bkey) AS bc FROM bands)
               WHERE bc <= ${graft.operators.Dedup.defaultMaxBandBucket}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bandsc a JOIN bandsc b ON a.bkey = b.bkey AND a.band = b.band AND a.doc_id < b.doc_id),
    ver AS (SELECT c.doc_a, c.doc_b,
                   len(list_intersect(sa.s, sb.s))::DOUBLE / len(list_distinct(sa.s || sb.s)) AS j
            FROM cand c JOIN shs sa ON c.doc_a = sa.doc_id JOIN shs sb ON c.doc_b = sb.doc_id)"""
  }

  val minhashLsh = Q("dedup_minhash_lsh", Some(s"""
    WITH $minhashPairsCte
    SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM ver WHERE j >= 0.5 ORDER BY 1, 2"""
  ))((s, d) =>
    Dedup.minhashLsh(Tables.documentsP(s, d), "doc_id", "text",
      nHash = nHash, bandRows = bandRows, threshold = 0.5,
      memoKey = Some(graft.operators.Memo.corpusKey("mh", d)),
      sigTable = Some(sigTab(s, d)))
      .orderBy("doc_a", "doc_b"))

  // ------------------------------------------- dedup cluster assignment
  /** Near-dup pairs → canonical clusters: minhash pairs (same parameters
    * as `dedup_minhash_lsh`) fed through the alternating large/small-star
    * connected components — operators.Dedup.connectedComponents — so
    * each near-dup doc gets the min doc_id of its transitive cluster
    * plus the cluster size. The oracle replays the same pair CTE and
    * labels nodes with a recursive transitive closure (exact at oracle
    * scale; the engine side is the O(log² n)-round construction that
    * survives corpus scale). */
  /** CTE suffix labeling minhash near-dup docs with their transitive
    * cluster (`compt`: doc_id, comp) — the oracle twin of
    * `Dedup.connectedComponents` over the `ver` pairs; requires
    * [[minhashPairsCte]] earlier in the same WITH RECURSIVE list. */
  private val ccLabelsCte = """
    edges AS (SELECT doc_a AS a, doc_b AS b FROM ver WHERE j >= 0.5),
    se AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
    reach(a, b) AS (SELECT a, b FROM se
                    UNION
                    SELECT r.a, s.b FROM reach r JOIN se s ON r.b = s.a),
    compt AS (SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a)"""

  val clusterCc = Q("dedup_cluster_cc", Some(s"""
    WITH RECURSIVE $minhashPairsCte,
    $ccLabelsCte
    SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS cluster_size
    FROM compt ORDER BY doc_id"""
  ))((s, d) => {
    import org.apache.spark.sql.expressions.Window
    // shared memos: the pair set (mh) with dedup_minhash_lsh / the
    // funnel, and the CC labels (mhcc) with keep-rank/savings/funnel
    mhCc(s, d)
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("comp")))
      .select(col("node").as("doc_id"), col("comp"), col("cluster_size"))
      .orderBy("doc_id")
  })

  // --------------------------------------- rank-prior keep selection
  /** PageRank-prior keep-selection over near-dup clusters — the
    * composition Graphs.pageRank's header positions it for: cluster
    * the minhash near-dup pairs (Dedup.connectedComponents), score
    * every clustered doc's centrality over the SAME symmetrized pair
    * graph (3 power iterations, d = 0.85), and keep the max-PageRank
    * member per cluster (tie → min doc_id) — the "canonical copy"
    * rule that prefers the most-linked variant instead of the
    * arbitrary min-id, the standard importance-prior refinement of
    * dedup keep-selection. Output is the per-doc decision ledger:
    * every clustered doc with its cluster, rank (ppm), the cluster's
    * keeper and its own kept/dropped verdict — the drop list IS the
    * rows with kept = false, attribution included.
    *
    * Scale shape: pair set memo-shared with dedup_minhash_lsh (the
    * third consumer); CC is the O(log² n) star construction; PageRank
    * is one node-keyed shuffle per iteration on the pre-partitioned
    * edge list; keeper election is max(struct(r, −id)) — an ordinary
    * map-side-combinable aggregate, no window, no corpus sort. */
  val keepRank = Q("dedup_keep_rank", Some {
    def step(prev: String, out: String) = s"""
    $out AS (SELECT e.b AS node,
         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nn FROM n)
           + CAST(0.85 AS DOUBLE)
             * CAST(SUM(CAST(round($prev.r / pdeg.dg, 12) AS DECIMAL(28,12))) AS DOUBLE), 12) AS r
       FROM se e JOIN $prev ON e.a = $prev.node JOIN pdeg ON e.a = pdeg.node
       GROUP BY 1)"""
    s"""
    WITH RECURSIVE $minhashPairsCte,
    $ccLabelsCte,
    pdeg AS (SELECT a AS node, count(*) AS dg FROM se GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM pdeg),
    r0 AS (SELECT node, round(CAST(1 AS DOUBLE) / (SELECT nn FROM n), 12) AS r FROM pdeg),
    ${step("r0", "r1")},
    ${step("r1", "r2")},
    ${step("r2", "r3")},
    prj AS (SELECT c.doc_id, c.comp, r3.r FROM compt c JOIN r3 ON c.doc_id = r3.node),
    keepers AS (SELECT comp, doc_id AS keep_id FROM (
                SELECT comp, doc_id,
                       row_number() OVER (PARTITION BY comp ORDER BY r DESC, doc_id) AS rn
                FROM prj) WHERE rn = 1)
    SELECT p.doc_id, p.comp, round(p.r * 1e6, 6) AS rank_ppm,
           k.keep_id, p.doc_id = k.keep_id AS kept
    FROM prj p JOIN keepers k ON p.comp = k.comp
    ORDER BY p.doc_id"""
  })((s, d) => {
    val pairs = Dedup.minhashLsh(Tables.documentsP(s, d), "doc_id", "text",
      nHash = nHash, bandRows = bandRows, threshold = 0.5,
      memoKey = Some(graft.operators.Memo.corpusKey("mh", d)),
      sigTable = Some(sigTab(s, d)))
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val pr = graft.operators.Graphs.pageRank(edges, "src", "dst",
      iters = 3, damping = 0.85,
      memoKey = Some(graft.operators.Memo.corpusKey("prkr", d)))
    // prj feeds BOTH the keeper election and the final decision join —
    // scope-persisted so the CC + PageRank chains plan (and run) once
    val prj = graft.operators.CacheScope.persist(
      mhCc(s, d)
        .join(pr.select(col("node"), col("r")), "node"))
    val keepers = prj.groupBy("comp")
      .agg(max(struct(col("r"), (-col("node")).as("nid"))).as("m"))
      .select(col("comp"), (-col("m.nid")).as("keep_id"))
    prj.join(keepers, "comp")
      .select(col("node").as("doc_id"), col("comp"),
        round(col("r") * lit(1e6), 6).as("rank_ppm"), col("keep_id"),
        (col("node") === col("keep_id")).as("kept"))
      .orderBy("doc_id")
  })

  // ---------------------------------------- dedup savings accounting
  /** What would near-dedup actually buy? The cluster-size spectrum of
    * the minhash near-dup graph with its cost in documents and tokens:
    * for each cluster size, how many clusters exist, how many docs a
    * min-id keeper rule would drop, and how many whitespace tokens
    * those drops reclaim — the capacity-planning report a 100 TB
    * curation run reads BEFORE committing to the dedup pass (dedup
    * ROI per cluster-size band; a heavy tail of big clusters means
    * boilerplate, a flat spectrum means organic duplication).
    *
    * Fourth consumer of the memo-shared minhash pair set. Plan: CC
    * over the pairs (O(log² n) star rounds), one doc_id-keyed join to
    * the token counts, two map-side-combinable aggregates (comp, then
    * cluster_size). No window, no corpus sort. */
  val savings = Q("dedup_savings_report", Some(s"""
    WITH RECURSIVE $minhashPairsCte,
    $ccLabelsCte,
    tok AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok
            FROM documents),
    cs AS (SELECT c.comp, count(*) AS cluster_size,
                  CAST(sum(CASE WHEN c.doc_id <> c.comp THEN t.n_tok ELSE 0 END)
                    AS BIGINT) AS tok_rm
           FROM compt c JOIN tok t USING (doc_id)
           GROUP BY 1)
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(sum(cluster_size - 1) AS BIGINT) AS docs_removed,
           CAST(sum(tok_rm) AS BIGINT) AS tokens_removed
    FROM cs GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val tok = Tables.documentsP(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    mhCc(s, d)
      .withColumnRenamed("node", "doc_id")
      .join(tok, "doc_id")
      .groupBy("comp")
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("doc_id") =!= col("comp"), col("n_tok")).otherwise(0L))
          .as("tok_rm"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size") - 1).as("docs_removed"),
        sum(col("tok_rm")).as("tokens_removed"))
      .orderBy("cluster_size")
  })

  // ---------------------------------------------- incremental MinHash
  /** Incremental near-dup: today's crawl shards (sources src0–src3,
    * ~20% of the corpus) checked against the WHOLE corpus without
    * re-pairing old×old — operators.Dedup.minhashLshIncremental, same
    * signature/banding/verify constants as `dedup_minhash_lsh`. The
    * oracle replays the asymmetric candidate join: new-side bands
    * against all bands, old partners emitted any-order (new side
    * first), new partners once via doc_new < doc_other. */
  private[queries] val incNewSources = Seq("src0", "src1", "src2", "src3")

  /** Oracle body shared by `dedup_incremental_minhash` (inline chain)
    * and `dedup_sig_store_serve` (persisted-store serve): the two are
    * row-identical by construction — the store IS the inline chain's
    * signature stage round-tripped through Parquet — so passing the
    * same hash gate proves the files round-trip the signatures exactly
    * (the sig-store analog of the ANN persist query's oracle choice). */
  private def incMinhashSqlFor(newSources: Seq[String]): String = {
    val newIn = newSources.map(s => s"'$s'").mkString(", ")
    val mhCols = (0 until nHash).map(i =>
      s"min((h1 * ${graft.operators.Dedup.mixA(i)} + ${graft.operators.Dedup.mixB(i)}) " +
        s"% ${graft.operators.Dedup.mixM}) AS mh$i").mkString(", ")
    val bandSel = (0 until nHash / bandRows).map { b =>
      val ks = (0 until bandRows).map(r => s"mh${b * bandRows + r}").mkString(", ")
      s"SELECT doc_id, is_new, $b AS band, concat_ws('_', $ks) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""
    WITH w AS (SELECT doc_id, coalesce(source IN ($newIn), FALSE) AS is_new,
                      string_split(text, ' ') AS w
               FROM documents WHERE len(string_split(text, ' ')) >= 3),
    shs AS (SELECT doc_id, is_new, $shinglesSqlDuck AS s FROM w),
    ex AS (SELECT doc_id, is_new, unnest(s) AS sh FROM shs),
    hx AS (SELECT doc_id, is_new, $h1Duck AS h1 FROM ex),
    sig AS (SELECT doc_id, is_new, $mhCols FROM hx GROUP BY 1, 2),
    bands AS ($bandSel),
    bandsb AS (SELECT doc_id, is_new, band, bkey,
                      count(*) OVER (PARTITION BY band, bkey) AS bc
               FROM bands),
    cand AS (SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_other,
                    b.is_new AS other_is_new
             FROM bandsb a JOIN bandsb b
               ON a.bkey = b.bkey AND a.band = b.band
              AND a.is_new AND a.bc <= ${graft.operators.Dedup.defaultMaxBandBucket}
              AND ((NOT b.is_new AND a.doc_id <> b.doc_id)
                   OR (b.is_new AND a.doc_id < b.doc_id))),
    ver AS (SELECT c.doc_new, c.doc_other, c.other_is_new,
                   len(list_intersect(sa.s, sb.s))::DOUBLE
                     / len(list_distinct(sa.s || sb.s)) AS j
            FROM cand c JOIN shs sa ON c.doc_new = sa.doc_id
                        JOIN shs sb ON c.doc_other = sb.doc_id)
    SELECT doc_new, doc_other, other_is_new, round(j, 6) AS jaccard
    FROM ver WHERE j >= 0.5 ORDER BY 1, 2"""
  }
  private val incMinhashSql: String = incMinhashSqlFor(incNewSources)

  val minhashInc = Q("dedup_incremental_minhash", Some(incMinhashSql))((s, d) =>
    Dedup.minhashLshIncremental(
      Tables.documentsP(s, d)
        .withColumn("is_new", col("source").isin(incNewSources: _*)),
      "doc_id", "text", "is_new",
      nHash = nHash, bandRows = bandRows, threshold = 0.5,
      // is_new derives from the carried source column — a projection
      // over the shared memoized table, identical to the inline chain
      sigTable = Some(sigTab(s, d)
        .withColumn("is_new", col("source").isin(incNewSources: _*))))
      .orderBy("doc_new", "doc_other"))

  // ------------------------------------- persisted signature store
  /** TRAIN/SERVE SPLIT of text dedup (the sig-store mirror of
    * `sim_index_persist_search`): the corpus signature table — shingle
    * sets + minhash signatures of every NON-shard document — is
    * WRITTEN once as Parquet (skip-if-exists, fingerprint-keyed with
    * every write-time parameter in the key), and incremental near-dup
    * of the src0–src3 "new shard" is served by
    * [[graft.operators.Dedup.searchMinhashSigStore]] reading ONLY the
    * persisted store plus the shard: the corpus side of this query's
    * Spark plan has NO raw-text lineage, which is the production shape
    * for continuous corpus ingest at 100 TB (one signature-extraction
    * job per corpus; every arriving shard checks against the store).
    * Row-identical to `dedup_incremental_minhash` by construction, so
    * the oracle is that query's full inline replay — passing the hash
    * gate proves the store round-trips the signature stage exactly. */
  val sigStoreServe = Q("dedup_sig_store_serve", Some(incMinhashSql),
    // the one-off store WRITE runs inside build (skip-if-exists) — the
    // plan/memo audit specs must not execute it as a side effect; the
    // serve-half PLAN is audited separately over a fixture store
    // (PlanAuditSpec "serve paths"), so splitting the flag costs no
    // audit coverage
    buildExecutes = true
  )((s, d) => {
    val isShard = col("source").isin(incNewSources: _*)
    // every write-time parameter in the fingerprint key (ngram=3 is
    // sigTab's), the shingle encoding included so a store of an earlier
    // encoding is never picked up, hashed with full md5 — the ivfpq-index
    // discipline
    val storeKey = graft.operators.Memo.corpusKey("sigstore", d) +
      s"/doc_id/text/3/$nHash/${Dedup.shingleEncoding}/not:${incNewSources.mkString(",")}"
    val storeDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_sig_store",
      new java.math.BigInteger(1, java.security.MessageDigest
        .getInstance("MD5").digest(storeKey.getBytes("UTF-8"))).toString(16))
    // skip-if-exists gate through the Hadoop FS API (StoreFs) — the
    // same filesystem the store is written with, so the gate keeps
    // working when storeDir is an hdfs:// / s3a:// URI in production
    if (!graft.operators.StoreFs.datasetComplete(s, s"$storeDir/meta"))
      Dedup.writeMinhashSigStore(
        Tables.documentsP(s, d).filter(!isShard), "doc_id", "text",
        storeDir.toString, ngram = 3, nHash = nHash,
        // projection of the memoized corpus table — the write job
        // re-derives nothing when the family already built it
        sigTable = Some(sigTab(s, d).filter(!isShard)))
    Dedup.searchMinhashSigStore(storeDir.toString,
        Tables.documentsP(s, d).filter(isShard), "doc_id", "text",
        bandRows = bandRows, threshold = 0.5)
      .orderBy("doc_new", "doc_other")
  })

  /** The FULL continuous-ingest lifecycle of the signature store: the
    * base corpus is written once, an ADMITTED shard (src0+src1) is
    * APPENDED ([[graft.operators.Dedup.appendMinhashSigStore]] — its
    * signatures land as an idempotent per-shard dataset under
    * sig_append/, no corpus rewrite), and the NEXT shard (src2+src3)
    * is served against store+appends — so each day's check sees every
    * previously admitted day. Corpus at serve time = all docs except
    * the probe shard, hence the oracle is the inline incremental
    * replay with is_new = src2+src3 over the whole table: passing the
    * hash gate proves the appended dataset is band- and
    * verify-identical to a store that had contained the shard from
    * the start. */
  private val appendShardSrcs = Seq("src0", "src1")
  private val probeShardSrcs = Seq("src2", "src3")

  val sigStoreAppend = Q("dedup_sig_store_append_serve",
    Some(incMinhashSqlFor(probeShardSrcs)),
    buildExecutes = true
  )((s, d) => {
    val docs = Tables.documentsP(s, d)
    val isAppend = col("source").isin(appendShardSrcs: _*)
    val isProbe = col("source").isin(probeShardSrcs: _*)
    // a SEPARATE store from dedup_sig_store_serve's (different base
    // corpus → different fingerprint key): base = everything except
    // the two shards
    val storeKey = graft.operators.Memo.corpusKey("sigstore-app", d) +
      s"/doc_id/text/3/$nHash/${Dedup.shingleEncoding}/base-not:${(appendShardSrcs ++ probeShardSrcs).mkString(",")}"
    val storeDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_sig_store",
      new java.math.BigInteger(1, java.security.MessageDigest
        .getInstance("MD5").digest(storeKey.getBytes("UTF-8"))).toString(16))
    if (!graft.operators.StoreFs.datasetComplete(s, s"$storeDir/meta"))
      Dedup.writeMinhashSigStore(
        docs.filter(!isAppend && !isProbe), "doc_id", "text",
        storeDir.toString, ngram = 3, nHash = nHash,
        sigTable = Some(sigTab(s, d).filter(!isAppend && !isProbe)))
    // admit day 1: idempotent per-shard append (staged + promoted into
    // its own sig_append/<shardId> dataset — re-running replaces,
    // never dups). Gated on ADMISSION (appended OR compaction-folded),
    // not on the append dataset alone: after a compaction the dataset
    // is gone but the shard is still in the corpus, and re-appending
    // it would duplicate its rows
    if (!Dedup.minhashShardAdmitted(s, storeDir.toString, "day1"))
      Dedup.appendMinhashSigStore(storeDir.toString,
        docs.filter(isAppend), "doc_id", "text", shardId = "day1")
    // check day 2 against base + day 1
    Dedup.searchMinhashSigStore(storeDir.toString,
        docs.filter(isProbe), "doc_id", "text",
        bandRows = bandRows, threshold = 0.5)
      .orderBy("doc_new", "doc_other")
  })

  /** The MAINTENANCE step of the signature-store lifecycle: base
    * written once, day-1 shard appended, then
    * [[graft.operators.Dedup.compactMinhashSigStore]] folds the append
    * into `sig/` (write-beside + marker-bracketed promote + the
    * folded-shard ledger), and day 2 is served against the COMPACTED
    * store. The oracle is the same inline incremental replay as
    * `dedup_sig_store_append_serve` — by construction compaction only
    * moves rows from the append side of the serve union into the base,
    * so passing the hash gate proves the fold is serve-invisible: same
    * bands, same verify, same rows. Re-runs are idempotent end to end:
    * the store exists (skip write), day1 stays admitted through the
    * ledger (skip append — re-appending a folded shard would duplicate
    * it, the bug [[graft.operators.Dedup.minhashShardAdmitted]]
    * exists to prevent), and compaction with no appends is a no-op. */
  val sigStoreCompact = Q("dedup_sig_store_compact_serve",
    Some(incMinhashSqlFor(probeShardSrcs)),
    buildExecutes = true
  )((s, d) => {
    val docs = Tables.documentsP(s, d)
    val isAppend = col("source").isin(appendShardSrcs: _*)
    val isProbe = col("source").isin(probeShardSrcs: _*)
    // a store of its OWN (compaction mutates the layout in place; the
    // append-serve query's store must keep its sig_append/ form)
    val storeKey = graft.operators.Memo.corpusKey("sigstore-cmp", d) +
      s"/doc_id/text/3/$nHash/${Dedup.shingleEncoding}/base-not:${(appendShardSrcs ++ probeShardSrcs).mkString(",")}"
    val storeDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_sig_store",
      new java.math.BigInteger(1, java.security.MessageDigest
        .getInstance("MD5").digest(storeKey.getBytes("UTF-8"))).toString(16))
    if (!graft.operators.StoreFs.datasetComplete(s, s"$storeDir/meta"))
      Dedup.writeMinhashSigStore(
        docs.filter(!isAppend && !isProbe), "doc_id", "text",
        storeDir.toString, ngram = 3, nHash = nHash,
        sigTable = Some(sigTab(s, d).filter(!isAppend && !isProbe)))
    if (!Dedup.minhashShardAdmitted(s, storeDir.toString, "day1"))
      Dedup.appendMinhashSigStore(storeDir.toString,
        docs.filter(isAppend), "doc_id", "text", shardId = "day1")
    // fold day 1 into the base (no-op when already folded)
    Dedup.compactMinhashSigStore(s, storeDir.toString)
    Dedup.searchMinhashSigStore(storeDir.toString,
        docs.filter(isProbe), "doc_id", "text",
        bandRows = bandRows, threshold = 0.5)
      .orderBy("doc_new", "doc_other")
  })

  // ------------------------------------------------------------ SimHash
  /** Weighted 32-bit SimHash — operators.Dedup.simhash (observed-
    * population bucket width with two-sided single-bit multi-probe and
    * canonical-meeting single emission, Hamming ≤ 2). The oracle
    * replays the width rule exactly (28-bit population histogram → max
    * population per candidate width → narrowest width in [16, 28] with
    * max ≤ 256, else 28), then the probes, the bucket population cap
    * and the canonical-meeting predicate — bit-exact at ANY corpus
    * size, including one where a degenerate flood trips the cap. */
  private def simhashDuck = {
    val bitSum = (0 until 32).map { b =>
      s"sum(CASE WHEN (strpos('0123456789abcdef', h[${b / 4 + 1}]) - 1) // ${Seq(8, 4, 2, 1)(b % 4)} % 2 = 1 THEN cnt ELSE -cnt END) AS b$b"
    }.mkString(", ")
    val hashVal = (0 until 32).map(b => s"(CASE WHEN b$b >= 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    tc AS (SELECT doc_id, t, count(*)::BIGINT AS cnt FROM tok GROUP BY 1, 2),
    th AS (SELECT doc_id, cnt, string_split(substr(md5(t), 1, 8), '') AS h FROM tc),
    bits AS (SELECT doc_id, $bitSum FROM th GROUP BY 1),
    sh AS (SELECT doc_id, $hashVal AS simhash FROM bits)"""
  }

  val simhash = Q("dedup_simhash", Some(s"""
    ${simhashDuck},
    h28 AS (SELECT simhash // 16 AS b28, count(*) AS pop FROM sh GROUP BY 1),
    wx AS (SELECT t.w AS w, b28 // CAST(pow(2, 28 - t.w) AS BIGINT) AS bkt, sum(pop) AS bpop
           FROM h28, LATERAL unnest(generate_series(16, 28)) AS t(w) GROUP BY 1, 2),
    wm AS (SELECT w, max(bpop) AS maxpop FROM wx GROUP BY 1),
    wsel AS (SELECT coalesce(min(CASE WHEN maxpop <= 256 THEN w END), 28) AS bw FROM wm),
    pr AS (SELECT doc_id, simhash, simhash // CAST(pow(2, 32 - bw) AS BIGINT) AS base,
                  unnest([simhash // CAST(pow(2, 32 - bw) AS BIGINT)] ||
                         [xor(simhash // CAST(pow(2, 32 - bw) AS BIGINT), CAST(pow(2, k) AS BIGINT))
                          for k in generate_series(0, bw - 1)]) AS bucket
           FROM sh, wsel),
    prc AS (SELECT *, count(*) OVER (PARTITION BY bucket) AS bc FROM pr),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM prc a JOIN pr b
            ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           AND a.bc <= ${graft.operators.Dedup.defaultMaxBandBucket}
           AND ((bit_count(xor(a.base, b.base)) <= 1 AND a.bucket = a.base)
                OR (bit_count(xor(a.base, b.base)) = 2
                    AND xor(a.bucket, a.base)
                          = xor(a.base, b.base) & (-xor(a.base, b.base)))))
    SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 2 ORDER BY 1, 2"""
  ))((s, d) =>
    Dedup.simhash(Tables.documents(s, d), "doc_id", "text", maxHamming = 2,
      sigTable = Some(Dedup.simhashSigTable(Tables.documents(s, d),
        "doc_id", "text",
        memoKey = Some(graft.operators.Memo.corpusKey("sh", d)))))
      .orderBy("doc_a", "doc_b"))

  // ------------------------------------------------ blocked n-gram Jaccard
  /** Blocked n-gram Jaccard — operators.Dedup.ngramJaccard over
    * (lang, length-bucket) blocks, J ≥ 0.8. Inverted-index candidate
    * generation: Σ df² join output instead of Σ block² (the naive block
    * self-join measured 74 s at sf0.1 — 47 % of the whole bench). */
  val ngramJaccard = Q("dedup_ngram_jaccard", Some(s"""
    WITH w AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
                      string_split(text, ' ') AS w
               FROM documents WHERE len(string_split(text, ' ')) >= 3),
    shs AS (SELECT doc_id, lang, n_tok // 40 AS lb, $shinglesSqlDuck AS s FROM w),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)) AS j
          FROM shs a JOIN shs b
            ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM p WHERE j >= 0.8 ORDER BY 1, 2"""
  ))((s, d) =>
    // the (lang, lb) blocking recovered from the coarser lang-blocked
    // shared stats: lb is per-document (carried as lb_a/lb_b), so the
    // finer block is exactly the lb_a == lb_b row filter — and the
    // C >= 0.8 prefilter is lossless here because J <= C. The docs
    // frame carries lb so the no-pairStats inline fallback stays live
    // (the projection is lazy and unexecuted on the stats path).
    Dedup.ngramJaccard(
      Tables.documentsP(s, d).withColumn("lb",
        (size(split(col("text"), " ")).cast("long").divide(lit(40))).cast("long")),
      "doc_id", "text", blockCols = Seq("lang", "lb"), threshold = 0.8,
      pairStats = Some(ngPairs(s, d).filter(col("lb_a") === col("lb_b"))))
      .orderBy("doc_a", "doc_b"))

  // ------------------------------------------------ n-gram containment
  /** Directional shingle CONTAINMENT — operators.Dedup.ngramContainment
    * over language blocks, C = inter/min(nA,nB) ≥ 0.8: the quote-
    * inclusion / page-plus-boilerplate near-dup class Jaccard's union
    * normalization hides (a doc wholly inside a 10× longer one is
    * J ≈ 0.1 but C = 1). Blocks deliberately DROP the length band the
    * Jaccard query uses — contained doc and superset land in different
    * bands by construction. Same inverted-index candidate stage; the
    * oracle uses the result-identical all-pairs-in-block form (a pair
    * with C ≥ 0.8 > 0 shares a shingle, so the index join surfaces
    * it). */
  val ngramContain = Q("dedup_ngram_containment", Some(s"""
    WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w
               FROM documents WHERE len(string_split(text, ' ')) >= 3),
    shs AS (SELECT doc_id, lang, $shinglesSqlDuck AS s FROM w),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(a.s) AS na, len(b.s) AS nb,
                 len(list_intersect(a.s, b.s)) AS inter
          FROM shs a JOIN shs b ON a.lang = b.lang AND a.doc_id < b.doc_id),
    f AS (SELECT CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
                      THEN doc_a ELSE doc_b END AS doc_sub,
                 CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
                      THEN doc_b ELSE doc_a END AS doc_sup,
                 inter::DOUBLE / least(na, nb) AS c,
                 inter::DOUBLE / (na + nb - inter) AS j
          FROM p)
    SELECT doc_sub, doc_sup, round(c, 6) AS containment, round(j, 6) AS jaccard
    FROM f WHERE c >= 0.8 ORDER BY 1, 2"""
  ))((s, d) =>
    Dedup.ngramContainment(Tables.documentsP(s, d), "doc_id", "text",
        blockCols = Seq("lang"), threshold = 0.8,
        pairStats = Some(ngPairs(s, d)))
      .orderBy("doc_sub", "doc_sup"))

  // ---------------------------------------------- embedding near-dup
  private[queries] def duckDot(x: String, y: String) =
    "(0" + (1 to 64).map(i => s" + ($x[$i] * $y[$i])").mkString + ")"

  private[queries] def cosD(x: String, y: String) =
    s"""${duckDot(x, y)} /
       (sqrt(${duckDot(x, x)}) * sqrt(${duckDot(y, y)}))"""

  private val cosDuck = cosD("a.v", "b.v")

  /** Embedding-cosine near-dup, (label, IVF-cell)-blocked, cosine ≥ 0.35
    * — operators.Dedup.embeddingNearDup. The former within-label
    * all-pairs join was the repo's one remaining quadratic scale-killer;
    * the seeded quantizer with 4-way multi-probe bounds the join
    * fan-out and (measured) still finds every τ-pair at all three test
    * scales. The oracle replays centroid pick, assignment ranks and the
    * blocked join with the identical unrolled arithmetic — INCLUDING
    * the data-driven cell count: its `rn <= greatest(8, ceil(nv/256))`
    * mirrors `Similarity.autoCellCount(n, 8, 256)` term for term
    * (asserted for all committed fixture sizes in LibraryOpsSpec), so
    * the replay stays bit-exact at ANY corpus size, not just while the
    * fixture sits under 2048 rows. */
  private val dupNList = 8
  private val dupNProbe = 4
  private val dupSeed = 1337L

  val embedNearDup = Q("dedup_embedding_cosine", Some(s"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT cent_id, cv FROM (
               SELECT vec_id AS cent_id, v AS cv,
                      row_number() OVER (ORDER BY
                        ${graft.functions.Deterministic.hrandSql("vec_id", dupSeed)},
                        vec_id) AS rn,
                      count(*) OVER () AS nv
               FROM e)
             WHERE rn <= greatest($dupNList,
               CAST(ceil(nv / 256.0) AS BIGINT))),
    ac AS (SELECT e.vec_id, e.label, e.v, cent.cent_id, round(${cosD("e.v", "cent.cv")}, 6) AS c
           FROM e CROSS JOIN cent),
    ec AS (SELECT vec_id, label, v, cent_id AS cell FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM ac)
           WHERE rn <= $dupNProbe),
    p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $cosDuck AS c
          FROM ec a JOIN ec b
            ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id)
    SELECT DISTINCT vec_a, vec_b, round(c, 6) AS cos FROM p WHERE c >= 0.35 ORDER BY 1, 2"""
  ))((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"), col("embedding").as("v"))
    Dedup.embeddingNearDup(e, "vec_id", "v", blockCols = Seq("label"),
      threshold = 0.35, nList = dupNList, nProbe = dupNProbe, seed = dupSeed,
      numVectors = Some(Tables.rowCount(s, d, "embeddings")))
      .orderBy("vec_a", "vec_b")
  })

  // ------------------------------------------------- brute-force ANN
  /** Brute-force cosine top-3 for the fixed query set (vec_id < 8) —
    * operators.Similarity.bruteTopK, the exactness baseline for the
    * bucketed paths. */
  val annTopk = Q("sim_cosine_topk", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
    sc AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, round($cosDuck, 6) AS c
           FROM q a JOIN e b ON a.vec_id <> b.vec_id),
    r AS (SELECT query_id, cand_id, c,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rk
          FROM sc)
    SELECT query_id, rk, cand_id, c AS cos FROM r WHERE rk <= 3 ORDER BY 1, 2"""
  ), headline = true)((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    Similarity.bruteTopK(e, e.filter(col("vec_id") < 8), "vec_id", "v", k = 3)
      .orderBy("query_id", "rk")
  })

  // --------------------------------------- contrastive pair mining
  /** Training-pair mining for embedding-model fine-tuning —
    * operators.Similarity.contrastivePairs: per query, the top-3
    * most-similar SAME-label vectors (positives) and the top-3
    * most-similar WRONG-label vectors (hard negatives — the
    * high-cosine confusions a contrastive loss learns most from).
    * Same brute scoring pass as sim_cosine_topk with the label split
    * as a column; at corpus scale the candidate generation swaps to
    * the IVF/PQ paths, ranking unchanged. */
  val hardNeg = Q("sim_hard_negatives", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    sc AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                  a.label AS label_q, b.label AS label_c,
                  CASE WHEN a.label = b.label THEN 'pos' ELSE 'neg' END AS kind,
                  round($cosDuck, 6) AS cos
           FROM e a JOIN e b ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id, kind
                                       ORDER BY cos DESC, cand_id) AS rk
          FROM sc)
    SELECT query_id, kind, rk, cand_id, cos, label_q, label_c
    FROM r WHERE (kind = 'pos' AND rk <= 3) OR (kind = 'neg' AND rk <= 3)
    ORDER BY query_id, kind, rk"""
  ))((s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
    Similarity.contrastivePairs(e, e.filter(col("vec_id") < 8),
        "vec_id", "v", "label", kPos = 3, kNeg = 3)
      .orderBy("query_id", "kind", "rk")
  })

  // ------------------------------------------------- LSH-bucketed ANN
  /** Scale path 1: 8-bit random-hyperplane bucket —
    * operators.Similarity.lshBucket — then top-1 within the query's
    * bucket, with the per-query candidate count for recall visibility. */
  private val nBits = 8

  // Same unrolled ±-chain as Similarity.lshBucket, sign sequence from
  // the shared LCG (Similarity.lshSign) — buckets bit-identical across
  // engines.
  private val bucketDuck = {
    val bits = (0 until nBits).map { j =>
      val proj = "0" + (1 to 64).map { i =>
        val op = if (Similarity.lshSign(j, i) > 0) "+" else "-"
        s" $op v[$i]"
      }.mkString
      s"(CASE WHEN ($proj) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    s"($bits)"
  }

  val annLsh = Q("sim_ann_lsh_bucket", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bk AS (SELECT vec_id, v, $bucketDuck AS bucket FROM e),
    q AS (SELECT * FROM bk WHERE vec_id < 8),
    sc AS (SELECT a.vec_id AS query_id, a.bucket, b.vec_id AS cand_id, round($cosDuck, 6) AS c
           FROM q a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    r AS (SELECT query_id, bucket, count(*) OVER (PARTITION BY query_id) AS n_cand, cand_id, c,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rk
          FROM sc)
    SELECT query_id, bucket, n_cand, cand_id AS top1_id, c AS top1_cos
    FROM r WHERE rk = 1 ORDER BY 1"""
  ))((s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val bk = e.withColumn("bucket", Similarity.lshBucket("v", nBits))
    val q = bk.filter(col("vec_id") < 8)
    val sc = broadcast(q).as("a").join(bk.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("a.bucket").as("bucket"),
        col("b.vec_id").as("cand_id"),
        round(Similarity.cosine("a.v", "b.v"), 6).as("c"))
    val wN = Window.partitionBy("query_id")
    val wR = Window.partitionBy("query_id").orderBy(col("c").desc, col("cand_id"))
    sc.withColumn("n_cand", count(lit(1)).over(wN))
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("bucket"), col("n_cand"),
        col("cand_id").as("top1_id"), col("c").as("top1_cos"))
      .orderBy("query_id")
  })

  // ----------------------------------------------------- IVF ANN
  /** Scale path 2: IVF with a seeded coarse quantizer —
    * operators.Similarity.ivfTopK (nlist=16, nprobe=2). */
  private val nList = 16
  private val nProbe = 2
  private val ivfSeed = 2024L

  val annIvf = Q("sim_ann_ivf", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, v AS cv FROM e
             ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", ivfSeed)}, vec_id
             LIMIT $nList),
    ac AS (SELECT e.vec_id, cent.cent_id, round(${cosD("e.v", "cent.cv")}, 6) AS c
           FROM e CROSS JOIN cent),
    asg AS (SELECT vec_id, cent_id, c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
            FROM ac),
    a1 AS (SELECT vec_id AS cand_id, cent_id FROM asg WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cent_id FROM asg WHERE rn <= $nProbe AND vec_id < 8),
    cand AS (SELECT p.query_id, a.cand_id FROM probes p
             JOIN a1 a ON p.cent_id = a.cent_id AND a.cand_id <> p.query_id),
    sc AS (SELECT c.query_id, c.cand_id, round(${cosD("q.v", "x.v")}, 6) AS cs
           FROM cand c JOIN e q ON c.query_id = q.vec_id
                       JOIN e x ON c.cand_id = x.vec_id),
    r AS (SELECT query_id, cand_id, cs,
                 row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, cand_id) AS rk
          FROM sc)
    SELECT query_id, rk, cand_id, cs AS cos FROM r WHERE rk <= 3 ORDER BY 1, 2"""
  ))((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), "vec_id", "v",
      k = 3, nList = nList, nProbe = nProbe, seed = ivfSeed,
      numVectors = Some(Tables.rowCount(s, d, "embeddings")))
      .orderBy("query_id", "rk")
  })

  // ------------------------------------------------- curation funnel
  /** The end-to-end training-data curation pipeline as ONE query —
    * quality gate → exact dedup (keep min doc per content hash) →
    * near-dup removal (keep min doc of each minhash cluster among
    * survivors) — reported as a per-stage funnel (docs, token mass).
    * Every stage is the corresponding library operator
    * (TextOps.qualityFilter, content-hash groupBy,
    * Dedup.minhashLsh + connectedComponents); the oracle replays the
    * shared pair + recursive-closure CTEs plus the same rule battery.
    * Thresholds mirror `text_quality_filter`; cluster keep-min is
    * computed among stage-2 survivors (a cluster whose min member was
    * quality-dropped keeps its smallest surviving member). */
  val funnel = Q("pipeline_curation_funnel", Some(s"""
    WITH RECURSIVE $minhashPairsCte,
    $ccLabelsCte,
    qm AS (SELECT doc_id, text, len(string_split(text, ' ')) AS n_tok,
                  (length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
                    / len(string_split(text, ' ')) AS mean_wlen,
                  len(list_filter(string_split(text, ' '),
                      w -> w IN ('the','a','and','of','to'))) AS n_stop,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE
                    / len(string_split(text, ' ')) AS distinct_ratio
           FROM documents),
    s1 AS (SELECT doc_id, text, n_tok FROM qm
           WHERE NOT (n_tok < 20 OR n_tok > 90 OR mean_wlen < 4.0
                      OR mean_wlen > 12.0 OR n_stop < 1 OR distinct_ratio < 0.3)),
    k2 AS (SELECT md5(text) AS th, min(doc_id) AS keep_id FROM s1 GROUP BY 1),
    s2 AS (SELECT s1.doc_id, s1.n_tok FROM s1
           JOIN k2 ON md5(s1.text) = k2.th AND s1.doc_id = k2.keep_id),
    lbl AS (SELECT s2.doc_id, s2.n_tok, coalesce(c.comp, s2.doc_id) AS comp
            FROM s2 LEFT JOIN compt c ON s2.doc_id = c.doc_id),
    k3 AS (SELECT comp, min(doc_id) AS keep3 FROM lbl GROUP BY 1),
    s3 AS (SELECT lbl.doc_id, lbl.n_tok FROM lbl
           JOIN k3 ON lbl.comp = k3.comp AND lbl.doc_id = k3.keep3)
    SELECT * FROM (
      SELECT '0_raw' AS stage, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      FROM documents
      UNION ALL SELECT '1_quality', count(*), CAST(sum(n_tok) AS BIGINT) FROM s1
      UNION ALL SELECT '2_exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM s2
      UNION ALL SELECT '3_near_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM s3
    ) ORDER BY stage"""
  ))((s, d) => {
    import org.apache.spark.sql.DataFrame
    val docs = Tables.documentsP(s, d)
    val q = graft.operators.TextOps.qualityFilter(docs, "text",
      minTokens = 20, maxTokens = 90, minMeanWlen = 4.0, maxMeanWlen = 12.0,
      minStopwords = 1, minDistinctRatio = 0.3)
    // The four funnel branches union into ONE job, and each later stage
    // builds on the earlier ones — without persists the quality scan
    // and the dedup joins would be recomputed once per branch (measured
    // 5.4 s vs 2.4 s at sf0.1). ONE text pass serves all stages (r14):
    // the raw-token stage, the quality gate and the content hash come
    // out of the same scan — the earlier survivor-only persist paid a
    // SECOND full tokenize scan for the raw branch (md5 on the
    // quality-dropped docs is far cheaper than re-splitting every
    // text). Persisted frames are narrow (≤ 50 B/doc), scope-released.
    val q0 = graft.operators.CacheScope.persist(
      q.select(col("doc_id"), col("n_tok"), col("keep"),
        md5(encode(col("text"), "UTF-8")).as("th")))
    val th = q0.filter(col("keep")).select("doc_id", "n_tok", "th")
    val k2 = th.groupBy("th").agg(min("doc_id").as("keep_id"))
      .withColumnRenamed("th", "th2")
    val s2 = th.join(k2, col("th") === col("th2") && col("doc_id") === col("keep_id"))
      .select("doc_id", "n_tok")
    val lbl = graft.operators.CacheScope.persist(
      s2.join(
          mhCc(s, d)
            .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .withColumn("comp", coalesce(col("comp"), col("doc_id"))))
    val k3 = lbl.groupBy("comp").agg(min("doc_id").as("keep3"))
      .withColumnRenamed("comp", "comp2")
    val s3 = lbl.join(k3, col("comp") === col("comp2") && col("doc_id") === col("keep3"))
      .select("doc_id", "n_tok")
    def stage(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("total_tokens"))
    stage("0_raw", q0.select("n_tok"))
      .unionAll(stage("1_quality", th.select("n_tok")))
      .unionAll(stage("2_exact_dedup", s2.select("n_tok")))
      .unionAll(stage("3_near_dedup", s3.select("n_tok")))
      .orderBy("stage")
  })

  // ----------------------------------------------------------- k-means
  /** Seeded Lloyd k-means, 2 fixed iterations — operators.Similarity
    * .kmeans — reported as per-cell occupancy (count, min member, mean
    * member→centroid cosine). The oracle unrolls both iterations as
    * CTEs: assignment = row_number over the same (rounded cosine DESC,
    * cent_id) order topCells ranks by; centroid update = the same
    * DECIMAL(28,9) order-independent component means. Cells that lose
    * all members drop out on both sides by join semantics. */
  private val kmK = 8
  private val kmSeed = 4242L
  private val kmDim = 64

  /** Oracle twin of the registry kmeans chain (k=[[kmK]], 2 iterations,
    * seed [[kmSeed]]): CTE list from `e` through the final all-centroid
    * assignment frame `r3` (vec_id, v, cent_id, c, rn — rn=1 is the
    * assigned cell, rn=2 the best alternative) with `asg3` = the rn=1
    * slice. Shared by `sim_kmeans_cells` and `sim_kmeans_silhouette`. */
  private val kmeansChainCte = {
    def assignCte(centCte: String, n: Int) = s"""
    ac$n AS (SELECT e.vec_id, e.v, c.cent_id, round(${cosD("e.v", "c.cv")}, 6) AS c
             FROM e CROSS JOIN $centCte c),
    r$n AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
            FROM ac$n),
    asg$n AS (SELECT vec_id, v, cent_id AS cell, c FROM r$n WHERE rn = 1)"""
    def updateCte(n: Int) = s"""
    u$n AS (SELECT cell AS cent_id, i, CAST(SUM(CAST(v[i] AS DECIMAL(28,9))) AS DOUBLE)
                   / count(*) AS m
            FROM asg$n, LATERAL unnest(generate_series(1, $kmDim)) AS t(i)
            GROUP BY 1, 2),
    c$n AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM u$n GROUP BY 1)"""
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
           ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", kmSeed)}, vec_id
           LIMIT $kmK),
    ${assignCte("c0", 1)},
    ${updateCte(1)},
    ${assignCte("c1", 2)},
    ${updateCte(2)},
    ${assignCte("c2", 3)}"""
  }

  val kmeansCells = Q("sim_kmeans_cells", Some(s"""
    WITH $kmeansChainCte
    SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec,
           round(CAST(SUM(CAST(c AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_cos
    FROM asg3 GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    import graft.functions.Deterministic.stableSum
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    Similarity.kmeans(e, "vec_id", "v", k = kmK, iters = 2, seed = kmSeed,
        memoKey = Some(graft.operators.Memo.corpusKey("km", d)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec"),
        round(stableSum(col("cos"), 6) / count(lit(1)), 6).as("mean_cos"))
      .orderBy("cell")
  })

  // ------------------------------------------- clustering silhouette
  /** Per-cell centroid silhouette of the registry kmeans clustering —
    * operators.Similarity.kmeansSilhouette: a = cosine distance to own
    * centroid, b = to the best other, s = (b−a)/max(a,b), rolled up
    * per cell (n, mean, min) — the acceptance metric for every
    * cell-trusting operator downstream (semantic dedup, IVF probing,
    * cluster-balanced sampling). Same memo key as `sim_kmeans_cells`,
    * so the trained chain is shared; the scoring pass itself is one
    * top-2 probe against the broadcast centroid array (no window, no
    * n×k frame). The oracle reads BOTH distances off the shared
    * chain's r3 rank frame (rn=1 own, rn=2 alternative); a/b/s are
    * IEEE-identical arithmetic on the 6-dp-rounded cosines, and the
    * per-cell mean rides the DECIMAL stable-sum. */
  val kmeansSil = Q("sim_kmeans_silhouette", Some(s"""
    WITH $kmeansChainCte,
    own AS (SELECT vec_id, cent_id AS cell, 1.0 - c AS a FROM r3 WHERE rn = 1),
    alt AS (SELECT vec_id, 1.0 - c AS b FROM r3 WHERE rn = 2),
    sil AS (SELECT o.cell,
                   CASE WHEN al.b IS NULL OR greatest(o.a, al.b) = 0.0 THEN 0.0
                        ELSE round((al.b - o.a) / greatest(o.a, al.b), 6) END AS s
            FROM own o LEFT JOIN alt al USING (vec_id))
    SELECT cell, count(*) AS n_vecs,
           round(CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_sil,
           min(s) AS min_sil
    FROM sil GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    import graft.functions.Deterministic.stableSum
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    Similarity.kmeansSilhouette(e, "vec_id", "v", k = kmK, iters = 2,
        seed = kmSeed, memoKey = Some(graft.operators.Memo.corpusKey("km", d)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        round(stableSum(col("sil"), 6) / count(lit(1)), 6).as("mean_sil"),
        min("sil").as("min_sil"))
      .orderBy("cell")
  })

  // ------------------------------------------- int8 scalar quantization
  /** Embedding-compression fidelity — operators.Similarity
    * .scalarQuantError: per-dimension symmetric int8 quantization
    * (scale_d = max|x_d|/127 over the corpus) and the reconstruction
    * fidelity that decides whether ANN recall survives the 4× cut,
    * rolled up per label. All per-vector sums ride the DECIMAL
    * stable-sum (scale 12) so the doubles are accumulation-order
    * invariant; the quantize chain (max, /127, round-half-up at 0 dp,
    * clamp, multiply) evaluates the identical IEEE tree on both
    * engines. */
  val scalarQuant = Q("sim_scalar_quant", Some(s"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (SELECT vec_id, label, i - 1 AS d, v[i] AS x
           FROM e, LATERAL unnest(generate_series(1, $kmDim)) AS t(i)),
    sc AS (SELECT d, max(abs(x)) / 127.0 AS scale FROM ex GROUP BY 1),
    r AS (SELECT vec_id, label, x,
                 CASE WHEN scale = 0 THEN 0.0
                      ELSE least(greatest(round(x / scale, 0), -127.0), 127.0) * scale
                 END AS rec
          FROM ex JOIN sc USING (d)),
    p AS (SELECT vec_id, label,
                 CAST(SUM(CAST((x - rec) * (x - rec) AS DECIMAL(28,12))) AS DOUBLE)
                   / $kmDim AS mse,
                 max(abs(x - rec)) AS mae,
                 CAST(SUM(CAST(x * rec AS DECIMAL(28,12))) AS DOUBLE) AS xr,
                 CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS xx,
                 CAST(SUM(CAST(rec * rec AS DECIMAL(28,12))) AS DOUBLE) AS rr
          FROM r GROUP BY 1, 2),
    f AS (SELECT label, mse, mae,
                 CASE WHEN xx = 0 OR rr = 0 THEN 0.0
                      ELSE xr / (sqrt(xx) * sqrt(rr)) END AS cosr
          FROM p)
    SELECT label, count(*) AS n_vecs,
           round(CAST(SUM(CAST(mse AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9) AS avg_mse,
           round(max(mae), 6) AS max_abs_err,
           round(CAST(SUM(CAST(cosr AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9) AS avg_cos
    FROM f GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    import graft.functions.Deterministic.stableSum
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    Similarity.scalarQuantError(e, "vec_id", "v", carry = Seq("label"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(stableSum(col("mse"), 12) / count(lit(1)), 9).as("avg_mse"),
        round(max(col("max_abs_err")), 6).as("max_abs_err"),
        round(stableSum(col("cos_recon"), 12) / count(lit(1)), 9).as("avg_cos"))
      .orderBy("label")
  })

  // ------------------------------------------- product quantization
  /** PQ compression fidelity — operators.Similarity.pqCosError: 64-dim
    * vectors → 8 sub-spaces × 16 codewords (float32 256 B → 8 B codes),
    * codebooks TRAINED by 2 Lloyd iterations from the seeded picks
    * (the kmeans assign/update passes, per subspace), reported per
    * label as the cosine between each vector and its codeword
    * concatenation. The oracle replays the seeded codebook, both
    * unrolled training iterations (per-subspace assignment by rounded
    * cosine DESC/cent_id, DECIMAL(28,9) component means — the kmeans
    * oracle discipline), the final assignment, and the decimal-stable
    * dot sums, all on sliced sub-vector lists (equal to the engine's
    * slices). */
  private val pqM = 8
  private val pqSub = kmDim / pqM
  private val pqK = 16
  private val pqSeed = 77L
  private val pqIters = 2

  val pqError = Q("sim_pq_error", Some {
    // per-subspace slice of the full vector: elements j·sub+1 .. (j+1)·sub
    def dotS(x: String, y: String) =
      "(0" + (1 to pqSub).map(i => s" + ($x[$i] * $y[$i])").mkString + ")"
    def cosS(x: String, y: String) =
      s"${dotS(x, y)} / (sqrt(${dotS(x, x)}) * sqrt(${dotS(y, y)}))"
    def assignCte(cbCte: String, n: Int) = s"""
    ac$n AS (SELECT ex.vec_id, ex.label, ex.j, ex.vj, cb.cent_id,
                    round(${cosS("ex.vj", "cb.cv")}, 6) AS c
             FROM ex JOIN $cbCte cb USING (j)),
    r$n AS (SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY c DESC, cent_id) AS rn
            FROM ac$n),
    asg$n AS (SELECT vec_id, label, j, vj, cent_id FROM r$n WHERE rn = 1)"""
    def updateCte(n: Int) = s"""
    u$n AS (SELECT j, cent_id, i, CAST(SUM(CAST(vj[i] AS DECIMAL(28,9))) AS DOUBLE)
                   / count(*) AS mn
            FROM asg$n, LATERAL unnest(generate_series(1, $pqSub)) AS t(i)
            GROUP BY 1, 2, 3),
    cb$n AS (SELECT j, cent_id, list(mn ORDER BY i) AS cv FROM u$n GROUP BY 1, 2)"""
    s"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, v AS cv0 FROM e
             ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", pqSeed)}, vec_id
             LIMIT $pqK),
    cb0 AS (SELECT t.j, cent_id, cv0[t.j * $pqSub + 1 : (t.j + 1) * $pqSub] AS cv
            FROM cent, LATERAL unnest(generate_series(0, ${pqM - 1})) AS t(j)),
    ex AS (SELECT vec_id, label, t.j, v[t.j * $pqSub + 1 : (t.j + 1) * $pqSub] AS vj
           FROM e, LATERAL unnest(generate_series(0, ${pqM - 1})) AS t(j)),
    ${assignCte("cb0", 1)},
    ${updateCte(1)},
    ${assignCte("cb1", 2)},
    ${updateCte(2)},
    ${assignCte("cb2", 3)},
    d AS (SELECT a.vec_id, a.label,
                 ${dotS("a.vj", "cb.cv")} AS xr,
                 ${dotS("a.vj", "a.vj")} AS xx,
                 ${dotS("cb.cv", "cb.cv")} AS rr
          FROM asg3 a JOIN cb2 cb USING (j, cent_id)),
    p AS (SELECT vec_id, label,
                 CAST(SUM(CAST(xr AS DECIMAL(28,12))) AS DOUBLE) AS sxr,
                 CAST(SUM(CAST(xx AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(rr AS DECIMAL(28,12))) AS DOUBLE) AS srr
          FROM d GROUP BY 1, 2),
    f AS (SELECT label,
                 CASE WHEN sxx = 0 OR srr = 0 THEN 0.0
                      ELSE sxr / (sqrt(sxx) * sqrt(srr)) END AS cosr
          FROM p)
    SELECT label, count(*) AS n_vecs,
           round(CAST(SUM(CAST(cosr AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9) AS avg_pq_cos,
           round(min(cosr), 9) AS min_pq_cos
    FROM f GROUP BY 1 ORDER BY 1"""
  })((s, d) => {
    import graft.functions.Deterministic.stableSum
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    // memoKey: sim_pq_error and sim_pq_adc_topk train the same seeded
    // codebooks on the same corpus — the session memo makes the second
    // query (and every bench rep) reuse the trained chain instead of
    // re-paying it (r8's one weak item). Keyed by the source dir: the
    // corpus identity.
    Similarity.pqCosError(e, "vec_id", "v", dim = kmDim, m = pqM,
        kCodes = pqK, seed = pqSeed, iters = pqIters, carry = Seq("label"),
        memoKey = Some(graft.operators.Memo.corpusKey("pq", d)))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(stableSum(col("cos_pq"), 12) / count(lit(1)), 9).as("avg_pq_cos"),
        round(min(col("cos_pq")), 9).as("min_pq_cos"))
      .orderBy("label")
  })

  // ------------------------------------------------- ADC top-k search
  /** ADC (asymmetric-distance) top-k on PQ codes —
    * operators.Similarity.pqAdcTopK: the corpus exists only as
    * per-subspace codeword ids (the [[pqError]] compression, 1 Lloyd
    * iteration here to halve the unrolled oracle), the fixed query set
    * (vec_id < 8) keeps full precision, and candidates rank by cosine
    * against their codeword reconstruction. The oracle replays
    * training, encoding, the DECIMAL(28,12) partial-dot sums, the
    * unrolled full-width query norm, and the (cos DESC, cand_id)
    * row_number — bit-exact across engines. */
  private val adcIters = 1

  val adcTopk = Q("sim_pq_adc_topk", Some {
    def dotS(x: String, y: String) =
      "(0" + (1 to pqSub).map(i => s" + ($x[$i] * $y[$i])").mkString + ")"
    def cosS(x: String, y: String) =
      s"${dotS(x, y)} / (sqrt(${dotS(x, x)}) * sqrt(${dotS(y, y)}))"
    def assignCte(cbCte: String, n: Int) = s"""
    ac$n AS (SELECT ex.vec_id, ex.j, ex.vj, cb.cent_id,
                    round(${cosS("ex.vj", "cb.cv")}, 6) AS c
             FROM ex JOIN $cbCte cb USING (j)),
    r$n AS (SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY c DESC, cent_id) AS rn
            FROM ac$n),
    asg$n AS (SELECT vec_id, j, vj, cent_id FROM r$n WHERE rn = 1)"""
    def updateCte(n: Int) = s"""
    u$n AS (SELECT j, cent_id, i, CAST(SUM(CAST(vj[i] AS DECIMAL(28,9))) AS DOUBLE)
                   / count(*) AS mn
            FROM asg$n, LATERAL unnest(generate_series(1, $pqSub)) AS t(i)
            GROUP BY 1, 2, 3),
    cb$n AS (SELECT j, cent_id, list(mn ORDER BY i) AS cv FROM u$n GROUP BY 1, 2)"""
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, v AS cv0 FROM e
             ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", pqSeed)}, vec_id
             LIMIT $pqK),
    cb0 AS (SELECT t.j, cent_id, cv0[t.j * $pqSub + 1 : (t.j + 1) * $pqSub] AS cv
            FROM cent, LATERAL unnest(generate_series(0, ${pqM - 1})) AS t(j)),
    ex AS (SELECT vec_id, t.j, v[t.j * $pqSub + 1 : (t.j + 1) * $pqSub] AS vj
           FROM e, LATERAL unnest(generate_series(0, ${pqM - 1})) AS t(j)),
    ${assignCte("cb0", 1)},
    ${updateCte(1)},
    ${assignCte("cb1", 2)},
    enc AS (SELECT a.vec_id AS cand_id, a.j, cb.cv
            FROM asg2 a JOIN cb1 cb USING (j, cent_id)),
    q AS (SELECT vec_id AS query_id, v, sqrt(${duckDot("v", "v")}) AS qn
          FROM e WHERE vec_id < 8),
    qs AS (SELECT query_id, qn, t.j, v[t.j * $pqSub + 1 : (t.j + 1) * $pqSub] AS qj
           FROM q, LATERAL unnest(generate_series(0, ${pqM - 1})) AS t(j)),
    parts AS (SELECT qs.query_id, qs.qn, enc.cand_id,
                     ${dotS("qs.qj", "enc.cv")} AS xr,
                     ${dotS("enc.cv", "enc.cv")} AS rr
              FROM enc JOIN qs USING (j)),
    sc AS (SELECT query_id, qn, cand_id,
                  CAST(SUM(CAST(xr AS DECIMAL(28,12))) AS DOUBLE) AS sxr,
                  CAST(SUM(CAST(rr AS DECIMAL(28,12))) AS DOUBLE) AS srr
           FROM parts GROUP BY 1, 2, 3),
    f AS (SELECT query_id, cand_id,
                 round(CASE WHEN srr = 0 OR qn = 0 THEN 0.0
                            ELSE sxr / (qn * sqrt(srr)) END, 6) AS cos_adc
          FROM sc WHERE query_id <> cand_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_adc DESC, cand_id) AS rk
          FROM f)
    SELECT query_id, rk, cand_id, cos_adc FROM r WHERE rk <= 3 ORDER BY 1, 2"""
  })((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 8), "vec_id", "v",
        k = 3, dim = kmDim, m = pqM, kCodes = pqK, seed = pqSeed,
        iters = adcIters, memoKey = Some(graft.operators.Memo.corpusKey("pq", d)))
      .orderBy("query_id", "rk")
  })

  // ------------------------------------------------ ANN recall report
  /** ANN quality evaluation: recall@3 of the IVF index against the
    * brute-force exact top-3 on the same probe set — the acceptance
    * test every approximate index needs before it replaces the exact
    * scan at corpus scale. Composes the two oracle-proven operators
    * (`Similarity.bruteTopK` / `ivfTopK`, identical parameters to
    * sim_cosine_topk / sim_ann_ivf) and counts per-query overlap; both
    * sides are deterministic, so the recall numbers are too. */
  val annRecall = Q("sim_ann_recall", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bsc AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, round($cosDuck, 6) AS c
            FROM e a JOIN e b ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
    b3 AS (SELECT query_id, cand_id FROM (
             SELECT query_id, cand_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rk
             FROM bsc) WHERE rk <= 3),
    cent AS (SELECT vec_id AS cent_id, v AS cv FROM e
             ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", ivfSeed)}, vec_id
             LIMIT $nList),
    ac AS (SELECT e.vec_id, cent.cent_id, round(${cosD("e.v", "cent.cv")}, 6) AS c
           FROM e CROSS JOIN cent),
    asg AS (SELECT vec_id, cent_id, c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
            FROM ac),
    a1 AS (SELECT vec_id AS cand_id, cent_id FROM asg WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cent_id FROM asg WHERE rn <= $nProbe AND vec_id < 8),
    cand AS (SELECT p.query_id, a.cand_id FROM probes p
             JOIN a1 a ON p.cent_id = a.cent_id AND a.cand_id <> p.query_id),
    isc AS (SELECT c.query_id, c.cand_id, round(${cosD("q.v", "x.v")}, 6) AS cs
            FROM cand c JOIN e q ON c.query_id = q.vec_id
                        JOIN e x ON c.cand_id = x.vec_id),
    i3 AS (SELECT query_id, cand_id FROM (
             SELECT query_id, cand_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, cand_id) AS rk
             FROM isc) WHERE rk <= 3)
    SELECT b.query_id, count(i.cand_id) AS n_hit,
           round(count(i.cand_id) / 3.0, 6) AS recall_at_3
    FROM b3 b LEFT JOIN i3 i ON b.query_id = i.query_id AND b.cand_id = i.cand_id
    GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") < 8)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "v", k = 3)
      .select(col("query_id"), col("cand_id"))
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "v",
        k = 3, nList = nList, nProbe = nProbe, seed = ivfSeed,
        numVectors = Some(Tables.rowCount(s, d, "embeddings")))
      .select(col("query_id").as("iq"), col("cand_id").as("ic"))
    brute.join(ivf,
        brute("query_id") === ivf("iq") && brute("cand_id") === ivf("ic"), "left")
      .groupBy("query_id")
      .agg(count(col("ic")).as("n_hit"))
      .withColumn("recall_at_3", round(col("n_hit") / lit(3.0), 6))
      .orderBy("query_id")
  })

  // ------------------------------------------------ ANN recall curve
  /** Recall@k CURVE of the IVF path vs exact brute force (k = 1, 3, 5,
    * 10) — `sim_ann_recall` generalized from the single k=3 point to
    * the acceptance curve an ANN deployment actually reads (where does
    * recall flatten, is the knee before or after the k the product
    * serves). One brute top-10 and one IVF top-10 per query, LEFT
    * joined once; every k reads off the SAME joined rank frame via a
    * bounded explode (queries × 10 × |ks| rows — never corpus-scaled),
    * so the curve costs the same two searches as the single point. */
  private val recallKs = Seq(1, 3, 5, 10)

  val annRecallCurve = Q("sim_ann_recall_curve", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bsc AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, round($cosDuck, 6) AS c
            FROM e a JOIN e b ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
    b10 AS (SELECT query_id, cand_id, rk FROM (
             SELECT query_id, cand_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rk
             FROM bsc) WHERE rk <= 10),
    cent AS (SELECT vec_id AS cent_id, v AS cv FROM e
             ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", ivfSeed)}, vec_id
             LIMIT $nList),
    ac AS (SELECT e.vec_id, cent.cent_id, round(${cosD("e.v", "cent.cv")}, 6) AS c
           FROM e CROSS JOIN cent),
    asg AS (SELECT vec_id, cent_id, c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
            FROM ac),
    a1 AS (SELECT vec_id AS cand_id, cent_id FROM asg WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cent_id FROM asg WHERE rn <= $nProbe AND vec_id < 8),
    cand AS (SELECT p.query_id, a.cand_id FROM probes p
             JOIN a1 a ON p.cent_id = a.cent_id AND a.cand_id <> p.query_id),
    isc AS (SELECT c.query_id, c.cand_id, round(${cosD("q.v", "x.v")}, 6) AS cs
            FROM cand c JOIN e q ON c.query_id = q.vec_id
                        JOIN e x ON c.cand_id = x.vec_id),
    i10 AS (SELECT query_id, cand_id, rk FROM (
             SELECT query_id, cand_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, cand_id) AS rk
             FROM isc) WHERE rk <= 10),
    j AS (SELECT b.query_id, b.rk AS brk, i.rk AS irk
          FROM b10 b LEFT JOIN i10 i
            ON b.query_id = i.query_id AND b.cand_id = i.cand_id),
    h AS (SELECT j.query_id, k.k,
                 CAST(sum(CASE WHEN j.brk <= k.k AND coalesce(j.irk, 99) <= k.k
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
          FROM j CROSS JOIN (SELECT unnest([${recallKs.mkString(", ")}]) AS k) k
          GROUP BY 1, 2)
    SELECT k, count(*) AS n_queries, CAST(sum(n_hit) AS BIGINT) AS n_hits,
           round(CAST(sum(n_hit) AS DOUBLE) / (count(*) * k), 6) AS mean_recall
    FROM h GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") < 8)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "v", k = 10)
      .select(col("query_id"), col("rk").as("brk"), col("cand_id"))
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "v",
        k = 10, nList = nList, nProbe = nProbe, seed = ivfSeed,
        numVectors = Some(Tables.rowCount(s, d, "embeddings")))
      .select(col("query_id").as("iq"), col("rk").as("irk"), col("cand_id").as("ic"))
    brute.join(ivf,
        brute("query_id") === ivf("iq") && brute("cand_id") === ivf("ic"), "left")
      .select(col("query_id"), col("brk"), col("irk"),
        explode(array(recallKs.map(k => lit(k.toLong)): _*)).as("k"))
      .groupBy("query_id", "k")
      .agg(sum(when(col("brk") <= col("k") &&
          coalesce(col("irk"), lit(99L)) <= col("k"), 1L).otherwise(0L)).as("n_hit"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_queries"), sum("n_hit").as("n_hits"),
        round(sum("n_hit").cast("double") / (count(lit(1)) * col("k")), 6)
          .as("mean_recall"))
      .orderBy("k")
  })

  // ------------------------------------------------- IVF-ADC search
  /** The composed billion-scale ANN layout — operators.Similarity
    * .ivfPqTopK (Jégou et al. 2011 IVFADC): coarse inverted lists
    * bound WHICH candidates are read (nprobe/nlist of the corpus), PQ
    * codes bound the BYTES per candidate (m codewords, not dim
    * floats) — the structure a 100 TB embedding store actually
    * serves queries from. Same coarse quantizer as sim_ann_ivf
    * (nlist=16, nprobe=2, seed 2024) and the same code layer as
    * sim_pq_adc_topk (8×16 codebooks, 1 Lloyd iteration, seed 77 —
    * memo-shared, so the session trains once for both). The oracle
    * composes the two proven replays: the IVF probe/candidate CTEs of
    * sim_ann_recall restrict the per-subspace partial-dot scoring
    * CTEs of sim_pq_adc_topk. */
  /** The CTE chain of the sim_ivfpq_topk oracle from the coarse
    * quantizer through the ranked ADC scores (`r`), assuming `e` is
    * already defined — shared verbatim with sim_ivfpq_recall. */
  private lazy val ivfPqRankedCte: String = {
    def dotS(x: String, y: String) =
      "(0" + (1 to pqSub).map(i => s" + ($x[$i] * $y[$i])").mkString + ")"
    def cosS(x: String, y: String) =
      s"${dotS(x, y)} / (sqrt(${dotS(x, x)}) * sqrt(${dotS(y, y)}))"
    def assignCte(cbCte: String, n: Int) = s"""
    pac$n AS (SELECT ex.vec_id, ex.j, ex.vj, cb.cent_id,
                     round(${cosS("ex.vj", "cb.cv")}, 6) AS c
              FROM ex JOIN $cbCte cb USING (j)),
    pr$n AS (SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY c DESC, cent_id) AS rn
             FROM pac$n),
    pasg$n AS (SELECT vec_id, j, vj, cent_id FROM pr$n WHERE rn = 1)"""
    def updateCte(n: Int) = s"""
    pu$n AS (SELECT j, cent_id, i, CAST(SUM(CAST(vj[i] AS DECIMAL(28,9))) AS DOUBLE)
                    / count(*) AS mn
             FROM pasg$n, LATERAL unnest(generate_series(1, $pqSub)) AS t(i)
             GROUP BY 1, 2, 3),
    pcb$n AS (SELECT j, cent_id, list(mn ORDER BY i) AS cv FROM pu$n GROUP BY 1, 2)"""
    s"""cent AS (SELECT vec_id AS cent_id, v AS cv FROM e
             ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", ivfSeed)}, vec_id
             LIMIT $nList),
    ac AS (SELECT e.vec_id, cent.cent_id, round(${cosD("e.v", "cent.cv")}, 6) AS c
           FROM e CROSS JOIN cent),
    asg AS (SELECT vec_id, cent_id, c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
            FROM ac),
    a1 AS (SELECT vec_id AS cand_id, cent_id FROM asg WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cent_id FROM asg WHERE rn <= $nProbe AND vec_id < 8),
    cand AS (SELECT p.query_id, a.cand_id FROM probes p
             JOIN a1 a ON p.cent_id = a.cent_id AND a.cand_id <> p.query_id),
    pcent AS (SELECT vec_id AS cent_id, v AS cv0 FROM e
              ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", pqSeed)}, vec_id
              LIMIT $pqK),
    pcb0 AS (SELECT t.j, cent_id, cv0[t.j * $pqSub + 1 : (t.j + 1) * $pqSub] AS cv
             FROM pcent, LATERAL unnest(generate_series(0, ${pqM - 1})) AS t(j)),
    ex AS (SELECT vec_id, t.j, v[t.j * $pqSub + 1 : (t.j + 1) * $pqSub] AS vj
           FROM e, LATERAL unnest(generate_series(0, ${pqM - 1})) AS t(j)),
    ${assignCte("pcb0", 1)},
    ${updateCte(1)},
    ${assignCte("pcb1", 2)},
    enc AS (SELECT a.vec_id AS cand_id, a.j, cb.cv
            FROM pasg2 a JOIN pcb1 cb USING (j, cent_id)),
    q AS (SELECT vec_id AS query_id, v, sqrt(${duckDot("v", "v")}) AS qn
          FROM e WHERE vec_id < 8),
    qs AS (SELECT query_id, qn, t.j, v[t.j * $pqSub + 1 : (t.j + 1) * $pqSub] AS qj
           FROM q, LATERAL unnest(generate_series(0, ${pqM - 1})) AS t(j)),
    parts AS (SELECT c.query_id, qs.qn, c.cand_id,
                     ${dotS("qs.qj", "enc.cv")} AS xr,
                     ${dotS("enc.cv", "enc.cv")} AS rr
              FROM cand c
              JOIN enc ON c.cand_id = enc.cand_id
              JOIN qs ON qs.query_id = c.query_id AND qs.j = enc.j),
    sc AS (SELECT query_id, qn, cand_id,
                  CAST(SUM(CAST(xr AS DECIMAL(28,12))) AS DOUBLE) AS sxr,
                  CAST(SUM(CAST(rr AS DECIMAL(28,12))) AS DOUBLE) AS srr
           FROM parts GROUP BY 1, 2, 3),
    f AS (SELECT query_id, cand_id,
                 round(CASE WHEN srr = 0 OR qn = 0 THEN 0.0
                            ELSE sxr / (qn * sqrt(srr)) END, 6) AS cos_adc
          FROM sc),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_adc DESC, cand_id) AS rk
          FROM f)"""
  }

  val ivfPq = Q("sim_ivfpq_topk", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    $ivfPqRankedCte
    SELECT query_id, rk, cand_id, cos_adc FROM r WHERE rk <= 3 ORDER BY 1, 2"""
  ))((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 8), "vec_id", "v",
        k = 3, nList = nList, nProbe = nProbe, ivfSeed = ivfSeed,
        dim = kmDim, m = pqM, kCodes = pqK, pqSeed = pqSeed, iters = adcIters,
        numVectors = Some(Tables.rowCount(s, d, "embeddings")),
        memoKey = Some(graft.operators.Memo.corpusKey("pq", d)))
      .orderBy("query_id", "rk")
  })

  // -------------------------------------------- IVF-ADC recall report
  /** Recall@3 of the composed IVF-ADC index against the exact
    * brute-force top-3 — the acceptance test for the FULL compressed
    * serving path: where sim_ann_recall isolates coarse-probe misses
    * (IVF over raw vectors), this measures probe misses AND codebook
    * quantization error together, the number that decides whether the
    * 32× byte reduction is admissible. Same composition protocol as
    * sim_ann_recall; the IVF-ADC side reuses the sim_ivfpq_topk oracle
    * chain verbatim. */
  val ivfPqRecall = Q("sim_ivfpq_recall", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bsc AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, round($cosDuck, 6) AS c
            FROM e a JOIN e b ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
    b3 AS (SELECT query_id, cand_id FROM (
             SELECT query_id, cand_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, cand_id) AS rk
             FROM bsc) WHERE rk <= 3),
    $ivfPqRankedCte,
    i3 AS (SELECT query_id, cand_id FROM r WHERE rk <= 3)
    SELECT b.query_id, count(i.cand_id) AS n_hit,
           round(count(i.cand_id) / 3.0, 6) AS recall_at_3
    FROM b3 b LEFT JOIN i3 i ON b.query_id = i.query_id AND b.cand_id = i.cand_id
    GROUP BY 1 ORDER BY 1"""
  ))((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") < 8)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "v", k = 3)
      .select(col("query_id"), col("cand_id"))
    val ivfpq = Similarity.ivfPqTopK(e, q, "vec_id", "v",
        k = 3, nList = nList, nProbe = nProbe, ivfSeed = ivfSeed,
        dim = kmDim, m = pqM, kCodes = pqK, pqSeed = pqSeed, iters = adcIters,
        numVectors = Some(Tables.rowCount(s, d, "embeddings")),
        memoKey = Some(graft.operators.Memo.corpusKey("pq", d)))
      .select(col("query_id").as("iq"), col("cand_id").as("ic"))
    brute.join(ivfpq,
        brute("query_id") === ivfpq("iq") && brute("cand_id") === ivfpq("ic"), "left")
      .groupBy("query_id")
      .agg(count(col("ic")).as("n_hit"))
      .withColumn("recall_at_3", round(col("n_hit") / lit(3.0), 6))
      .orderBy("query_id")
  })

  // -------------------------------------- persisted-index train/serve
  /** TRAIN/SERVE SPLIT of the IVF-PQ index (S4 discipline applied to
    * ANN): the index — coarse centroids, PQ codebooks, per-vector
    * codes — is WRITTEN once as Parquet (skip-if-exists, fingerprint-
    * keyed like the s4 memo sink) and the top-k answer is served by
    * [[graft.operators.Similarity.searchIvfPqIndex]] reading ONLY the
    * persisted files plus the query vectors: the Spark side of this
    * query carries no training lineage, which is the production shape
    * at 100 TB (one training job, many serving jobs). The serve path
    * is row-identical to sim_ivfpq_topk's by construction, so the
    * oracle is that query's full train+search replay — passing the
    * hash gate proves the files round-trip the index exactly. */
  // the index write's cell sizing (shapes nCells via autoNList) — in
  // the directory key with every other write-time parameter
  private val idxTcs = 256

  val ivfPqPersist = Q("sim_index_persist_search", Some(s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    $ivfPqRankedCte
    SELECT query_id, rk, cand_id, cos_adc FROM r WHERE rk <= 3 ORDER BY 1, 2"""),
    // the one-off index WRITE runs inside build (skip-if-exists) — the
    // plan/memo audit specs must not execute it as a side effect
    buildExecutes = true
  )((s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    // fingerprint-keyed index dir: regenerated data under the same path
    // (the /tmp/sf1 workflow) is a clean miss, exactly like Memo keys —
    // and every WRITE-time parameter is in the key (a changed constant
    // must never serve a stale index), hashed with the full 128-bit md5
    // (a 32-bit hashCode collision between corpora would silently share
    // a directory)
    val idxKey = graft.operators.Memo.corpusKey("ivfpq", d) +
      s"/$nList/$ivfSeed/$kmDim/$pqM/$pqK/$pqSeed/$adcIters/$idxTcs"
    val idxDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_ann_index",
      new java.math.BigInteger(1, java.security.MessageDigest
        .getInstance("MD5").digest(idxKey.getBytes("UTF-8"))).toString(16))
    if (!graft.operators.StoreFs.datasetComplete(s, s"$idxDir/codes"))
      Similarity.writeIvfPqIndex(e, "vec_id", "v", idxDir.toString,
        nList = nList, ivfSeed = ivfSeed, dim = kmDim, m = pqM, kCodes = pqK,
        pqSeed = pqSeed, iters = adcIters, targetCellSize = idxTcs,
        numVectors = Some(Tables.rowCount(s, d, "embeddings")),
        memoKey = Some(graft.operators.Memo.corpusKey("pq", d)))
    Similarity.searchIvfPqIndex(idxDir.toString,
        e.filter(col("vec_id") < 8), "vec_id", "v",
        k = 3, nProbe = nProbe, dim = kmDim, m = pqM)
      .orderBy("query_id", "rk")
  })

  // ------------------------------------------ substring-run near-dup
  /** Contiguous verbatim-overlap pairs — operators.Dedup.substringRuns
    * (the Lee et al. 2022 exact-substring dedup, k-gram diagonal-run
    * form): pairs sharing a run of ≥ 2 consecutive 6-token windows
    * (≥ 7 verbatim tokens), with the total shared-gram count and the
    * longest run. Complements dedup_ngram_jaccard: set overlap vs
    * CONTIGUOUS overlap — the memorization-risk signal. The oracle
    * replays first-occurrence gram positions, the [2, 20] df gate, and
    * the gaps-and-islands run measurement; all-integer, so the hash
    * compare is exact by construction. */
  private val runK = 6
  private val runMinRun = 2
  private val runMaxDf = 20L

  val substringRun = Q("dedup_substring_run", Some(s"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents WHERE len(string_split(text, ' ')) >= $runK),
    g0 AS (SELECT doc_id, t.i,
                  md5(array_to_string(w[t.i + 1 : t.i + $runK], ' ')) AS g
           FROM w, LATERAL unnest(generate_series(0, len(w) - $runK)) AS t(i)),
    f AS (SELECT doc_id, g, CAST(min(i) AS BIGINT) AS i FROM g0 GROUP BY 1, 2),
    d AS (SELECT g FROM f GROUP BY g HAVING count(*) BETWEEN 2 AND $runMaxDf),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, a.i - b.i AS diag
          FROM f a JOIN f b ON a.g = b.g AND a.doc_id < b.doc_id
          JOIN d ON a.g = d.g),
    isl AS (SELECT doc_a, doc_b, diag, ia,
                   ia - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY ia) AS grp
            FROM p),
    runs AS (SELECT doc_a, doc_b, diag, grp, count(*) AS run_len
             FROM isl GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b, CAST(sum(run_len) AS BIGINT) AS n_shared_grams,
           CAST(max(run_len) AS BIGINT) AS max_run_grams,
           CAST(max(run_len) + ${runK - 1} AS BIGINT) AS max_run_tokens
    FROM runs GROUP BY 1, 2 HAVING max(run_len) >= $runMinRun ORDER BY 1, 2"""
  ))((s, d) =>
    Dedup.substringRuns(Tables.documentsP(s, d), "doc_id", "text",
        k = runK, minRun = runMinRun, maxDf = runMaxDf)
      .orderBy("doc_a", "doc_b"))

  // --------------------------------------------- span-rewrite dedup
  /** Span-level corpus dedup with document REWRITE —
    * operators.Dedup.spanRewrite (the C4/MassiveText "remove any span
    * duplicated across the corpus" pass): every 8-token window found
    * verbatim in ≥ 2 distinct documents masks the positions it covers,
    * and each document is rebuilt from its surviving tokens. The only
    * dedup entry that EDITS documents instead of flagging pairs — the
    * per-doc ledger carries the removal fraction and the rewritten
    * text. Oracle replays the identical md5 gram chain, the
    * distinct-doc df gate, the ×k coverage fan-out and the
    * position-ordered string reassembly; token counts are integers and
    * the rebuilt text is byte-exact, so only removed_frac needs the
    * DOUBLE-cast discipline. */
  private val srK = 8
  private val srMinDf = 2
  val spanRewrite = Q("dedup_span_rewrite", Some(s"""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w
               FROM documents WHERE text IS NOT NULL),
    occ AS (SELECT doc_id, t.i,
                   md5(array_to_string(w[t.i + 1 : t.i + $srK], ' ')) AS g
            FROM d, LATERAL unnest(generate_series(0, len(w) - $srK)) AS t(i)
            WHERE len(w) >= $srK),
    hot AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df
                           FROM occ GROUP BY 1) WHERE df >= $srMinDf),
    cov AS (SELECT DISTINCT o.doc_id, o.i + s.j AS pos
            FROM occ o JOIN hot USING (g),
                 LATERAL unnest(generate_series(0, ${srK - 1})) AS s(j)),
    tok AS (SELECT doc_id, t.i - 1 AS pos, w[t.i] AS tk
            FROM d, LATERAL unnest(generate_series(1, len(w))) AS t(i)),
    reb AS (SELECT t.doc_id, count(*) AS n_kept,
                   string_agg(t.tk, ' ' ORDER BY t.pos) AS kept_text
            FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
            WHERE c.doc_id IS NULL GROUP BY 1)
    SELECT d.doc_id, CAST(len(w) AS BIGINT) AS n_tok,
           CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           round(CAST(len(w) - coalesce(n_kept, 0) AS DOUBLE)
                 / CAST(len(w) AS DOUBLE), 6) AS removed_frac,
           coalesce(kept_text, '') AS kept_text
    FROM d LEFT JOIN reb USING (doc_id) ORDER BY doc_id"""
  ))((s, d) =>
    Dedup.spanRewrite(Tables.documentsP(s, d), "doc_id", "text",
        k = srK, minDf = srMinDf.toLong)
      .orderBy("doc_id"))

  // ------------------------------------- JL random projection audit
  /** Johnson–Lindenstrauss random projection + distortion audit —
    * operators.Similarity.randomProjection: 64 → 16 dims through a
    * seeded Rademacher matrix (Achlioptas 2003), then every probe pair
    * (vec_id < 32) reports its original vs projected Euclidean
    * distance and the distortion ratio — the acceptance test that the
    * 4× narrower vectors are safe to hand to downstream ANN/dedup
    * joins. The oracle regenerates the ±1 matrix from the same
    * seeded-md5 parity and replays the DECIMAL(28,12) sums and exact /√16
    * scaling; the probe set is dimension-bounded, the projection
    * itself is corpus×dim — never all-pairs. */
  private val rpOut = 16
  private val rpSeed = 271828L
  private val rpProbe = 32

  val randProj = Q("sim_random_projection", Some {
    val root = math.sqrt(rpOut.toDouble) // 4.0 — exact by the perfect-square contract
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    r0 AS (SELECT g, md5(CAST(g AS VARCHAR) || '_$rpSeed') AS sh
           FROM generate_series(0, ${kmDim * rpOut - 1}) AS t(g)),
    r AS (SELECT g // $rpOut AS i, g % $rpOut AS j,
                 CASE WHEN (${(1 to 8).map(k =>
                   s"(strpos('0123456789abcdef', sh[$k]) - 1) * ${1L << (4 * (8 - k))}")
                   .mkString(" + ")}) % 2 = 0
                 THEN 1.0 ELSE -1.0 END AS s
          FROM r0),
    ex AS (SELECT vec_id, t.i, v[t.i + 1] AS x
           FROM e, LATERAL unnest(generate_series(0, ${kmDim - 1})) AS t(i)),
    p0 AS (SELECT vec_id, j,
                  round(CAST(SUM(CAST(x * s AS DECIMAL(28,12))) AS DOUBLE) / $root, 6) AS y
           FROM ex JOIN r USING (i) GROUP BY 1, 2),
    pp AS (SELECT vec_id, j, y FROM p0 WHERE vec_id < $rpProbe),
    dp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  round(sqrt(CAST(SUM(CAST((a.y - b.y) * (a.y - b.y)
                    AS DECIMAL(28,12))) AS DOUBLE)), 6) AS d_proj
           FROM pp a JOIN pp b ON a.j = b.j AND a.vec_id < b.vec_id
           GROUP BY 1, 2),
    eo AS (SELECT vec_id, i, x FROM ex WHERE vec_id < $rpProbe),
    dor AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(sqrt(CAST(SUM(CAST((a.x - b.x) * (a.x - b.x)
                     AS DECIMAL(28,12))) AS DOUBLE)), 6) AS d_orig
            FROM eo a JOIN eo b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2)
    SELECT vec_a, vec_b, d_orig, d_proj, round(d_proj / d_orig, 6) AS ratio
    FROM dor JOIN dp USING (vec_a, vec_b)
    WHERE d_orig > 0 ORDER BY 1, 2"""
  })((s, d) => {
    import graft.functions.Deterministic.stableSum
    val root = math.sqrt(rpOut.toDouble)
    val e = Tables.embeddingsP(s, d).select(col("vec_id"), col("embedding").as("v"))
    val proj = Similarity.randomProjection(e, "vec_id", "v",
      dim = kmDim, outDim = rpOut, seed = rpSeed)
    val pp = proj.filter(col("vec_id") < rpProbe)
    val dp = pp.as("a").join(pp.as("b"),
        col("a.j") === col("b.j") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        ((col("a.y") - col("b.y")) * (col("a.y") - col("b.y"))).as("t"))
      .groupBy("vec_a", "vec_b")
      .agg(round(sqrt(stableSum(col("t"), 12)), 6).as("d_proj"))
    val eo = e.filter(col("vec_id") < rpProbe)
      .select(col("vec_id"),
        posexplode(col("v").cast("array<double>")).as(Seq("i", "x")))
    val dor = eo.as("a").join(eo.as("b"),
        col("a.i") === col("b.i") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        ((col("a.x") - col("b.x")) * (col("a.x") - col("b.x"))).as("t"))
      .groupBy("vec_a", "vec_b")
      .agg(round(sqrt(stableSum(col("t"), 12)), 6).as("d_orig"))
    dor.join(dp, Seq("vec_a", "vec_b"))
      .filter(col("d_orig") > 0)
      .select(col("vec_a"), col("vec_b"), col("d_orig"), col("d_proj"),
        round(col("d_proj") / col("d_orig"), 6).as("ratio"))
      .orderBy("vec_a", "vec_b")
  })

  // ------------------------------------- fuzzy (near-dup) decontamination
  /** NEAR-duplicate benchmark decontamination — the fuzzy complement
    * of `text_decontaminate`'s exact 5-gram check (the discipline of
    * the GPT-3/Llama contamination appendices: paraphrased or lightly
    * edited eval leakage slips an exact n-gram match but not a
    * minhash one). Composed from the oracle-proven incremental
    * operator with the EVAL SET as the increment: eval docs (source
    * src0, the same held-out set text_decontaminate uses) band-join
    * the whole corpus, so candidate volume is the |eval|/|corpus|
    * fraction of the full self-join — the right cost shape when the
    * benchmark is tiny against a 100 TB corpus. Train×train is never
    * paired. Output: per train source, its doc count, how many of its
    * docs are near-dups (j ≥ 0.5) of some eval doc, and the worst
    * jaccard — the drop list's summary. */
  private val fuzzEvalSource = "src0"

  val decontamFuzzy = Q("text_decontaminate_fuzzy", Some {
    val mhCols = (0 until nHash).map(i =>
      s"min((h1 * ${graft.operators.Dedup.mixA(i)} + ${graft.operators.Dedup.mixB(i)}) " +
        s"% ${graft.operators.Dedup.mixM}) AS mh$i").mkString(", ")
    val bandSel = (0 until nHash / bandRows).map { b =>
      val ks = (0 until bandRows).map(r => s"mh${b * bandRows + r}").mkString(", ")
      s"SELECT doc_id, is_new, $b AS band, concat_ws('_', $ks) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""
    WITH w AS (SELECT doc_id, coalesce(source = '$fuzzEvalSource', FALSE) AS is_new,
                      string_split(text, ' ') AS w
               FROM documents WHERE len(string_split(text, ' ')) >= 3),
    shs AS (SELECT doc_id, is_new, $shinglesSqlDuck AS s FROM w),
    ex AS (SELECT doc_id, is_new, unnest(s) AS sh FROM shs),
    hx AS (SELECT doc_id, is_new, $h1Duck AS h1 FROM ex),
    sig AS (SELECT doc_id, is_new, $mhCols FROM hx GROUP BY 1, 2),
    bands AS ($bandSel),
    bandsb AS (SELECT doc_id, is_new, band, bkey,
                      count(*) OVER (PARTITION BY band, bkey) AS bc
               FROM bands),
    cand AS (SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_other
             FROM bandsb a JOIN bandsb b
               ON a.bkey = b.bkey AND a.band = b.band
              AND a.is_new AND a.bc <= ${graft.operators.Dedup.defaultMaxBandBucket}
              AND NOT b.is_new AND a.doc_id <> b.doc_id),
    ver AS (SELECT c.doc_other,
                   round(len(list_intersect(sa.s, sb.s))::DOUBLE
                     / len(list_distinct(sa.s || sb.s)), 6) AS j
            FROM cand c JOIN shs sa ON c.doc_new = sa.doc_id
                        JOIN shs sb ON c.doc_other = sb.doc_id),
    hits AS (SELECT d.source, count(DISTINCT v.doc_other) AS nc,
                    max(v.j) AS mj
             FROM ver v JOIN documents d ON v.doc_other = d.doc_id
             WHERE v.j >= 0.5 GROUP BY 1),
    base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
             WHERE source <> '$fuzzEvalSource' GROUP BY 1)
    SELECT base.source, base.n_docs,
           CAST(coalesce(h.nc, 0) AS BIGINT) AS n_contaminated,
           round(coalesce(h.mj, 0.0), 6) AS max_jaccard,
           round(coalesce(h.nc, 0)::DOUBLE / base.n_docs, 6) AS contamination_rate
    FROM base LEFT JOIN hits h ON base.source = h.source
    ORDER BY base.source"""
  })((s, d) => {
    val docs = Tables.documentsP(s, d)
      .withColumn("is_eval", col("source") === fuzzEvalSource)
    val pairs = Dedup.minhashLshIncremental(docs, "doc_id", "text", "is_eval",
        nHash = nHash, bandRows = bandRows, threshold = 0.5)
      .filter(!col("other_is_new"))
    val tsrc = Tables.documentsP(s, d)
      .select(col("doc_id").as("doc_other"), col("source"))
    val hits = pairs.join(tsrc, "doc_other")
      .groupBy("source")
      .agg(countDistinct("doc_other").as("nc"), max("jaccard").as("mj"))
    docs.filter(!col("is_eval"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(hits, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("nc"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("mj"), lit(0.0)), 6).as("max_jaccard"),
        round(coalesce(col("nc"), lit(0L)).cast("double") / col("n_docs"), 6)
          .as("contamination_rate"))
      .orderBy("source")
  })

  // ------------------------------------------------- semantic dedup
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"), composed from the oracle-proven pieces: Lloyd
    * k-means cells (Similarity.kmeans, 2 iterations, cell count
    * data-driven via the LINEAR autoCellCount rule — constant ~256
    * populations keep the within-cell pair join linear in n) →
    * within-cell cosine ≥ τ pairs → alternating-star connected
    * components (Dedup.connectedComponents) → keep the min vec_id per
    * semantic cluster. Output labels EVERY vector: its cluster
    * representative (itself when no semantic dup), cluster size, and
    * the keep decision.
    *
    * The oracle replays the seeded centroids + both unrolled Lloyd
    * iterations (the sim_kmeans_cells discipline, with the cell count
    * as a computed QUALIFY bound instead of a constant LIMIT), the
    * within-cell pair join, and a recursive transitive closure. */
  private val semTau = 0.4

  val semantic = Q("dedup_semantic", Some {
    def assignCte(centCte: String, n: Int) = s"""
    ac$n AS (SELECT e.vec_id, e.v, c.cent_id, round(${cosD("e.v", "c.cv")}, 6) AS c
             FROM e CROSS JOIN $centCte c),
    r$n AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
            FROM ac$n),
    asg$n AS (SELECT vec_id, v, cent_id AS cell FROM r$n WHERE rn = 1)"""
    def updateCte(n: Int) = s"""
    u$n AS (SELECT cell AS cent_id, i, CAST(SUM(CAST(v[i] AS DECIMAL(28,9))) AS DOUBLE)
                   / count(*) AS m
            FROM asg$n, LATERAL unnest(generate_series(1, $kmDim)) AS t(i)
            GROUP BY 1, 2),
    c$n AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM u$n GROUP BY 1)"""
    s"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    nk AS (SELECT GREATEST(8, CAST(ceil(count(*) / 256.0) AS BIGINT)) AS k FROM e),
    c0 AS (SELECT vec_id AS cent_id, v AS cv FROM (
             SELECT vec_id, v, row_number() OVER (
               ORDER BY ${graft.functions.Deterministic.hrandSql("vec_id", kmSeed)}, vec_id) AS rn
             FROM e) CROSS JOIN nk WHERE rn <= k),
    ${assignCte("c0", 1)},
    ${updateCte(1)},
    ${assignCte("c1", 2)},
    ${updateCte(2)},
    ${assignCte("c2", 3)},
    pr AS (SELECT a.vec_id AS va, b.vec_id AS vb
           FROM asg3 a JOIN asg3 b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${cosD("a.v", "b.v")} >= $semTau),
    se AS (SELECT va AS a, vb AS b FROM pr UNION SELECT vb, va FROM pr),
    reach(a, b) AS (SELECT a, b FROM se
                    UNION
                    SELECT r.a, s.b FROM reach r JOIN se s ON r.b = s.a),
    compt AS (SELECT a AS vec_id, least(a, min(b)) AS comp FROM reach GROUP BY a),
    lbl AS (SELECT e.vec_id, coalesce(c.comp, e.vec_id) AS comp
            FROM e LEFT JOIN compt c ON e.vec_id = c.vec_id)
    SELECT vec_id, comp, count(*) OVER (PARTITION BY comp) AS cluster_size,
           (vec_id = comp) AS keep
    FROM lbl ORDER BY vec_id"""
  })((s, d) => {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.CacheScope
    val e = CacheScope.persist(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")))
    val n = Tables.rowCount(s, d, "embeddings")
    val kCells = Similarity.autoCellCount(n, 8, 256)
    // same memo namespace as sim_kmeans_cells: whenever the linear cell
    // rule resolves to the same k, the two queries share one trained
    // chain (k is part of the key, so a different sizing never collides)
    val asg = Similarity.kmeans(e, "vec_id", "v",
        k = kCells, iters = 2, seed = kmSeed,
        memoKey = Some(graft.operators.Memo.corpusKey("km", d)))
      .select(col("vec_id"), col("cell"))
    val pairs = Dedup.cellPairs(asg.join(e, "vec_id"), "vec_id", "v")
      .filter(col("c") >= semTau)
      .select(col("vec_a"), col("vec_b"))
    val cc = Dedup.connectedComponents(pairs, "vec_a", "vec_b")
      .withColumnRenamed("node", "vec_id")
    e.select("vec_id").join(cc, Seq("vec_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("vec_id")))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("comp")))
      .withColumn("keep", col("vec_id") === col("comp"))
      .select("vec_id", "comp", "cluster_size", "keep")
      .orderBy("vec_id")
  })

  val all: Seq[Q] =
    Seq(exact, minhashLsh, minhashInc, sigStoreServe, sigStoreAppend, sigStoreCompact, clusterCc, keepRank, savings, funnel, simhash, ngramJaccard,
      embedNearDup, annTopk, hardNeg, annLsh, annIvf, annRecall, annRecallCurve, kmeansCells, kmeansSil, scalarQuant,
      ngramContain, pqError, adcTopk, ivfPq, ivfPqRecall, ivfPqPersist,
      substringRun, spanRewrite, randProj,
      semantic, decontamFuzzy)
}
