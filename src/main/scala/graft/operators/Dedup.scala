package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

/** Reusable corpus-deduplication operators (the LLM-training-data
  * extension set). DataFrame-in → DataFrame-out, schema-parameterized —
  * the `graft.queries` registry entries are thin instantiations of
  * these over the testdata schema.
  *
  * Scale design: candidate generation is always an equi-join (band
  * keys, signature buckets, inverted shingle index) — never an
  * all-pairs join; hashing runs as row-wise codegen'd expressions
  * (higher-order lambdas are interpreted in Spark, measured 7× slower);
  * tables consumed by both sides of a self-join are persisted because
  * Catalyst does not CSE across join branches — via [[CacheScope.persist]],
  * so the consumer's scope unpersists them once its action completes.
  *
  * Gram key: every word k-gram of the text family is its MD5 digest as
  * two longs (hi, lo), from the one tokenizer/digest routine
  * [[graft.functions.Kgrams.windows]] — through `graft_kgrams` (shingles,
  * substring runs, span rewrite) or `graft_minhash_sig` (the signature
  * family's sorted `s` sets). Joins, windows and aggregates key on the
  * pair; no 32-char hex digest is built anywhere.
  */
object Dedup {

  /** Row-wise word n-gram shingles. Output: `carry` columns + the
    * shingle's MD5 as two longs, `sh_hi` and `sh_lo` (the `graft_kgrams`
    * gram key — the hex digest is never built). With `dedup` (the
    * default) one row per distinct (carry, shingle) — set semantics for
    * consumers that count rows. `dedup = false` skips that full shuffle
    * and emits one row per shingle OCCURRENCE — the right form for
    * consumers that are multiset-insensitive anyway (joins into a
    * distinct count, distinct sketches). Documents with fewer than `n`
    * whitespace tokens are dropped. */
  def shingles(docs: DataFrame, textCol: String, carry: Seq[String], n: Int = 3,
      dedup: Boolean = true): DataFrame = {
    val occ = docs
      .select((carry.map(col) :+ explode(kgrams(textCol, n, firstOnly = false)).as("g")): _*)
      .select((carry.map(col) :+ col("g.hi").as("sh_hi") :+ col("g.lo").as("sh_lo")): _*)
    if (dedup) occ.distinct() else occ
  }

  /** `graft_kgrams(textCol, k, firstOnly)`: a document's word k-grams as
    * (hi, lo, pos) digest keys, NULL below k tokens. */
  private def kgrams(textCol: String, k: Int, firstOnly: Boolean): org.apache.spark.sql.Column =
    expr(s"graft_kgrams($textCol, $k, $firstOnly)")

  /** Exact-dedup summary per group: total/distinct/removed counts and the
    * smallest surviving id. One hash-groupBy — map-side combine, one
    * shuffle. */
  def exactSummary(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), col(groupCol), md5(encode(col(textCol), "UTF-8")).as("th"))
      .groupBy(groupCol, "th")
      .agg(count(lit(1)).as("copies"), min(idCol).as("keep_id"))
      .groupBy(groupCol)
      .agg(sum("copies").as("n_docs"), count(lit(1)).as("n_unique"),
        (sum("copies") - count(lit(1))).as("n_removed"), min("keep_id").as("first_keep"))

  /** The `nHash` minhash "permutations" are affine bijections of
    * Z_2^31 — (h·A_i + B_i) mod 2^31 with A_i ODD (odd multipliers are
    * invertible mod 2^31, so each map is a true permutation) — applied
    * to ONE 31-bit integer derived from the shingle's single md5. One
    * md5 per shingle instead of `nHash` (measured: the 12-md5 form was
    * the #1 bench cost center), and the mix constants render identically
    * in the DuckDB oracle. All intermediates < 2^62: portable to any
    * engine without overflow. */
  val mixM = 2147483648L // 2^31
  def mixA(i: Int): Long = 1103515245L + 2L * i * 7919L // odd
  def mixB(i: Int): Long = 104729L + 12345L * i

  /** The shingle-set encoding of the signature family — recorded in the
    * column metadata of `s` and in a signature store's `meta/`: each
    * shingle is its 16-byte MD5 digest (`unhex(md5(shingle))`) held as
    * two big-endian longs, and a document's set is one `array<bigint>`
    * of 2n longs — element 2k the first 8 bytes of digest k, element
    * 2k+1 the last 8 — with the (hi, lo) pairs distinct and sorted by
    * unsigned (hi, lo) ([[graft.functions.MinhashSig]]). MD5 is kept
    * whole, so every pair, Jaccard value and count is exact; the sorted
    * form is what [[shingleOverlap]]'s merge reads. A store or table
    * carrying another encoding ([[retiredShingleEncoding]]'s
    * `array<binary>` digests, or the 32-char hex strings before it) is
    * refused, never misread. */
  val shingleEncoding = "md5-i64x2-sorted"

  /** The encoding [[shingleEncoding]] replaced: the same sorted digests,
    * one 16-byte `binary` element each. Named in the refusal messages. */
  val retiredShingleEncoding = "md5-bin16-sorted"

  /** |A ∩ B| of two shingle-set columns in [[shingleEncoding]]: one
    * allocation-free merge per row (`graft_sorted_intersect_size`). */
  def shingleOverlap(a: String, b: String): org.apache.spark.sql.Column =
    expr(s"graft_sorted_intersect_size($a, $b)")

  /** |A| of a shingle-set column in [[shingleEncoding]]: two longs per
    * digest. */
  private[graft] def shingleCount(c: String): org.apache.spark.sql.Column =
    size(col(c)) / 2

  /** The exact Jaccard verify of the MinHash family (batch,
    * incremental and streaming): keeps the candidate rows whose
    * shingle-set columns `a` and `b` reach |A∩B| / |A∪B| ≥ `threshold`
    * and returns `keep` plus `jaccard`, rounded to 6 places (the
    * threshold sees the raw value). |A∪B| is na+nb−inter, NOT
    * array_distinct(concat(..)): `s` is a distinct set by construction,
    * so the identity is exact and the division operands are identical —
    * the concat form built and hashed a ~2·|s|-element array per pair.
    * Join order and hints stay with the caller, which owns the plan. */
  private[graft] def jaccardVerify(cand: DataFrame, a: String, b: String,
      threshold: Double, keep: String*): DataFrame =
    cand.withColumn("inter", shingleOverlap(a, b).cast("double"))
      .withColumn("j",
        col("inter") / (shingleCount(a) + shingleCount(b) - col("inter")))
      .filter(col("j") >= threshold)
      .select(keep.map(col) :+ round(col("j"), 6).as("jaccard"): _*)

  /** The degenerate-corpus guard of every bucketed candidate generator
    * (batch, incremental and streaming MinHash on (band, bkey),
    * [[simhash]] on its probed `bucket`), as ONE keyed pass: `bucketed`
    * grouped on `keys`, one row per bucket holding at most `maxBucket`
    * rows, with `members` — an array of struct(`member` columns) — for
    * the caller to expand into candidate pairs ([[memberPairs]]) or
    * index rows. A bucket over the cap is dropped whole (see
    * [[minhashLsh]]'s `maxBucket`), so what the guard drops is decided
    * in one place. The aggregate is [[graft.functions.BucketMembers]]:
    * its state never holds more than `maxBucket` members and is
    * dropped once a bucket passes the cap, so a flooded bucket costs
    * O(1) state, not its population. The bucketed stream has this one
    * reader, so it needs no persist, and the output is already
    * hash-partitioned on `keys`. */
  private[graft] def bucketMembers(bucketed: DataFrame, keys: Seq[String],
      member: Seq[String], maxBucket: Long): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    bucketed.groupBy(keys.map(col): _*)
      .agg(call_function("graft_bucket_members", struct(member.map(col): _*),
        lit(maxBucket)).as("members"))
      .filter(col("members").isNotNull)
  }

  /** The candidate pairs of a [[bucketMembers]] frame: `keys` plus
    * member structs `a` and `b`, one row per ordered pair of members of
    * one bucket with `aSide` true for `a` and `pair` true for (a, b).
    * Singleton buckets never expand; `aSide` prunes before `b` does. */
  private def memberPairs(buckets: DataFrame, keys: Seq[String],
      pair: org.apache.spark.sql.Column,
      aSide: org.apache.spark.sql.Column = lit(true)): DataFrame =
    buckets.filter(size(col("members")) > 1)
      .select(keys.map(col) :+ col("members") :+ explode(col("members")).as("a"): _*)
      .filter(aSide)
      .select(keys.map(col) :+ col("a") :+ explode(col("members")).as("b"): _*)
      .filter(pair)

  /** The LSH bands of a frame carrying minhash columns mh0..: `keep`
    * plus one (band, bkey) row per band of `bandRows` consecutive
    * minhashes, bkey their `_`-joined decimal spelling (the DuckDB
    * oracle's spelling). One explode — a per-band union would recompute
    * the signature stage once per band. */
  private def explodeBands(perDoc: DataFrame, keep: Seq[String], nHash: Int,
      bandRows: Int): DataFrame = {
    val bandStructs = (0 until nHash / bandRows).map { b =>
      val ks = (0 until bandRows).map(r => col(s"mh${b * bandRows + r}"))
      struct(lit(b).as("band"), concat_ws("_", ks: _*).as("bkey"))
    }
    perDoc.select(keep.map(col) :+ explode(array(bandStructs: _*)).as("bb"): _*)
      .select(keep.map(col) :+ col("bb.band").as("band") :+
        col("bb.bkey").as("bkey"): _*)
  }

  /** Provenance stamped on `s`: ngram, textCol and the encoding are
    * INVISIBLE in the data (shingles are hashes), so without it a
    * consumer called with a mismatched ngram would silently compute the
    * wrong-n measure — [[requireSigProvenance]] checks all three. */
  private def sigMeta(ngram: Int, textCol: String) =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft_ngram", ngram.toLong)
      .putString("graft_text_col", textCol)
      .putString("graft_shingle_encoding", shingleEncoding).build()

  /** Per-document minhash SIGNATURE TABLE — the tokenize/shingle stage
    * of the text-dedup family, and the one place its signatures are
    * built: (idCol, carry..., s: array<bigint> — the distinct
    * shingle-md5 set as sorted (hi, lo) pairs, [[shingleEncoding]],
    * mh0..mh{nHash−1} — the affine-mix minima). Documents with fewer
    * than `ngram` tokens are dropped (NULL signature). Every consumer —
    * the batch, incremental and band-row MinHash operators, the n-gram
    * index, the signature store and [[TextOps.fingerprint]] — reads
    * either a caller-supplied table or one it builds here, so the
    * memoized and the inline paths are the same expression.
    *
    * Why it exists: the per-doc token/gram hashing is the single
    * largest shared cost of the dedup family — at sf1 the five
    * text-shingling queries re-deriving this frame from raw text per
    * query were ~45 s of the 194.5 s total (r12 recording) — and `shs`
    * is nHash-INVARIANT (the distinct shingle set does not depend on
    * how many mixes run), so ONE nHash=12 table serves the Jaccard/
    * containment consumers (which need only `s`) and the LSH/
    * incremental consumers (which need `s` + the signature) alike.
    *
    * `memoKey`: when set, the table is memoized session-wide in the
    * CORPUS tier ([[Memo.cachedCorpus]] — corpus-proportional by
    * construction, so it is WRITTEN once as a derived Parquet table
    * instead of cached, see the Memo tier doc).
    * `carry` columns ride along so consumers' block keys (lang,
    * length bucket, source) need no join back to the raw table. */
  def minhashSigTable(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil, ngram: Int = 3, nHash: Int = 12,
      memoKey: Option[String] = None): DataFrame = {
    def build: DataFrame = docs
      .select((col(idCol) +: carry.map(col) :+
        expr(s"graft_minhash_sig($textCol, $ngram, $nHash)").as("ms")): _*)
      .filter(col("ms").isNotNull)
      .select((col(idCol) +: carry.map(col) :+
        col("ms.shs").as("s", sigMeta(ngram, textCol))) ++
        (0 until nHash).map(i =>
          element_at(col("ms.sig"), i + 1).as(s"mh$i")): _*)
    memoKey match {
      // the encoding is in the key: a written corpus-tier table of an
      // earlier encoding then sits under another directory, unread
      case Some(mk) => Memo.cachedCorpus(
        s"$mk/sigTable/$idCol/$textCol/${carry.mkString(",")}/$ngram/$nHash/" +
          shingleEncoding)(build)
      case None => build
    }
  }

  /** Per-document simhash SIGNATURE TABLE — [[simhashSignatures]]
    * memoized in the corpus tier under `memoKey` (same rationale as
    * [[minhashSigTable]]; (id, simhash) is two narrow columns, the
    * smallest corpus-tier frame). */
  def simhashSigTable(docs: DataFrame, idCol: String, textCol: String,
      memoKey: Option[String] = None): DataFrame =
    memoKey match {
      case Some(mk) => Memo.cachedCorpus(s"$mk/simhashSig/$idCol/$textCol")(
        simhashSignatures(docs, idCol, textCol))
      case None => simhashSignatures(docs, idCol, textCol)
    }

  /** TRAIN/SERVE SPLIT of the text-dedup signature stage, write half —
    * the [[minhashSigTable]] written ONCE as a Parquet SIGNATURE STORE
    * (the S4 sink discipline the ANN index got in
    * [[Similarity.writeIvfPqIndex]], and exactly the conversion the
    * corpus-tier memo makes: the per-document derived table is
    * WRITTEN instead of cached). Two
    * datasets under `dir`:
    *
    *  - `sig/` (id, s: array<bigint>, mh0..mh{nHash−1}: bigint): one
    *    row per corpus document — its distinct shingle-md5 set (each
    *    digest two big-endian longs, pairs sorted: [[shingleEncoding]])
    *    and its minhash signature. The only corpus-sized dataset; NO
    *    raw text rides along, so serving jobs never touch the corpus
    *    text again.
    *  - `meta/` (id_col, text_col, ngram, n_hash, encoding): one row of
    *    structural parameters — they are INVISIBLE in the signature
    *    data (shingles are hashes), so the store carries them
    *    explicitly and [[searchMinhashSigStore]] validates/derives from
    *    them instead of trusting the caller. `encoding` is
    *    [[shingleEncoding]]; serve, append and compact refuse a store
    *    whose `meta/` records another encoding (one written as
    *    [[retiredShingleEncoding]] holds `array<binary>` digests) or
    *    none (a store written before the field existed holds hex
    *    strings). Written LAST: a `meta/_SUCCESS` marker implies the
    *    whole store landed, which is what skip-if-exists callers should
    *    test.
    *
    * `sigTable`: a pre-built (typically memoized) [[minhashSigTable]]
    * of the SAME docs/textCol/ngram with at least `nHash` minhashes —
    * the text stage is then skipped and the store is a projection of
    * it. Shingle sets and signatures round-trip Parquet exactly (all
    * longs), so a serve over the store is row-identical to the inline
    * incremental chain — proven through the oracle gate
    * by the `dedup_sig_store_serve` registry query.
    *
    * REWRITE protocol: on an overwrite of an existing store the old
    * `meta/_SUCCESS` is deleted FIRST — otherwise the marker-last
    * invariant holds only for the first write, and a skip-if-exists
    * gate (or a concurrent serve) observing the stale marker would
    * read a half-rewritten `sig/`. With the marker bracketing the
    * rewrite, `meta/_SUCCESS` ⇒ the whole store landed, always.
    *
    * Store size: Parquet dictionary-encodes each INT64 half on its own,
    * which on a small corpus dedups repeated digests less well than a
    * dictionary of whole 16-byte BINARY digests did (sf0.1: 1.12 →
    * 1.50 MB). At corpus scale the 1 MB dictionary page overflows and
    * Parquet falls back to PLAIN, where two INT64 halves (16 B) are
    * smaller than a length-prefixed BINARY digest (20 B). */
  def writeMinhashSigStore(docs: DataFrame, idCol: String, textCol: String,
      dir: String, ngram: Int = 3, nHash: Int = 12,
      sigTable: Option[DataFrame] = None): Unit = {
    val sig = sigTable match {
      case Some(st) =>
        requireSigProvenance(st, textCol, Some(ngram))
        require((0 until nHash).forall(i => st.columns.contains(s"mh$i")),
          s"sigTable carries ${st.columns.count(c => c.startsWith("mh") &&
            c.drop(2).forall(_.isDigit))} minhashes, the store needs nHash=$nHash")
        st.select(col(idCol) +: col("s") +:
          (0 until nHash).map(i => col(s"mh$i")): _*)
      case None => minhashSigTable(docs, idCol, textCol, Nil, ngram, nHash)
    }
    StoreFs.deleteMarker(docs.sparkSession, s"$dir/meta")
    // serve-side file sizing (StoreFs.sizedForWrite): sig/ is re-scanned
    // by every serve, so its file count is every serve's task count
    StoreFs.sizedForWrite(sig).write.mode("overwrite").parquet(s"$dir/sig")
    docs.sparkSession.range(1)
      .select(lit(idCol).as("id_col"), lit(textCol).as("text_col"),
        lit(ngram).as("ngram"), lit(nHash).as("n_hash"),
        lit(shingleEncoding).as("encoding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The fixed schema of a store's `meta/`, which only
    * [[writeMinhashSigStore]] writes: reading with it skips Parquet's
    * schema-inference job, and a field the files lack reads as NULL. */
  private val storeMetaSchema = StructType(Seq(
    StructField("id_col", StringType), StructField("text_col", StringType),
    StructField("ngram", IntegerType), StructField("n_hash", IntegerType),
    StructField("encoding", StringType)))

  /** The store's `meta/` row, refused unless it records
    * [[shingleEncoding]] and every structural field: a store of another
    * encoding (or of none — one written before `meta/` had the field,
    * holding hex strings) would be misread by every consumer of `s`,
    * and a missing `n_hash` must never read as 0 minhashes. */
  private def storeMeta(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): org.apache.spark.sql.Row = {
    val meta = spark.read.schema(storeMetaSchema).parquet(s"$storeDir/meta").head()
    val enc = Option(meta.getAs[String]("encoding")).getOrElse("none recorded")
    require(enc == shingleEncoding,
      s"store at $storeDir has shingle encoding '$enc', this engine reads " +
        s"'$shingleEncoding' — rebuild the store with writeMinhashSigStore")
    storeMetaSchema.fieldNames.foreach(f => require(!meta.isNullAt(meta.fieldIndex(f)),
      s"store at $storeDir records no '$f' in meta/ — rebuild the store " +
        "with writeMinhashSigStore"))
    meta
  }

  /** APPEND half of the signature store — the continuous-ingest
    * lifecycle's middle step: once a checked shard is ADMITTED to the
    * corpus, its signatures join the store so the NEXT shard's serve
    * sees it, without rewriting the corpus-sized `sig/` dataset. Each
    * appended shard lands as its own dataset under
    * `sig_append/<shardId>/` (overwrite mode → re-appending the same
    * shardId is idempotent, the skip-if-exists discipline per shard),
    * and [[searchMinhashSigStore]] reads `sig/` plus every completed
    * append — so store + appends is ALWAYS the current corpus. The
    * shard's signatures are computed with the STORE's ngram/nHash
    * (from `meta/`, never the caller), keeping every append
    * band-comparable with the base. `shardId` must be unique per
    * admitted shard (a crawl-batch id; reusing one replaces that
    * shard's rows — the correction path). [[compactMinhashSigStore]]
    * periodically folds `sig_append/` into `sig/`; both layouts serve
    * identically.
    *
    * The shard is STAGED then promoted: written complete under
    * `sig_append_tmp/<shardId>/`, then renamed over any previous
    * `sig_append/<shardId>/`. An in-place overwrite would delete the
    * old shard's `_SUCCESS` and recreate it file-by-file — a concurrent
    * serve that listed appends just before the rewrite would read a
    * partially-deleted dataset. With staging, the re-append correction
    * path exposes only complete datasets; the staging dir lives OUTSIDE
    * `sig_append/` so an in-flight stage is invisible to the serve-side
    * listing.
    *
    * The promotion itself is MARKER-BRACKETED, not rename-trusted:
    * `rename` is atomic on `file:`/HDFS but a copy+delete on object
    * stores, where `_SUCCESS` (sorting before `part-*`) could land
    * while data files are still copying — exactly the half-written
    * serve the marker discipline exists to rule out. So the stage's
    * own `_SUCCESS` is stripped before the rename and recreated only
    * after it returns: a lister trusts the shard strictly after every
    * data file is in place, on any filesystem. A crash inside the
    * bracket leaves an unmarked (ignored) shard dir; the retry's
    * re-stage-and-promote replaces it wholesale. */
  def appendMinhashSigStore(storeDir: String, shard: DataFrame,
      idCol: String, textCol: String, shardId: String): Unit = {
    require(shardId.nonEmpty && shardId.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"shardId must be a path-safe token, got '$shardId'")
    val spark = shard.sparkSession
    require(StoreFs.datasetComplete(spark, s"$storeDir/meta"),
      s"store at $storeDir is incomplete (no meta/_SUCCESS marker) — " +
        "appends need a landed base store")
    // a shardId already FOLDED into sig/ by compaction cannot be
    // re-appended: its old rows are indistinguishable inside the base,
    // so an overwrite-correction would DUPLICATE the shard instead of
    // replacing it — fail loudly, the one honest answer left
    require(!compactedShards(spark, storeDir).contains(shardId),
      s"shard '$shardId' was already compacted into $storeDir/sig — " +
        "re-appending would duplicate its rows; corrections after " +
        "compaction require rebuilding the base store")
    val meta = storeMeta(spark, storeDir)
    val storeText = meta.getAs[String]("text_col")
    require(storeText == textCol,
      s"store at $storeDir was built over '$storeText', " +
        s"this append carries '$textCol'")
    val tmp = s"$storeDir/sig_append_tmp/$shardId"
    StoreFs.sizedForWrite(
      minhashSigTable(shard, idCol, textCol, Nil,
          meta.getAs[Int]("ngram"), meta.getAs[Int]("n_hash"))
        .withColumnRenamed(idCol, meta.getAs[String]("id_col")))
      .write.mode("overwrite").parquet(tmp)
    val dest = s"$storeDir/sig_append/$shardId"
    StoreFs.deleteMarker(spark, tmp) // stage carries no commit marker
    StoreFs.promote(spark, tmp, dest)
    StoreFs.createMarker(spark, dest) // marker lands after ALL data files
  }

  /** COMPACTION of the signature store: folds every completed
    * `sig_append/<shardId>/` dataset into the base `sig/`, so the
    * serve-side scan goes back to ONE dataset — the maintenance job
    * the append lifecycle owes at 100 TB, where thousands of daily
    * shard datasets would otherwise degrade the union-of-paths read
    * (per-dataset footer reads, small-file pressure, listing cost).
    * Returns true when a compaction ran; false = no appends, store
    * untouched — so re-running compaction is a no-op, not a rewrite.
    *
    * Protocol (marker-bracketed, as [[writeMinhashSigStore]]'s
    * rewrite): the folded dataset is written complete BESIDE the live
    * one (`sig_compact/`), and a FOLDED-SHARD LEDGER
    * (`shards_compacted/`: one shard_id row per ever-folded append,
    * old ledger ∪ this fold) is staged the same way; then
    * `meta/_SUCCESS` is deleted, both datasets are promoted, the
    * consumed appends are removed, and the marker is restored LAST —
    * an observer either sees the old layout, or an incomplete store
    * (no marker), or the compacted one; never a half-fold.
    *
    * The ledger is what keeps the per-shard lifecycle meaningful after
    * the fold erases `sig_append/<id>/`: "is this shard admitted?"
    * remains answerable ([[minhashShardAdmitted]] — appended OR
    * folded), and [[appendMinhashSigStore]] refuses a folded shardId
    * loudly (its rows are indistinguishable inside `sig/`, so an
    * overwrite-"correction" would silently DUPLICATE the shard —
    * exactly the skip-if-exists caller bug this ledger prevents).
    *
    * Serving is layout-blind by construction: [[searchMinhashSigStore]]
    * reads base ∪ completed appends, and compaction changes only which
    * side of that union holds the rows — proven row-identical by
    * `LibraryOpsSpec`'s compaction spec and the
    * `dedup_sig_store_compact_serve` oracle row. */
  def compactMinhashSigStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Boolean = {
    val appends = StoreFs.completedChildren(spark, s"$storeDir/sig_append")
    if (appends.isEmpty) {
      // a compaction that crashed between its promotes and the marker
      // restore left a fully consistent store gated off forever (this
      // early exit used to run before any marker logic could) — repair
      // that one distinguishable crash state instead of refusing
      restorePostPromoteMarker(spark, storeDir)
      return false
    }
    require(StoreFs.datasetComplete(spark, s"$storeDir/meta"),
      s"store at $storeDir is incomplete (no meta/_SUCCESS) — refusing to compact")
    storeMeta(spark, storeDir)
    import spark.implicits._
    // compaction is WHERE small files get healed: the fold re-sizes the
    // union of base + shard datasets to the serve-side file target
    StoreFs.sizedForWrite(
        spark.read.parquet((s"$storeDir/sig" +: appends): _*))
      .write.mode("overwrite").parquet(s"$storeDir/sig_compact")
    val foldedIds = appends
      .map(p => new org.apache.hadoop.fs.Path(p).getName) ++
      compactedShards(spark, storeDir)
    foldedIds.distinct.sorted.toDF("shard_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$storeDir/shards_compacted_tmp")
    StoreFs.deleteMarker(spark, s"$storeDir/meta")
    StoreFs.promote(spark, s"$storeDir/sig_compact", s"$storeDir/sig")
    StoreFs.promote(spark, s"$storeDir/shards_compacted_tmp",
      s"$storeDir/shards_compacted")
    // remove ONLY the shards this fold consumed — never the whole
    // sig_append/ tree: an append admitted after the listing above
    // (its meta gate passed before our deleteMarker; its promote landed
    // during the fold write) is not in `appends`, not folded, not in
    // the ledger — blanket-deleting the tree would silently destroy it,
    // the fire-and-forget data loss this lifecycle exists to prevent.
    // Its rows simply stay on the append side of the serve union until
    // the next compaction folds them. Each folded shard's leftover
    // staging dir (a crashed re-append of the same id — live stages of
    // OTHER ids are untouched) goes with it: the ledger now refuses
    // that shardId anyway.
    appends.foreach(StoreFs.delete(spark, _))
    appends.foreach(p => StoreFs.delete(spark,
      s"$storeDir/sig_append_tmp/${new org.apache.hadoop.fs.Path(p).getName}"))
    StoreFs.createMarker(spark, s"$storeDir/meta")
    true
  }

  /** Crash repair for [[compactMinhashSigStore]]'s one self-healable
    * state: every promote landed (folded `sig/` complete, ledger
    * complete), the consumed appends are gone, but the crash hit
    * before `meta/_SUCCESS` was recreated — the store is fully
    * consistent yet every gate refuses it. That state is
    * distinguishable from a crashed BASE write (there `sig/` or the
    * meta parquet is incomplete, or no ledger exists — compaction is
    * the only ledger writer) by checking all three datasets AND that
    * the meta actually describes `sig/` (id column + exact minhash
    * count in the sig schema — a base REWRITE that crashed mid-flight
    * with changed nHash/idCol fails this and keeps refusing).
    * Residual, documented: a crashed base rewrite of a previously
    * compacted store that changed ONLY ngram/textCol is structurally
    * indistinguishable — parameter-changing rebuilds must target a
    * fresh directory (they already must: the old store's appends are
    * incomparable with the new parameters). */
  private def restorePostPromoteMarker(
      spark: org.apache.spark.sql.SparkSession, storeDir: String): Unit = {
    if (StoreFs.datasetComplete(spark, s"$storeDir/meta")) return
    if (!StoreFs.datasetComplete(spark, s"$storeDir/sig")) return
    if (!StoreFs.datasetComplete(spark, s"$storeDir/shards_compacted")) return
    if (!StoreFs.dataFilesPresent(spark, s"$storeDir/meta")) return
    val meta =
      try storeMeta(spark, storeDir)
      catch { case scala.util.control.NonFatal(_) => return }
    val sigCols = spark.read.parquet(s"$storeDir/sig").columns.toSet
    val n = meta.getAs[Int]("n_hash")
    if (sigCols.contains(meta.getAs[String]("id_col")) &&
        sigCols.contains("s") &&
        (0 until n).forall(i => sigCols.contains(s"mh$i")) &&
        !sigCols.contains(s"mh$n"))
      StoreFs.createMarker(spark, s"$storeDir/meta")
  }

  /** The folded-shard ledger of `storeDir`: every shardId
    * [[compactMinhashSigStore]] has ever folded into `sig/`. Empty for
    * a store never compacted. Driver-side read of a shard-count-sized
    * dataset (the 1-row structural-fetch class). */
  private def compactedShards(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Set[String] =
    if (!StoreFs.datasetComplete(spark, s"$storeDir/shards_compacted"))
      Set.empty
    else spark.read.parquet(s"$storeDir/shards_compacted")
      .collect().map(_.getString(0)).toSet

  /** True iff `shardId` is ADMITTED to the store's corpus: landed as a
    * completed `sig_append/<shardId>/` dataset, or already folded into
    * `sig/` by compaction. THE gate skip-if-exists append callers must
    * use — testing the append dataset alone re-admits (and therefore
    * duplicates) every shard a compaction has folded. */
  def minhashShardAdmitted(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, shardId: String): Boolean =
    StoreFs.datasetComplete(spark, s"$storeDir/sig_append/$shardId") ||
      compactedShards(spark, storeDir).contains(shardId)

  /** TRAIN/SERVE SPLIT of the text-dedup signature stage, serve half:
    * incremental near-dup of a NEW document shard against a corpus
    * whose signatures were written by [[writeMinhashSigStore]] —
    * reading ONLY the persisted store plus the shard, with no raw-text
    * lineage on the corpus side. This is the production shape for
    * continuous corpus ingest at 100 TB: one signature-extraction job
    * per corpus (or per landed shard, appending), and every subsequent
    * shard check is a scan of the store joined on band keys — re-dedup
    * cost scales with the INCREMENT.
    *
    * Mechanics: the shard's signatures are computed inline (they
    * cannot pre-exist — the rows just arrived) with the STORE's
    * ngram/nHash — structural properties read from `meta/`, never
    * trusted from the caller (a mismatch would band against
    * incomparable minima, silently surfacing nothing) — and unioned
    * with the loaded store under an is_new flag; the chain from there
    * is [[minhashLshIncremental]]'s own (one keyed band pass whose
    * bucket guard counts store ∪ shard, exact-Jaccard verify on the
    * stored shingle sets). Row-identical to running the inline
    * incremental over (corpus ∪ shard) by construction. `textCol` must
    * match the store's recorded text column — a different name is a
    * wrong-corpus signal, not a convenience to paper over. Output as
    * [[minhashLshIncremental]]: (doc_new, doc_other, other_is_new,
    * jaccard); ids must be unique across store ∪ shard. */
  def searchMinhashSigStore(storeDir: String, shard: DataFrame, idCol: String,
      textCol: String, bandRows: Int = 2, threshold: Double = 0.5,
      maxBucket: Long = defaultMaxBandBucket): DataFrame = {
    val spark = shard.sparkSession
    // gate on the commit marker FIRST: meta/_SUCCESS is written last
    // (and deleted first on rewrite/compaction), so its presence is
    // the one test that implies the whole store is readable
    require(StoreFs.datasetComplete(spark, s"$storeDir/meta"),
      s"store at $storeDir is incomplete (no meta/_SUCCESS marker) — " +
        "mid-rewrite, mid-compaction, or a crashed write")
    // 1-row structural fetch before the search jobs, as in
    // searchIvfPqIndex — adjudicated driver-side read
    val meta = storeMeta(spark, storeDir)
    val storeId = meta.getAs[String]("id_col")
    val storeText = meta.getAs[String]("text_col")
    val ngram = meta.getAs[Int]("ngram")
    val nHash = meta.getAs[Int]("n_hash")
    require(storeText == textCol,
      s"store at $storeDir was built over '$storeText', " +
        s"this call serves '$textCol'")
    val mhCols = (0 until nHash).map(i => s"mh$i")
    // the current corpus = the base store plus every COMPLETED append
    // ([[appendMinhashSigStore]] — admitted shards; an append without
    // its _SUCCESS marker is an in-flight write and is not served).
    // Discovery goes through the Hadoop FileSystem API (StoreFs), the
    // same abstraction the appends were WRITTEN with: a java.io.File
    // listing resolves only local POSIX paths, so an hdfs:// or s3a://
    // store — the production deployment — would list null → "no
    // appends" and silently miss every admitted shard's duplicates
    val appendDirs = StoreFs.completedChildren(spark, s"$storeDir/sig_append")
    val storeSig = spark.read.parquet(
      (s"$storeDir/sig" +: appendDirs): _*)
    require(mhCols.forall(storeSig.columns.contains),
      s"store sig/ at $storeDir lacks the $nHash minhash columns meta/ declares")
    val store = storeSig.select(col(storeId).as(idCol) +:
      lit(false).as("is_new") +: col("s") +: mhCols.map(col): _*)
    // the shard's signatures are the one persist of the serve, and it
    // is shard-sized: the unioned frame has three readers (the keyed
    // band pass and both verify sides), and without it each would
    // re-hash the shard's text. The STORE side stays an uncached scan
    // per reader (at 100 TB the store is served from disk, not pinned
    // in executor memory), and the corpus-sized band rows stream into
    // the keyed pass unpersisted
    val shardSig = CacheScope.persist(
      minhashSigTable(shard, idCol, textCol, Nil, ngram, nHash)
        .select(col(idCol) +: lit(true).as("is_new") +:
          col("s") +: mhCols.map(col): _*))
    val union = store.unionByName(shardSig)
      .withColumn("s", col("s").as("s", sigMeta(ngram, textCol)))
    minhashLshIncremental(shard, idCol, textCol, "is_new", nHash, bandRows,
      threshold, ngram, maxBucket, sigTable = Some(union))
  }

  /** Default for [[minhashLsh]]'s `maxBucket`: a band bucket of 4096
    * docs caps the bucket's candidate output at ~8.4M pairs — one
    * shuffle partition of work — while sitting orders of magnitude above
    * any honest bucket population (bands are 62-bit keys; collisions
    * beyond Jaccard similarity are ~0). */
  val defaultMaxBandBucket = 4096L

  /** MinHash + LSH banding near-dup pairs: shingle → one md5 → 31-bit
    * integer → `nHash` affine-mix minhashes → `nHash/bandRows` bands →
    * one keyed pass over the band buckets ([[bucketMembers]]) whose
    * members expand into candidate pairs → exact Jaccard verify ≥
    * `threshold`. Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * `maxBucket` is the degenerate-corpus guard (analog of
    * [[ngramJaccard]]'s `maxDf`), applied in [[bucketMembers]]: a
    * (band, bkey) bucket holding more than `maxBucket` docs is dropped
    * from candidate generation entirely. Without it, 10⁶ boilerplate
    * near-identical docs collapse into ONE bucket that expands into
    * ~5·10¹¹ candidate pairs — the one O(n²) path the banded design
    * otherwise prevents. The recall trade, stated precisely: docs whose EVERY band bucket is
    * over-cap surface no pairs from this operator — but identical docs
    * are caught upstream by exact dedup (cheaper and exact), and a doc
    * flood large enough to blow the cap is precisely the boilerplate
    * exact dedup removes. With no bucket over the cap the result is
    * bit-identical to the uncapped form (the committed corpora never
    * exceed it; the DuckDB oracle replays the same guard).
    *
    * `memoKey`: when set, the verified pair OUTPUT is memoized
    * session-wide ([[Memo]]) under `memoKey/params` — three registry
    * consumers (the pair report, the CC clustering, the curation
    * funnel) run the identical signature→band→verify chain on the same
    * corpus, and the pairs frame is output-sized (never larger than
    * the near-dup mass the corpus owes), so one materialization serves
    * all. The caller's key must identify the corpus.
    *
    * `sigTable`: a pre-built [[minhashSigTable]] of the SAME docs /
    * textCol / ngram with nHash ≥ this call's — the tokenize stage is
    * then skipped and the per-doc frame is read straight from it
    * (typically the memoized corpus-tier table five family members
    * share). Results are bit-identical by construction: without one
    * the operator builds the same table itself. A supplied table is
    * used as-is by SEVERAL plan branches (bands + both verify sides)
    * with no persist layered on top — the memoized table is already
    * a written table and a projection of it re-scans it; a RAW
    * unpersisted table would re-run its text stage per branch, so
    * persist it (or pass `memoKey` to [[minhashSigTable]]) before
    * handing it in. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      nHash: Int = 12, bandRows: Int = 2, threshold: Double = 0.5,
      ngram: Int = 3, maxBucket: Long = defaultMaxBandBucket,
      memoKey: Option[String] = None,
      sigTable: Option[DataFrame] = None): DataFrame = {
    def build: DataFrame = {
      val (perDoc, candRows) =
        minhashBandParts(docs, idCol, textCol, nHash, bandRows, ngram, maxBucket,
          sigTable)
      val cand = candRows.distinct()
      val sa = perDoc.select(col(idCol).as("doc_a"), col("s").as("s_a"))
      val sb = perDoc.select(col(idCol).as("doc_b"), col("s").as("s_b"))
      // Verify join shape (r14, the incremental-verify discipline —
      // measured 4.3 → 3.1 s on the memo build at the 10x scale): the
      // narrow pair frame joins each corpus-wide shingle-set side under
      // a SHUFFLE_HASH hint — without it Catalyst's under-threshold
      // estimate of the cached array table serializes the whole corpus
      // side through one driver broadcast (an OOM shape at real corpus
      // sizes); hash-partitioned on the doc key, AQE broadcasts the
      // pair frame instead and the arrays move once, in parallel.
      jaccardVerify(cand.join(sb.hint("shuffle_hash"), "doc_b")
          .join(sa.hint("shuffle_hash"), "doc_a"),
        "s_a", "s_b", threshold, "doc_a", "doc_b")
    }
    memoKey match {
      case Some(mk) => Memo.cached(
        s"$mk/minhashPairs/$idCol/$textCol/$nHash/$bandRows/$threshold/$ngram/$maxBucket")(build)
      case None => build
    }
  }

  /** The banded candidate stage of [[minhashLsh]] alone: every
    * (doc_a, doc_b) band-bucket co-occurrence BEFORE the cross-band
    * distinct and the Jaccard verify — the Σ_bucket pop² volume the
    * population cap bounds. Public for the scale accounting
    * (tools.ScaleAccounting): candidate count is what a plan can
    * waste, emitted count is what the corpus owes. */
  def minhashLshCandidates(docs: DataFrame, idCol: String, textCol: String,
      nHash: Int = 12, bandRows: Int = 2, ngram: Int = 3,
      maxBucket: Long = defaultMaxBandBucket,
      sigTable: Option[DataFrame] = None): DataFrame =
    minhashBandParts(docs, idCol, textCol, nHash, bandRows, ngram, maxBucket,
      sigTable)._2

  /** Shared signature/banding/candidate chain of [[minhashLsh]] /
    * [[minhashLshCandidates]]: (perDoc signatures+shingles, pre-distinct
    * band pairs). */
  private def minhashBandParts(docs: DataFrame, idCol: String, textCol: String,
      nHash: Int, bandRows: Int, ngram: Int, maxBucket: Long,
      sigTable: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    // The whole shingle→md5→mix→min stage is per-document, so it runs
    // as ONE row-local native expression (functions.MinhashSig) and
    // ZERO shuffles happen before band bucketing. The persist covers
    // the three consumers of the narrow per-doc frame (bands + both
    // verify sides) — a caller-supplied sigTable is already memoized,
    // so no scoped persist is layered on top (it would duplicate the
    // cached bytes).
    sigTable.foreach(requireSigProvenance(_, textCol, Some(ngram)))
    val perDoc = sigTable.getOrElse(CacheScope.persist(
        minhashSigTable(docs, idCol, textCol, Nil, ngram, nHash)))
      .select(col(idCol) +: col("s") +: (0 until nHash).map(i => col(s"mh$i")): _*)
    // Population guard and candidate generation in ONE keyed pass
    // (bucketMembers): the band stream is grouped on (band, bkey) once,
    // an over-cap bucket is dropped whole and never expanded into its
    // quadratic candidate set, and every kept bucket expands its
    // members into the a < b pairs.
    val buckets = bucketMembers(explodeBands(perDoc, Seq(idCol), nHash, bandRows),
      Seq("band", "bkey"), Seq(idCol), maxBucket)
    val candRows = memberPairs(buckets, Seq("band", "bkey"),
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    (perDoc, candRows)
  }

  /** INCREMENTAL MinHash near-dup: near-dup pairs of a NEW document
    * batch against the whole corpus (old ∪ new) WITHOUT re-pairing
    * old×old — the daily-increment shape of production dedup, where
    * yesterday's 100 TB corpus is already deduped and only today's
    * crawl shard needs checking. Same signature chain, banding and
    * verify as [[minhashLsh]] (a (new, new) pair surfaces with exactly
    * the pairs/jaccard minhashLsh would emit for it); the candidate
    * join is new-side bands ⋈ all bands, so its volume is
    * Σ_bucket |new_b|·|all_b| — the |new|/|all| fraction of the full
    * self-join. Re-dedup cost scales with the INCREMENT, not the
    * corpus.
    *
    * `isNewCol`: boolean column marking the increment. Pairs are
    * emitted as (doc_new, doc_other): every new×old pair once
    * (new side first), every new×new pair once (doc_new < doc_other).
    * `maxBucket` guards the new side against degenerate buckets
    * exactly as in [[minhashLsh]] (bucket population counted over ALL
    * docs — a flood of old boilerplate also disables its bucket).
    * Output: (doc_new, doc_other, other_is_new, jaccard).
    *
    * `sigTable`: as in [[minhashLsh]] — a pre-built [[minhashSigTable]]
    * that additionally carries `isNewCol` (typically a projection the
    * caller layers over the shared memoized table). */
  def minhashLshIncremental(docs: DataFrame, idCol: String, textCol: String,
      isNewCol: String, nHash: Int = 12, bandRows: Int = 2,
      threshold: Double = 0.5, ngram: Int = 3,
      maxBucket: Long = defaultMaxBandBucket,
      sigTable: Option[DataFrame] = None): DataFrame = {
    val (perDoc, candRows) = minhashIncBandParts(docs, idCol, textCol,
      isNewCol, nHash, bandRows, ngram, maxBucket, sigTable)
    val cand = candRows.distinct()
    // doc_new is ALWAYS an increment row, so the a-side verify join
    // needs only the new docs' shingle sets — increment-sized, not
    // corpus-sized (at a 20% increment this is the difference between
    // AQE broadcasting the side and shuffling the full array table; at
    // 100 TB it is the difference between a shard-sized and a
    // corpus-sized exchange). The b-side spans old ∪ new and stays full.
    val sa = perDoc.filter(col("is_new"))
      .select(col(idCol).as("doc_new"), col("s").as("s_a"))
    val sb = perDoc.select(col(idCol).as("doc_other"), col("s").as("s_b"))
    // Verify join shape is the scale lever here (measured r14, 10x
    // scale: 4.09 → ~1.9 s in the query's recording): the corpus-wide
    // b-side joins FIRST against the narrow pair frame UNDER A
    // SHUFFLE_HASH HINT — without it, Catalyst's size estimate of the
    // cached array table lands under the broadcast threshold and the
    // whole corpus-sized shingle-set table serializes through the
    // driver (measured 3.35 s vs 1.27 s for the hash-partitioned join;
    // at 100 TB a corpus-side broadcast is an OOM, so the hint is also
    // the honest cluster plan: both sides hash-partition on the doc
    // key,
    // and the arrays move once, in parallel). The increment-sized
    // a-side joins LAST: the s_b payload then rides a map-side
    // broadcast join (shard-sized build) instead of re-exchanging.
    // The a-first order carried s_a arrays into the b-join's exchange —
    // ~5 KB per candidate row of shuffle the arithmetic never needed.
    jaccardVerify(
      cand.join(sb.hint("shuffle_hash"), "doc_other").join(sa, "doc_new"),
      "s_a", "s_b", threshold, "doc_new", "doc_other", "other_is_new")
  }

  /** The banded candidate stage of [[minhashLshIncremental]] alone:
    * every (doc_new, doc_other, other_is_new) new-side × all-side
    * band co-occurrence BEFORE the distinct and the Jaccard verify —
    * the Σ_bucket |new_b|·|all_b| volume the cap bounds. Public for
    * the scale accounting (tools.ScaleAccounting). */
  def minhashLshIncrementalCandidates(docs: DataFrame, idCol: String,
      textCol: String, isNewCol: String, nHash: Int = 12, bandRows: Int = 2,
      ngram: Int = 3, maxBucket: Long = defaultMaxBandBucket,
      sigTable: Option[DataFrame] = None): DataFrame =
    minhashIncBandParts(docs, idCol, textCol, isNewCol, nHash, bandRows,
      ngram, maxBucket, sigTable)._2

  /** Shared chain of [[minhashLshIncremental]] /
    * [[minhashLshIncrementalCandidates]]: (perDoc, pre-distinct
    * candidate rows).
    *
    * Scale note: the exploded band frame is CORPUS-proportional
    * (nHash/bandRows narrow rows per document) and has ONE reader, the
    * keyed [[bucketMembers]] pass that both guards and expands the
    * buckets. So it is never persisted: on the serve path it is one
    * scan of the signature store, streamed into the aggregate, and
    * nothing corpus-sized is pinned in executor storage. */
  private def minhashIncBandParts(docs: DataFrame, idCol: String,
      textCol: String, isNewCol: String, nHash: Int, bandRows: Int,
      ngram: Int, maxBucket: Long,
      sigTable: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    sigTable.foreach(requireSigProvenance(_, textCol, Some(ngram)))
    // NULL is_new coalesces to false (old corpus): left as-is it would
    // fail BOTH candidate predicates (filter(is_new) and !b.is_new each
    // evaluate NULL) and the row could never pair at all (r8 ADVICE).
    val perDoc = sigTable.getOrElse(CacheScope.persist(
        minhashSigTable(docs, idCol, textCol, Seq(isNewCol), ngram, nHash)))
      .select(col(idCol) +:
        coalesce(col(isNewCol).cast("boolean"), lit(false)).as("is_new") +:
        col("s") +: (0 until nHash).map(i => col(s"mh$i")): _*)
    // one keyed pass over the band stream (bucketMembers): the bucket
    // population counts old and new docs alike, and only pairs with a
    // new `a` side expand
    val buckets = bucketMembers(explodeBands(perDoc, Seq(idCol, "is_new"), nHash, bandRows),
      Seq("band", "bkey"), Seq(idCol, "is_new"), maxBucket)
    val candRows = memberPairs(buckets, Seq("band", "bkey"),
        // old partner: any order (pair surfaces once, new side first);
        // new partner: a < b so the two new rows emit the pair once
        !col("b.is_new") && col(s"a.$idCol") =!= col(s"b.$idCol") ||
          col("b.is_new") && col(s"a.$idCol") < col(s"b.$idCol"),
        aSide = col("a.is_new"))
      .select(col(s"a.$idCol").as("doc_new"), col(s"b.$idCol").as("doc_other"),
        col("b.is_new").as("other_is_new"))
    (perDoc, candRows)
  }

  /** One banded-signature row per (document, band) — the row-local
    * minhash chain of [[minhashLsh]] (same signature table, same band
    * keys) WITHOUT the candidate join or any persist, so it runs on a
    * STREAMING frame as well as a batch one: every stage is a
    * projection (signature expression → band explode). This is the
    * per-arrival half of ingest-time near-dup
    * ([[graft.streaming.StreamOps.streamingNearDup]]); the batch half
    * builds the old-corpus band index with the same call. Output:
    * (idCol, s — the shingle set for the verify step, band, bkey);
    * documents shorter than `ngram` tokens vanish (NULL signature),
    * exactly as in the batch operators.
    *
    * `sigTable`: as in [[minhashLsh]] — a pre-built [[minhashSigTable]]
    * replaces the text stage (the static-index half of ingest-time
    * near-dup reads the memoized corpus table this way; the STREAMING
    * half keeps hashing inline — a memo cannot serve rows that have
    * not arrived yet). */
  def minhashBandRows(docs: DataFrame, idCol: String, textCol: String,
      nHash: Int = 12, bandRows: Int = 2, ngram: Int = 3,
      sigTable: Option[DataFrame] = None): DataFrame = {
    sigTable.foreach(requireSigProvenance(_, textCol, Some(ngram)))
    explodeBands(
      sigTable.getOrElse(minhashSigTable(docs, idCol, textCol, Nil, ngram, nHash)),
      Seq(idCol, "s"), nHash, bandRows)
  }

  /** Connected components over an undirected edge list — the stage that
    * turns near-dup PAIRS (minhash/simhash/cosine output) into canonical
    * dedup CLUSTERS: every node is labeled with the smallest id reachable
    * from it, so "keep min(cluster), drop the rest" is one filter away.
    *
    * Algorithm: alternating large-star / small-star (the MapReduce
    * connected-components construction of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — each round is two
    * equi-join + groupBy passes over the edge set, and the edge set
    * converges to per-component stars centered at the minimum id in
    * O(log² n) rounds REGARDLESS of component diameter. That bound is
    * why this beats naive min-label propagation at corpus scale: a
    * pathological near-dup CHAIN (doc₁≈doc₂≈…≈docₖ, common in crawl
    * data with incremental edits) costs propagation O(k) rounds but
    * this construction O(log² k).
    *
    * Each round's output is CHECKPOINTED: the logical plan of round i
    * references round i−1 several times (symmetrization + the min
    * join), so without truncation the plan tree grows exponentially in
    * rounds and Catalyst analysis — not execution — becomes the
    * bottleneck. The default is `localCheckpoint` (executor-block
    * storage — right for local mode and short-lived jobs); pass
    * `checkpointDir` to switch every round to RELIABLE `checkpoint()`
    * against that directory (set as the context's checkpoint dir if
    * none is set yet) — the cluster deployment mode, where a lost
    * executor must not kill a multi-round run over a 100 TB-derived
    * edge set. Results are identical either way; only fault tolerance
    * and checkpoint IO differ.
    *
    * Termination: the algorithm's fixpoints are exactly the min-rooted
    * STAR FORESTS, and star-forest-ness is testable in ONE aggregate
    * job — orient every edge (hi → lo); stars ⇔ each hi occurs exactly
    * once AND no node is both a hi and a lo — so the loop checks the
    * edge set directly instead of running an extra confirm round plus
    * per-round count/except jobs. Near-dup pair sets whose components
    * are already disjoint pairs (the common dedup shape) pass the test
    * immediately and run ZERO rounds. Throws after `maxIter`
    * non-converged rounds rather than return a partial labeling — at
    * the documented bound, non-convergence is a bug, not a data
    * property. Self-loops, duplicate and reversed edges, and null
    * endpoints are tolerated (dropped/normalized up front).
    *
    * Output: (node, comp) — one row per distinct endpoint in `edges`,
    * comp = min id of the node's component. Nodes with no edge are not
    * emitted (a doc in no near-dup pair is its own singleton cluster;
    * emitting the whole corpus here would shuffle it for nothing). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, localFinishEdges: Long = 1L << 22,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIter >= 1, s"connectedComponents needs maxIter >= 1, got $maxIter")
    val ckpt = Graphs.ckpt(checkpointDir, "dedup")
    def clean(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v")).distinct()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // large-star: ∀u, connect every neighbor v > u to m = min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      clean(s.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: orient (hi → lo); ∀u, connect u and every lo-neighbor
    // to m = min of them (all lo < u, so m = min(lo))
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
      clean(oriented.join(mins, "u").select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v"))))
    }
    // min-rooted star forest ⇔ fixpoint of the round function: with
    // edges oriented (hi → lo), every hi occurs exactly once and no
    // node is both a hi and a lo. One aggregate job on the (small,
    // pair-proportional) edge set per round.
    def isStarForest(e: DataFrame): Boolean = {
      val o = e.select(greatest(col("u"), col("v")).as("hi"),
        least(col("u"), col("v")).as("lo"))
      o.select(col("hi").as("n"), lit(1L).as("h"), lit(0L).as("l"))
        .union(o.select(col("lo").as("n"), lit(0L).as("h"), lit(1L).as("l")))
        .groupBy("n").agg(sum("h").as("nh"), sum("l").as("nl"))
        .filter(col("nh") > 1 || (col("nh") > 0 && col("nl") > 0))
        .isEmpty
    }
    // Local finish: once the (checkpointed) edge set is under
    // `localFinishEdges`, ONE narrow task runs an index-compressed
    // union-find over it — no hash map, no boxed retention: endpoints
    // are read into two primitive long arrays, sorted+deduped into an
    // id array, parents are Int indices. This is the standard
    // production hybrid (iterate the star rounds only while the graph
    // is big; near-dup pair sets are pairs-proportional and usually
    // tiny next to the corpus, often under the threshold at round 0),
    // and it converts O(log² n) tiny scheduled jobs into one. The
    // threshold bounds the task's working set: at the default 2²²
    // edges the endpoint arrays are 2×32 MB, the sort/dedup scratch
    // another 64 MB, and ids/parent/rank/minId ≤ 84 MB — ~250 MB
    // on-heap in the single task, sized for a default executor.
    // Integral node ids only — other types take the iterative path to
    // its fixpoint.
    val nodeType = edges.schema(srcCol).dataType
    val integralNode = nodeType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    def localFinish(e: DataFrame): DataFrame = {
      val sess = e.sparkSession
      import sess.implicits._
      val comps = e.select(col("u").cast("long"), col("v").cast("long"))
        .as[(Long, Long)].coalesce(1)
        .mapPartitions { it =>
          // retain the edges as two primitive long arrays — the encoder
          // hands out tuples, but none survive the pass
          val ub = new scala.collection.mutable.ArrayBuilder.ofLong
          val vb = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { e => ub += e._1; vb += e._2 }
          val us = ub.result()
          val vs = vb.result()
          val ids = {
            val a = new Array[Long](us.length * 2)
            var i = 0
            while (i < us.length) { a(2 * i) = us(i); a(2 * i + 1) = vs(i); i += 1 }
            java.util.Arrays.sort(a)
            var n = 0
            i = 0
            while (i < a.length) { if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }; i += 1 }
            java.util.Arrays.copyOf(a, n)
          }
          val parent = Array.tabulate(ids.length)(identity)
          val rank = new Array[Byte](ids.length)
          def find(x: Int): Int = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          var ei = 0
          while (ei < us.length) {
            val ra = find(java.util.Arrays.binarySearch(ids, us(ei)))
            val rb = find(java.util.Arrays.binarySearch(ids, vs(ei)))
            if (ra != rb) {
              if (rank(ra) < rank(rb)) parent(ra) = rb
              else if (rank(rb) < rank(ra)) parent(rb) = ra
              else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
            }
            ei += 1
          }
          // comp = min id per root; ids are sorted ascending, so the
          // first index seen for a root IS its component minimum
          val minId = new Array[Long](ids.length)
          java.util.Arrays.fill(minId, Long.MaxValue)
          var i = 0
          while (i < ids.length) {
            val r = find(i)
            if (ids(i) < minId(r)) minId(r) = ids(i)
            i += 1
          }
          ids.indices.iterator.map(i => (ids(i), minId(find(i))))
        }
      comps.toDF("node", "comp")
        .select(col("node").cast(nodeType).as("node"),
          col("comp").cast(nodeType).as("comp"))
    }
    var cur = clean(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull))
      .transform(ckpt)
    if (integralNode && cur.count() <= localFinishEdges) return localFinish(cur)
    var converged = isStarForest(cur)
    var round = 0
    while (!converged && round < maxIter) {
      cur = ckpt(smallStar(largeStar(cur)))
      if (integralNode && cur.count() <= localFinishEdges) return localFinish(cur)
      converged = isStarForest(cur)
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    // converged edge set = stars centered at each component's min id:
    // comp(n) = min over the symmetrized neighborhood, floored by n itself
    sym(cur).groupBy("u")
      .agg(least(min(col("v")), col("u")).as("comp"))
      .select(col("u").as("node"), col("comp"))
  }

  /** Blocked n-gram Jaccard near-dup pairs via an inverted-index join:
    * candidates must share a shingle AND every `blockCols` value; shared
    * shingles are counted per pair and J = inter/(nA+nB−inter). The join
    * output is Σ df(shingle)² — near-linear in the corpus — and
    * result-identical to the quadratic all-pairs-in-block form (a pair
    * above any positive threshold shares ≥ 1 shingle).
    *
    * `maxDf` is the hot-shingle guard that bounds Σ df² under a
    * DEGENERATE corpus (one boilerplate shingle shared by 10⁶ docs in a
    * block would otherwise emit 10¹² join rows — the structural cap the
    * banded minhash path has and this path lacked): shingles whose
    * document frequency inside their (block, shingle) key exceeds the
    * cap are dropped from the INVERTED INDEX ONLY — per-doc set sizes
    * `n` are counted first, so Jaccard denominators stay exact. The
    * standard corpus-dedup trade, stated precisely: a surfaced pair's J
    * is a lower bound (shared hotter-than-cap shingles aren't counted
    * in `inter`), and a pair sharing ONLY hot shingles is not surfaced.
    * With no shingle over the cap the result is bit-identical to the
    * uncapped form. `None` (the default) disables the guard.
    *
    * `docs` must already carry `blockCols`. Output: (doc_a, doc_b, jaccard).
    *
    * Why NOT a prefix-filter join (Bayardo et al. WWW'07 AllPairs /
    * PPJoin): measured a loss on dup-dense corpora and deliberately
    * not taken (r13). Prefix indexing + per-pair exact array verify
    * cut the candidate join ~(1−t)², but on the 10x bench corpus the
    * 24.9M match rows already mostly BELONG to true pairs (231k
    * emitted pairs × ~57 shared shingles each ≈ half the volume), so
    * the intersections must be computed either way — and the count
    * aggregation does them as map-side-combinable codegen'd counting,
    * while the verify form does them as per-pair string-array
    * intersections plus a pair-keyed shuffle of the full shingle
    * arrays (measured 5.1 → 7.2 s jaccard, 6.4 → 9.1 s containment at
    * 10x). Prefix filtering pays when candidates ≫ outputs (sparse
    * similarity); corpus DEDUP at t = 0.8 on crawl-shaped data is the
    * opposite regime.
    *
    * `pairStats`: a pre-built [[ngramPairStats]] frame replacing the
    * candidate+count stage (typically the memoized table the jaccard
    * and containment queries share). Caller contract: the stats were
    * built with `minContainment <= threshold` (J <= C always — the
    * union denominator dominates the min — so the C-prefilter loses no
    * J-qualifying pair) and with blocking at least as COARSE as this
    * call's `blockCols`, restricted down to equality before passing:
    * a finer per-document block key is recovered as a row filter on
    * the carried `<key>_a`/`<key>_b` columns (exact because a pair's
    * shared-shingle count is a pair property independent of which
    * blocking surfaced it). Stats blocked FINER than the call are
    * wrong the silent way — pairs this call's blocking admits were
    * never candidates there. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double = 0.8, ngram: Int = 3,
      maxDf: Option[Long] = None, sigTable: Option[DataFrame] = None,
      pairStats: Option[DataFrame] = None): DataFrame = {
    pairStats.foreach(requirePairStatsProvenance(_, ngram, textCol, threshold,
      blockCols, maxDf))
    pairStats.getOrElse(
      ngramJaccardCandidates(docs, idCol, textCol, blockCols, ngram, maxDf, sigTable)
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("inter")))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("j"))
      .filter(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
  }

  /** Directional n-gram CONTAINMENT pairs — the asymmetric overlap
    * Jaccard is blind to: a document wholly quoted inside one 10×
    * longer scores J ≈ 0.1 (union-normalized) but containment 1.0
    * (smaller-set-normalized), and quote inclusion / page-plus-
    * boilerplate supersets are a standard near-dup class in crawl
    * corpora (the containment variant of Broder's resemblance, and the
    * reason MinHash papers define both). C = inter / min(nA, nB); the
    * pair is emitted with the CONTAINED (smaller-set) document first —
    * ties by id — so "drop doc_sub, keep doc_sup" is one filter away.
    *
    * Same inverted-index candidate stage as [[ngramJaccard]]
    * ([[ngramJaccardCandidates]] — Σ df² join volume, `maxDf` hot-
    * shingle guard, same lower-bound semantics under the cap), so the
    * incremental cost over a Jaccard pass is just the per-pair
    * normalization. Block on attributes that survive sub/superset
    * asymmetry (language — NOT length bands: a contained doc and its
    * superset land in different bands by construction). Output:
    * (doc_sub, doc_sup, containment, jaccard) — jaccard rides along so
    * consumers can separate true near-dups (high C, high J) from
    * asymmetric inclusions (high C, low J).
    *
    * `pairStats`: as in [[ngramJaccard]] — a pre-built
    * [[ngramPairStats]] frame, except containment VALIDATES the stats'
    * blocking EQUALS this call's (when the pins are present), not
    * merely no-finer: this consumer applies no further row filter, so
    * C-qualifying pairs are exactly what the prefilter keeps and
    * coarser-blocked stats would silently add cross-block pairs. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double = 0.8, ngram: Int = 3,
      maxDf: Option[Long] = None, sigTable: Option[DataFrame] = None,
      pairStats: Option[DataFrame] = None): DataFrame = {
    pairStats.foreach(requirePairStatsProvenance(_, ngram, textCol, threshold,
      blockCols, maxDf, equalBlocking = true))
    pairStats.getOrElse(
      ngramJaccardCandidates(docs, idCol, textCol, blockCols, ngram, maxDf, sigTable)
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("inter")))
      .withColumn("c", col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("c") >= threshold)
      .select(
        when(col("na") < col("nb") ||
          (col("na") === col("nb") && col("doc_a") < col("doc_b")),
          col("doc_a")).otherwise(col("doc_b")).as("doc_sub"),
        when(col("na") < col("nb") ||
          (col("na") === col("nb") && col("doc_a") < col("doc_b")),
          col("doc_b")).otherwise(col("doc_a")).as("doc_sup"),
        round(col("c"), 6).as("containment"),
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
  }

  /** The inverted-index match stage of [[ngramJaccard]] alone: one row
    * per shared (shingle, block) occurrence between a doc pair —
    * the Σ_within-block df² volume the `maxDf` gate bounds — BEFORE the
    * per-pair aggregation and the threshold. Public for the scale
    * accounting (tools.ScaleAccounting). Output: (doc_a, doc_b, na, nb),
    * one row per matched shingle. */
  def ngramJaccardCandidates(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], ngram: Int = 3,
      maxDf: Option[Long] = None, sigTable: Option[DataFrame] = None,
      carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(carry.intersect(blockCols).isEmpty && !carry.contains(idCol),
      s"carry columns must be distinct from blockCols/idCol, got $carry")
    // The distinct shingle set and its size are PER-DOCUMENT values, so
    // they come from the signature table's `s` (distinct md5s as
    // (hi, lo) long pairs — the same (sh_hi, sh_lo) keys shingles()
    // emits): the exploded index frame is a pure projection of the
    // input — no corpus-wide distinct shuffle and no per-doc count
    // window before the join, the same structural win minhashLsh took.
    // `s` is nHash-invariant, so a caller's shared nHash=12 table
    // serves this nHash-free consumer exactly as the nHash=1 table
    // built here does.
    val keep = blockCols ++ carry
    sigTable.foreach(requireSigProvenance(_, textCol, Some(ngram)))
    val sets = sigTable.getOrElse(minhashSigTable(docs, idCol, textCol, keep, ngram, 1))
      .select((col(idCol) +: keep.map(col) :+ col("s")): _*)
    // one index row per digest, keyed by both halves: k walks the
    // 1-based position of each pair's hi (an empty set explodes NULL,
    // i.e. no rows — sequence(1, -1, 2) would be refused)
    val base = sets
      .select((col(idCol) +: keep.map(col) :+ col("s") :+
        shingleCount("s").cast("long").as("n") :+
        explode(when(size(col("s")) > 0,
          sequence(lit(1), size(col("s")) - 1, lit(2)))).as("k")): _*)
      .select((col(idCol) +: keep.map(col) :+ col("n") :+
        element_at(col("s"), col("k")).as("sh_hi") :+
        element_at(col("s"), col("k") + 1).as("sh_lo")): _*)
    val capped = maxDf match {
      case Some(cap) =>
        require(cap >= 1, s"ngramJaccard needs maxDf >= 1, got $cap")
        base
          .withColumn("df", count(lit(1)).over(
            Window.partitionBy((Seq("sh_hi", "sh_lo") ++ blockCols).map(col): _*)))
          .filter(col("df") <= cap).drop("df")
      case None => base
    }
    // The exploded index skips its own persist ONLY when it is a pure
    // row-local projection of a caller-supplied (cached) per-doc
    // frame: re-deriving that per join side measured faster than
    // materializing 2.6M exploded rows at the 10x bench scale
    // (jaccard 5.1 → 4.1 s, containment neutral — a per-stage split,
    // r13; the simhash probe frame took the same treatment). The
    // INLINE text path persists regardless — Catalyst does not CSE
    // across self-join branches, so an unpersisted base would run the
    // whole tokenize/md5 stage once PER SIDE — as does the df-gate
    // WINDOW chain (running that twice re-shuffles the shingle stream).
    val ex = if (maxDf.isDefined || sigTable.isEmpty) CacheScope.persist(capped)
      else capped
    val joinCond = (Seq("sh_hi", "sh_lo") ++ blockCols)
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
    // SHUFFLE_HASH on the b side (r14, the dedup-family discipline): on
    // the unpersisted sigTable path the exploded index is a projection
    // whose size Catalyst underestimates, so the whole shingle stream
    // would serialize through one driver broadcast (measured 3.8 s vs
    // 1.5 s at the 10x scale); hash-partitioned on the (shingle, block)
    // key both sides exchange in parallel — the corpus-survivable plan.
    ex.as("a").join(ex.hint("shuffle_hash").as("b"), joinCond)
      .select(Seq(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb")) ++
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"),
          col(s"b.$c").as(s"${c}_b"))): _*)
  }

  /** The shared per-pair STATS stage of [[ngramJaccard]] /
    * [[ngramContainment]]: candidates aggregated to one row per
    * document pair — (doc_a, doc_b, na, nb, inter, `<carry>_a/_b`…) —
    * prefiltered at C = inter/min(na, nb) >= `minContainment`. This is
    * the whole cost of both measures (the Σ df² index join plus the
    * map-side-combinable count); the measures themselves are one
    * projection each, so a corpus pays the stage ONCE for the family
    * when the frame is memoized (`memoKey`, the [[minhashLsh]]
    * pair-set discipline — bounded tier: the C-prefilter keeps the
    * frame emitted-pair-sized, never candidate-sized).
    *
    * The prefilter is lossless for every downstream threshold >=
    * `minContainment`: J <= C for any pair (union >= min), so a
    * J-qualifying pair C-qualifies too. `carry` names per-DOCUMENT
    * columns (on `docs`/`sigTable`) emitted per side — a consumer with
    * a FINER per-document blocking (the jaccard query's length band)
    * recovers it as the row filter `<key>_a == <key>_b`, exact because
    * a pair's shared-shingle count does not depend on the blocking
    * that surfaced the pair. */
  def ngramPairStats(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], minContainment: Double = 0.8, ngram: Int = 3,
      maxDf: Option[Long] = None, sigTable: Option[DataFrame] = None,
      carry: Seq[String] = Nil, memoKey: Option[String] = None): DataFrame = {
    require(minContainment > 0.0,
      s"ngramPairStats needs minContainment > 0 (the prefilter bounds the " +
        s"frame to emitted pairs), got $minContainment")
    def build: DataFrame = {
      val carryAB = carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))
      // provenance rides as column metadata on `inter`, mirroring the
      // sig table's pins on `s`: every build parameter a consumer could
      // silently violate (a higher minContainment drops its qualifying
      // pairs; a finer blocking never generated them; a different
      // ngram/textCol/maxDf computed a different measure) is INVISIBLE
      // in the data, so consumers validate these when present
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("graft_ngram", ngram.toLong)
        .putString("graft_text_col", textCol)
        .putDouble("graft_min_containment", minContainment)
        .putString("graft_block_cols", blockCols.mkString(","))
        // -1 = "no df cap": a 0 sentinel would conflate maxDf=None with
        // an (illegal, but then unchecked) explicit Some(0)
        .putLong("graft_max_df", maxDf.getOrElse(-1L))
        .build()
      ngramJaccardCandidates(docs, idCol, textCol, blockCols, ngram, maxDf,
          sigTable, carry)
        .groupBy((Seq(col("doc_a"), col("doc_b"), col("na"), col("nb")) ++
          carryAB): _*)
        .agg(count(lit(1)).as("inter", meta))
        .filter(col("inter").cast("double") / least(col("na"), col("nb"))
          >= minContainment)
    }
    memoKey match {
      case Some(mk) => Memo.cached(
        s"$mk/ngramPairStats/$idCol/$textCol/${blockCols.mkString(",")}/" +
          s"$minContainment/$ngram/${maxDf.getOrElse(-1L)}/${carry.mkString(",")}")(build)
      case None => build
    }
  }

  /** Contiguous substring-overlap pairs — the token-level exact-
    * substring dedup of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), relationalized: two documents are
    * flagged when they share a verbatim run of ≥ `k + minRun − 1`
    * consecutive tokens. Where [[ngramJaccard]] measures SET overlap
    * (reordered boilerplate still matches), this demands contiguity —
    * the memorization-risk signal, caught by the suffix-array pass in
    * the paper and by a k-gram diagonal-run scan here.
    *
    * Mechanics: each doc emits its k-token window md5 keys (hi, lo)
    * with positions (FIRST occurrence per distinct gram —
    * repeated-token degenerate docs collapse instead of multiplying
    * join rows; true duplicated passages in natural text have
    * distinct grams and survive intact);
    * an inverted-index equi-join on the gram keys candidates (Σ df²
    * rows, df capped to [2, maxDf] — singleton grams cannot match,
    * hot boilerplate grams are dropped exactly as ngramJaccard's
    * guard does); matched positions align on the DIAGONAL d = posA −
    * posB, and a gaps-and-islands pass per (pair, diagonal) measures
    * each maximal run of consecutive grams — r consecutive k-grams =
    * r + k − 1 verbatim tokens.
    *
    * Scale: every stage keys on (hi, lo), (pair, diagonal) or (pair) —
    * never fewer; the island window sorts only a pair's matches on one
    * diagonal. All-integer arithmetic end to end.
    *
    * Cost floor, decomposed at the 10x bench scale (a per-stage split,
    * r14 — the committed adjudication of the query's ~4.3 s): k-gram
    * md5 pass 1.9 s (30M token-window hashes, row-local — the md5 is
    * the oracle-portable contract), df window gate +0.75 s (one
    * shuffle of the 2.5M-row gram stream), inverted-index join
    * +0.3 s, island window + run aggregation +1.8 s (one sort of the
    * 12M (pair, diag, ia) match rows). No stage moves data it does not
    * consume, the join was verified hash-partitioned (not a driver
    * broadcast), and the two windows key on the gram and (pair, diag) —
    * each stage is at its volume's floor, so further cuts require
    * changing the measure (coarser k, tighter df cap), not the plan.
    *
    * Output: (doc_a, doc_b, n_shared_grams, max_run_grams,
    * max_run_tokens), max_run_grams ≥ minRun. */
  def substringRuns(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 6, minRun: Int = 2, maxDf: Long = 20L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minRun >= 1, s"substringRuns needs minRun >= 1, got $minRun")
    val pairs = substringRunCandidates(docs, idCol, textCol, k, maxDf)
    val wIsl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    pairs
      .withColumn("grp", col("ia") - row_number().over(wIsl))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("doc_a", "doc_b")
      .agg(sum("run_len").as("n_shared_grams"),
        max("run_len").as("max_run_grams"))
      .filter(col("max_run_grams") >= minRun)
      .select(col("doc_a"), col("doc_b"), col("n_shared_grams"),
        col("max_run_grams"), (col("max_run_grams") + (k - 1)).as("max_run_tokens"))
  }

  /** The inverted-index match stage of [[substringRuns]] alone: one row
    * per shared k-gram occurrence between a doc pair, with its diagonal
    * — the Σ df² volume the df ∈ [2, maxDf] gate bounds — BEFORE the
    * island/run aggregation. Public for the scale accounting
    * (tools.ScaleAccounting). Output: (doc_a, doc_b, ia, diag). */
  def substringRunCandidates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 6, maxDf: Long = 20L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"substringRuns needs k >= 1, got $k")
    require(maxDf >= 2, s"substringRuns needs maxDf >= 2, got $maxDf")
    // (gram, first-position) pairs are PER-DOCUMENT facts — computed
    // row-locally by graft_kgrams' first-only mode, so the index frame
    // is a pure projection: no corpus-wide groupBy of the gram stream
    // before the df gate (the same structural win the minhash/ngram
    // paths took). A NULL result (doc shorter than k tokens) explodes
    // to no rows — the old size(w) >= k gate.
    val occ = docs
      .select(col(idCol), explode(kgrams(textCol, k, firstOnly = true)).as("z"))
      .select(col(idCol), col("z.hi").as("hi"), col("z.lo").as("lo"), col("z.pos").as("i"))
    val ex = CacheScope.persist(occ
      .withColumn("df", count(lit(1)).over(Window.partitionBy("hi", "lo")))
      .filter(col("df").between(2L, maxDf)).drop("df"))
    ex.as("a").join(ex.as("b"), col("a.hi") === col("b.hi") &&
        col("a.lo") === col("b.lo") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.i").as("ia"), (col("a.i") - col("b.i")).as("diag"))
  }

  /** SPAN-LEVEL corpus dedup with document REWRITE — the "remove any
    * span that appears verbatim across the corpus" pass of large-scale
    * text curation (the line/span dedup of C4 and MassiveText,
    * relationalized): every k-token window whose document frequency
    * reaches `minDf` DISTINCT documents is hot, the token positions its
    * occurrences cover are masked, and each document is rebuilt from
    * its surviving tokens. Where the pairwise family (minhash, ngram,
    * substring runs) FLAGS near-dup documents, this op EDITS them —
    * boilerplate sentences, repeated headers and license blocks vanish
    * while the unique remainder of each document survives.
    *
    * Scale shape: the gram stream (corpus tokens × 1 row) is built
    * row-locally (explode, no pre-shuffle), aggregated once by gram for
    * the distinct-doc frequency, and the hot-gram join + ×k coverage
    * fan-out is bounded by the corpus's duplication mass — clean
    * documents never reach the rebuild join, which is doc-keyed with
    * the (small) touched-doc side collectible per doc. The rebuild
    * itself is row-local array surgery (filter/transform run ONLY on
    * touched rows — the when() guard short-circuits clean ones), so an
    * untouched document costs one split+size and passes its text
    * through byte-identical.
    *
    * df counts DISTINCT documents — a doc repeating a span internally
    * is not corpus duplication and is left intact (the Gopher-style
    * intra-doc repetition signals live in TextOps.repetitionSignals).
    * Output: (id, n_tok, n_removed, removed_frac, kept_text) per input
    * doc with non-NULL text, including untouched ones (audit ledger:
    * Σ n_removed / Σ n_tok is the corpus-level removal rate). */
  def spanRewrite(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDf: Long = 2L): DataFrame = {
    require(k >= 2, s"spanRewrite needs k >= 2, got $k")
    require(minDf >= 2, s"spanRewrite needs minDf >= 2, got $minDf")
    val d = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("text"))
    // ALL gram occurrences with positions (not first-per-doc: every
    // occurrence of a hot gram must mask its token range)
    val occ = CacheScope.persist(d
      .select(col(idCol), explode(kgrams("text", k, firstOnly = false)).as("z"))
      .select(col(idCol), col("z.pos").as("i"), col("z.hi").as("hi"), col("z.lo").as("lo")))
    val hot = occ.groupBy("hi", "lo")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf).select("hi", "lo")
    // covered token positions: hot occurrences fanned out ×k, dedup'd —
    // volume ≤ k × (hot occurrence count), i.e. duplication-bounded
    val cov = occ.join(hot, Seq("hi", "lo"))
      .select(col(idCol), explode(expr(s"sequence(i, i + ${k - 1})")).as("pos"))
      .distinct()
    // per-doc covered-position array rides back onto the doc ROW —
    // sort_array pins collect_set's nondeterministic order
    val covSet = cov.groupBy(idCol)
      .agg(sort_array(collect_set(col("pos"))).as("cov"))
    d.join(covSet, Seq(idCol), "left")
      .withColumn("w", split(col("text"), " "))
      .select(col(idCol), size(col("w")).cast("long").as("n_tok"),
        // size(NULL) is -1 under Spark's legacy sizeOfNull — guard with
        // an explicit branch, not coalesce
        when(col("cov").isNull, lit(0L))
          .otherwise(size(col("cov")).cast("long")).as("n_removed"),
        when(col("cov").isNull, col("text")).otherwise(
          array_join(transform(
            filter(sequence(lit(0), size(col("w")) - 1),
              p => !array_contains(col("cov"), p)),
            p => element_at(col("w"), p + 1)), " ")).as("kept_text"))
      .select(col(idCol), col("n_tok"), col("n_removed"),
        round(col("n_removed").cast("double") / col("n_tok").cast("double"), 6)
          .as("removed_frac"),
        col("kept_text"))
  }

  /** Weighted 32-bit SimHash near-dup pairs: bit source = first 8 hex
    * chars of each token's md5, weight = token multiplicity; candidates
    * share a MULTI-PROBED bucket of the signature's top bits and
    * pass `hamming ≤ maxHamming`.
    *
    * Multi-probe: every doc emits its bucket plus ALL single-bit flips
    * of it. If two signatures differ in bits {i, j} of the bucket,
    * flip_i(a) == flip_j(b), so two-sided single-bit probing finds every
    * pair within Hamming 2 of the bucket — the recall hole of the plain
    * top-bits join (a near-dup pair whose 2 differing bits both landed
    * in the bucket was invisible) — and stays complete at ANY bucket
    * width, which also makes the OUTPUT width-invariant (every
    * hamming ≤ 2 pair surfaces at every width; wider candidates are
    * filtered by the verify). The width is chosen from the OBSERVED
    * bucket populations ([[observedBucketWidth]], in-plan, no driver
    * collect): the candidate volume is Σ population², and an
    * expected-population rule (n / 2^bits) under-sizes it badly on
    * signature-CONCENTRATED corpora — same-distribution documents
    * cluster in signature space, and a replicated near-dup corpus at
    * 10× the rows measured 100× the join (the r7 sf1 scale curve)
    * under the old expected rule, against ~linear after this one.
    *
    * CANONICAL-MEETING emission (r13): a pair within bucket-Hamming 2
    * meets in SEVERAL probed buckets — identical bucket prefixes meet
    * at the base and at every same-bit flip, bw + 1 = up to 29 times —
    * and the r6–r12 form emitted every meeting and collapsed them with
    * a distinct, which at sf1 meant materializing and shuffling 28.2M
    * join rows to keep 2.4M pairs (a per-stage split, r13;
    * this predicate took the query 12.2 → ~6 s). The candidate
    * expansion now keeps exactly ONE meeting per pair, decided
    * row-locally from the two carried base prefixes
    * (D = base_a XOR base_b): if popcount(D) ≤ 1
    * the canonical meeting is the one where `a` sits at its base
    * (D = 0: both at base; D = one bit: a at base, b flipped); if
    * popcount(D) = 2 it is the one where `a` is flipped at the LOWEST
    * set bit of D (b flipped at the other). Every bucket-Hamming ≤ 2
    * pair satisfies the predicate in exactly one surviving meeting, so
    * the distinct is gone and no pair is shuffled once per meeting.
    * (A pigeonhole block scheme — Manku, Jain & Das Sarma, WWW 2007 —
    * was measured as the alternative: its fixed 16-bit
    * two-block keys admitted 27.4M mostly-false candidates on the same
    * corpus, because concentration demands the ADAPTIVE key width.)
    * Output: (doc_a, doc_b, hamming), one row per pair.
    *
    * `maxBucket` is the degenerate-corpus guard (analog of
    * [[minhashLsh]]'s cap): the width rule keeps HONEST bucket
    * populations near `targetBucketSize`, but IDENTICAL signatures
    * (10⁶ copies of one boilerplate doc) collapse into one bucket no
    * width can split — the one O(n²) path width adaptation cannot
    * close. A probed bucket holding more than `maxBucket` docs is
    * dropped whole from candidate generation ([[bucketMembers]] keyed
    * on `bucket`, the same guard as the MinHash family). Recall trade,
    * stated precisely for the canonical-meeting form: a pair whose
    * CANONICAL meeting bucket is over-cap surfaces no row (under the old
    * any-meeting form it could still surface through a sibling
    * bucket), but a flood that big is exactly what upstream exact
    * dedup removes; with no bucket over cap the result is
    * bit-identical to the unguarded form. The DuckDB oracle replays
    * the guard AND the canonical-meeting predicate, so the replay
    * stays bit-exact at any corpus size. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 2, probeBits: Int = 16,
      targetBucketSize: Int = 256,
      maxBucket: Long = defaultMaxBandBucket,
      sigTable: Option[DataFrame] = None): DataFrame =
    simhashCandidates(docs, idCol, textCol, probeBits, targetBucketSize, maxBucket,
      sigTable)
      .filter(col("hamming") <= maxHamming)

  /** The candidate stage of [[simhash]] alone: every (doc_a, doc_b,
    * hamming) row the probed buckets expand to — one row per candidate
    * PAIR (canonical-meeting emission), BEFORE the hamming filter.
    * Public so the scale accounting (tools.ScaleAccounting) can
    * measure candidate volume against emitted-pair volume on the exact
    * join the operator runs — candidate count is the number the
    * population guards bound, emitted count is the output the corpus
    * actually owes.
    *
    * `sigTable`: a pre-built [[simhashSigTable]] of the same docs /
    * textCol — the signature stage is then read from it (typically the
    * memoized corpus-tier table) instead of re-hashing the text. As in
    * [[minhashLsh]], a supplied table is used as-is by the two
    * consumers below (the width aggregate and the probe rows), so a RAW
    * one should be persisted (or memoized)
    * before it is handed in; inline signatures are scope-persisted. */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      probeBits: Int = 16, targetBucketSize: Int = 256,
      maxBucket: Long = defaultMaxBandBucket,
      sigTable: Option[DataFrame] = None): DataFrame = {
    // the simhash value cannot reveal which column it hashed
    sigTable.foreach(requireSigProvenance(_, textCol, pinned = "simhash"))
    val sh = sigTable.getOrElse(
      CacheScope.persist(simhashSignatures(docs, idCol, textCol)))
    // The probe frame ((bw + 1) rows per doc) has one reader, the
    // keyed bucketMembers pass, so it streams from the signature frame
    // unpersisted.
    val pr =
      sh.crossJoin(broadcast(observedBucketWidth(sh, probeBits, targetBucketSize)))
        .withColumn("base", expr("simhash div CAST(pow(2, 32 - bw) AS BIGINT)"))
        .select(col(idCol), col("simhash"), col("base"),
          explode(expr("concat(array(base), " +
            "transform(sequence(0, bw - 1), k -> base ^ CAST(pow(2, k) AS BIGINT)))"))
            .as("bucket"))
    // canonical-meeting predicate (see the operator scaladoc): with
    // D = base_a XOR base_b, keep the base-side meeting when the bases
    // differ in ≤ 1 bit, else the meeting where `a` is flipped at D's
    // lowest set bit — one surviving meeting per pair, all row-local
    // arithmetic on the carried base prefixes.
    val d = col("a.base").bitwiseXOR(col("b.base"))
    val canonical =
      (bit_count(d) <= 1 && col("bucket") === col("a.base")) ||
        (bit_count(d) === 2 &&
          col("bucket").bitwiseXOR(col("a.base")) === d.bitwiseAND(-d))
    // population guard and candidate expansion in one keyed pass
    // (bucketMembers): no probe-frame self-join, so no corpus-sized
    // join side that Catalyst could decide to broadcast
    memberPairs(bucketMembers(pr, Seq("bucket"), Seq(idCol, "simhash", "base"), maxBucket),
        Seq("bucket"), col(s"a.$idCol") < col(s"b.$idCol") && canonical)
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
  }

  /** Bucket width for [[simhash]] from OBSERVED signature concentration
    * — a 1-row frame (`bw`) computed in-plan (broadcast back, never
    * collected): build the 28-bit-prefix population histogram (one
    * aggregate over the signatures; coarser-width populations are sums
    * of finer ones), derive max bucket population at every candidate
    * width, and pick the NARROWEST width in [`floor`, 28] whose max
    * population is ≤ `targetBucketSize` — 28 (the widest prefix that
    * leaves the hamming verify meaningful residual bits) if none
    * qualifies. Widening is free for recall (single-bit multi-probe is
    * Hamming-2-complete at any width) and costs only probe fan-out
    * bw+1, while the candidate join it guards is QUADRATIC in bucket
    * population — the asymmetry that makes observed-max the right
    * statistic. `sigs` must carry a `simhash` column. */
  def observedBucketWidth(sigs: DataFrame, floor: Int,
      targetBucketSize: Int = 256): DataFrame = {
    require(floor >= 1 && floor <= 28,
      s"observedBucketWidth needs 1 <= floor <= 28, got $floor")
    require(targetBucketSize >= 1,
      s"observedBucketWidth needs targetBucketSize >= 1, got $targetBucketSize")
    sigs
      .groupBy(expr("simhash div 16").as("b28")) // 2^(32-28) = 16
      .agg(count(lit(1)).as("pop"))
      .select(explode(expr(s"sequence($floor, 28)")).as("w"), col("b28"), col("pop"))
      .groupBy(col("w"), expr("b28 div CAST(pow(2, 28 - w) AS BIGINT)").as("bkt"))
      .agg(sum("pop").as("bpop"))
      .groupBy("w").agg(max("bpop").as("maxpop"))
      .agg(coalesce(min(when(col("maxpop") <= targetBucketSize, col("w"))), lit(28))
        .cast("int").as("bw"))
  }

  /** Validates a caller-supplied [[ngramPairStats]] frame against the
    * consuming call's parameters, via the provenance metadata stamped
    * on `inter` (mirror of [[requireSigProvenance]]): the stats must
    * cover every pair the call could emit — same ngram/textCol/maxDf,
    * prefilter at or below the call's threshold (J <= C makes a
    * <=-threshold C-prefilter lossless for Jaccard; containment IS the
    * prefilter measure), and blocking no FINER than the call's (each
    * stats block column must appear in the call's blockCols — a finer
    * stats blocking never candidated pairs the call's blocking admits;
    * the legal coarser-stats direction is the caller's documented
    * row-filter-on-carried-columns contract, which metadata cannot
    * observe). `equalBlocking` tightens that to set EQUALITY — for
    * consumers like [[ngramContainment]] whose output is exactly the
    * prefiltered pair set: coarser-blocked stats would smuggle in
    * cross-block pairs the call's own blocking would never emit (the
    * Jaccard consumers are immune — their row filter re-applies the
    * finer key — but containment applies no further filter). Frames
    * without the pins (hand-built) pass unchecked. */
  private def requirePairStatsProvenance(ps: DataFrame, ngram: Int,
      textCol: String, threshold: Double, blockCols: Seq[String],
      maxDf: Option[Long], equalBlocking: Boolean = false): Unit =
    ps.schema.fields.find(_.name == "inter").foreach { f =>
      val m = f.metadata
      if (m.contains("graft_ngram"))
        require(m.getLong("graft_ngram") == ngram.toLong,
          s"pairStats was built with ngram=${m.getLong("graft_ngram")}, " +
            s"this call expects ngram=$ngram")
      if (m.contains("graft_text_col"))
        require(m.getString("graft_text_col") == textCol,
          s"pairStats was built over '${m.getString("graft_text_col")}', " +
            s"this call expects '$textCol'")
      if (m.contains("graft_min_containment"))
        require(m.getDouble("graft_min_containment") <= threshold,
          s"pairStats was prefiltered at C >= " +
            s"${m.getDouble("graft_min_containment")}, above this call's " +
            s"threshold $threshold — qualifying pairs would be missing")
      if (m.contains("graft_block_cols")) {
        val sb = m.getString("graft_block_cols").split(",").filter(_.nonEmpty)
        require(sb.forall(blockCols.contains),
          s"pairStats was blocked on (${sb.mkString(", ")}) — FINER than " +
            s"this call's (${blockCols.mkString(", ")}); pairs this call's " +
            s"blocking admits were never candidates there")
        if (equalBlocking)
          require(blockCols.forall(sb.contains),
            s"pairStats was blocked on (${sb.mkString(", ")}) — COARSER than " +
              s"this call's (${blockCols.mkString(", ")}); this consumer " +
              "applies no further row filter, so coarser stats would emit " +
              "cross-block pairs the call's own blocking never generates")
      }
      if (m.contains("graft_max_df"))
        require(m.getLong("graft_max_df") == maxDf.getOrElse(-1L),
          s"pairStats was built with maxDf=${m.getLong("graft_max_df")}, " +
            s"this call expects maxDf=${maxDf.getOrElse(-1L)}")
    }

  /** Pins the signature-table provenance a consumer silently depends
    * on: when the table carries the metadata its builder stamps on the
    * `pinned` column — `s` for a [[minhashSigTable]], `simhash` for a
    * [[simhashSigTable]] (which stamps only the text column) — its
    * textCol, ngram and encoding must match the call's (the hashes
    * themselves cannot reveal a mismatch — the failure mode is a
    * silently wrong-n, or wrong-column, similarity measure). Hand-built
    * frames carry no metadata and pass those checks, but a shingle set
    * `s` must be an `array<bigint>` whatever its origin: the
    * `array<binary>` digests of [[retiredShingleEncoding]] and the
    * hex-string sets before it are refused here, by name, rather than
    * in the verify kernel's type check. */
  private def requireSigProvenance(st: DataFrame, textCol: String,
      ngram: Option[Int] = None, pinned: String = "s"): Unit =
    st.schema.fields.find(_.name == pinned).foreach { f =>
      if (pinned == "s")
        require(f.dataType match {
            case ArrayType(LongType, _) => true
            case _ => false
          },
          s"sigTable column s is ${f.dataType.sql}; the shingle encoding " +
            s"'$shingleEncoding' needs ARRAY<BIGINT> (ARRAY<BINARY> is the " +
            s"retired '$retiredShingleEncoding' layout — rebuild the table)")
      if (f.metadata.contains("graft_shingle_encoding"))
        require(f.metadata.getString("graft_shingle_encoding") == shingleEncoding,
          s"sigTable was built with shingle encoding " +
            s"'${f.metadata.getString("graft_shingle_encoding")}', this engine " +
            s"reads '$shingleEncoding'")
      ngram.foreach { n =>
        if (f.metadata.contains("graft_ngram"))
          require(f.metadata.getLong("graft_ngram") == n.toLong,
            s"sigTable was built with ngram=${f.metadata.getLong("graft_ngram")}, " +
              s"this call expects ngram=$n")
      }
      if (f.metadata.contains("graft_text_col"))
        require(f.metadata.getString("graft_text_col") == textCol,
          s"sigTable was built over '${f.metadata.getString("graft_text_col")}', " +
            s"this call expects '$textCol'")
    }

  /** The signature stage of [[simhash]] alone: (idCol, simhash). Public
    * so recall tests can brute-force all-pairs hamming on the exact
    * signatures the bucketed operator sees. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // ZERO shuffles, not one: the signature (±1 bit-sums over token
    // occurrences — integer-equal to the textbook ±count-per-distinct-
    // token form the DuckDB oracle replays) is a per-document value,
    // so it runs as one row-local native expression
    // (functions.SimhashSig) instead of the explode + 32-aggregate
    // groupBy that shuffled the whole token stream to reassemble
    // row-local values. Bit-identical to that formulation
    // (spec-pinned); the bucket join downstream is now the operator's
    // first shuffle.
    docs.select(col(idCol), expr(s"graft_simhash($textCol)").as("simhash",
        // provenance stamp, as on minhashSigTable's `s`: the fingerprint
        // cannot reveal which column it hashed
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("graft_text_col", textCol).build()))
      // NULL text → NULL signature; the explode form simply emitted no
      // rows for such docs, so the filter preserves that contract
      .filter(col("simhash").isNotNull)

  /** Embedding-cosine near-dup with IVF-cell blocking: a seeded coarse
    * quantizer (Similarity.seededCentroids, the pick every IVF operator
    * uses; cell count data-driven with `nList` as floor,
    * Similarity.autoCellCount — the LINEAR constant-population rule,
    * not the query-path √ rule; `numVectors` per the Similarity
    * header's invariant) assigns every vector to its `nProbe` nearest
    * cells, and the pair join ([[cellPairs]]) runs on
    * (blockCols..., cell) equality — never an all-pairs join within a
    * block key, so a popular block at 100 TB splits across cells
    * instead of exploding O(n²). Multi-probe on BOTH sides: a pair is
    * emitted when any probed cell is shared (≥ the single-cell recall
    * of a query-side-only probe).
    *
    * Approximation contract: recall is complete only in the regime
    * blocking is designed for — genuinely near-duplicate vectors
    * (cos ≳ 0.8, proven in LibraryOpsSpec on planted near-dups). At low
    * thresholds an exact dense similarity join has no sublinear method;
    * on all three committed test scales the default parameters happen
    * to find every τ=0.35 pair, but that is measured, not guaranteed.
    * Output: (vec_a, vec_b, cos), distinct, cos rounded 6dp.
    */
  def embeddingNearDup(vectors: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], threshold: Double, nList: Int = 8,
      nProbe: Int = 4, seed: Long = 1337L,
      targetCellSize: Int = 256, numVectors: Option[Long] = None): DataFrame =
    embeddingNearDupCandidates(vectors, idCol, vecCol, blockCols, nList,
      nProbe, seed, targetCellSize, numVectors)
      .filter(col("c") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 6).as("cos"))
      .distinct()

  /** The candidate stage of [[embeddingNearDup]] alone: every
    * (vec_a, vec_b, c) row the shared-probed-cell join emits, BEFORE
    * the threshold filter and the shared-cell distinct. Public for the
    * scale accounting — candidate volume is what the cell sizing
    * bounds, emitted volume is the output the corpus owes. */
  def embeddingNearDupCandidates(vectors: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], nList: Int = 8,
      nProbe: Int = 4, seed: Long = 1337L,
      targetCellSize: Int = 256, numVectors: Option[Long] = None): DataFrame = {
    require(nProbe >= 1, s"embeddingNearDup needs nProbe >= 1, got $nProbe")
    // Data-driven cell count (Similarity.autoCellCount LINEAR rule —
    // constant ~targetCellSize populations): `nList` is the floor, so a
    // growing corpus splits into more cells and the pair join's
    // cells·pop² work stays linear in n (the query-path √ rule measured
    // n^1.5 here: 50× on 10× data at sf1).
    val nCells = Similarity.autoCellCount(numVectors.getOrElse(vectors.count()), nList, targetCellSize)
    val cent = Similarity.seededCentroids(vectors, idCol, vecCol, nCells, seed)
    val carried = col(idCol) +: blockCols.map(col) :+ col(vecCol)
    // Shuffle-free multi-probe assignment (Similarity.topCells): the
    // top-nProbe cells per vector are selected inside one expression
    // over the broadcast centroid array — nProbe rows out per vector,
    // no Window, no n×nCells shuffle (O(n^1.5) rows at the √n rule).
    val asg = vectors.select(carried: _*)
      .crossJoin(broadcast(Similarity.centroidArray(cent)))
      .select(col(idCol) +: blockCols.map(col) :+ col(vecCol) :+
        explode(Similarity.topCells(vecCol, nProbe)).as("cc"): _*)
      .select(carried :+ col("cc.cent_id").as("cell"): _*)
    // The pair cosine is evaluated once per SHARED probed cell and
    // collapsed by distinct(); deduping ids first would instead shuffle
    // both 64-wide vectors per candidate to re-join them — more bytes
    // moved than the duplicate codegen'd arithmetic costs. A canonical-
    // meeting predicate (the r13 simhash discipline: emit only at the
    // smallest shared probed cell via array_intersect over carried
    // probe arrays) was MEASURED A LOSS here and deliberately not
    // taken: observed meeting multiplicity is only ~1.15× (4.37M
    // candidate rows for 3.80M distinct pairs at the 10x bench scale —
    // a per-stage split, r13), so the per-match intersect cost exceeded
    // the few duplicate cosines it saved (full query 5.3 → 7.3 s).
    // simhash's predicate pays because its multiplicity is ~11×.
    // Threshold applies to the RAW cosine (rounding is display-only),
    // matching the documented `cos >= τ` contract exactly.
    cellPairs(asg, idCol, vecCol, blockCols)
  }

  /** The cell-blocked pair join of the embedding dedup family
    * ([[embeddingNearDupCandidates]]' IVF cells, dedup_semantic's
    * k-means cells): over an assignment `asg` (idCol, blockCols...,
    * vecCol, cell), one row per pair sharing a cell and every block
    * column, `a.id < b.id` — (vec_a, vec_b, c), c the RAW cosine. A pair
    * sharing several cells (multi-probe assignments) appears once per
    * shared cell. `asg` is scope-persisted: it feeds both join sides.
    * SHUFFLE_HASH on the b side (r14, the dedup-family discipline): the
    * assignment carries the full vectors, and Catalyst's
    * under-threshold estimate of the cached frame would serialize all
    * of them through one driver broadcast; hash-partitioned on the
    * (cell, blocks) key both sides exchange once, in parallel — the
    * only plan that survives a corpus-sized vector table. */
  private[graft] def cellPairs(asg: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String] = Nil): DataFrame = {
    val asgC = CacheScope.persist(asg)
    val joinCond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.cell") === col("b.cell") &&
        col(s"a.$idCol") < col(s"b.$idCol"))(_ && _)
    asgC.as("a").join(asgC.hint("shuffle_hash").as("b"), joinCond)
      .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"),
        Similarity.cosine(s"a.$vecCol", s"b.$vecCol").as("c"))
  }
}
