package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.operators.{CacheScope, Dedup}

/** Candidate-vs-emitted pair accounting for the near-dup operators whose
  * wall-clock grows super-linearly on the replicated sf1 corpus
  * (`tools/make_sf1.py`: every sf0.1 document gains 9 near-duplicate
  * siblings, every embedding 9 EXACT copies).
  *
  * The question this answers: is the observed time growth a plan defect
  * (candidate explosion the guards failed to bound) or OUTPUT-bound (the
  * corpus genuinely owes quadratically more near-dup pairs, so any
  * correct operator must emit — and pay for — them)? For each corpus it
  * measures, on the exact candidate joins the operators run
  * ([[Dedup.simhashCandidates]], [[Dedup.embeddingNearDupCandidates]],
  * [[Dedup.minhashLshCandidates]], [[Dedup.minhashLshIncrementalCandidates]],
  * [[Dedup.ngramJaccardCandidates]] — under both the jaccard and the
  * lang-only containment blockings — [[Dedup.substringRunCandidates]],
  * plus the kmeans-cell semantic pass — all the near-dup generators):
  *
  *   - `candidates`: rows out of the blocked self-join (what the
  *     population guards bound — the only quantity a plan can waste),
  *   - `emitted`: rows the operator's contract requires
  *     (post-threshold, distinct),
  *   - their ratio: candidate OVERHEAD per owed pair. A plan is
  *     vindicated at scale when overhead stays flat while both counts
  *     grow with the corpus's true near-dup mass.
  *
  * Usage: runMain graft.tools.ScaleAccounting <sfDir> [<sfDir> ...]
  * Prints one JSON line per corpus; commit the output next to the bench
  * artifacts (SCALE_ACCOUNTING.json).
  */
object ScaleAccounting {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleAccounting <sfDir> [<sfDir> ...]")
    val out = graft.queries.Q.repoRoot + "/SCALE_ACCOUNTING.json"
    val spark = GraftSession.local()

    val lines = args.toSeq.map { sfDir =>
      // simhash: the registry query's exact parameters (QSim.simhash)
      val (nDocs, shCand, shEmit) = CacheScope.withScope {
        val docs = Tables.documents(spark, sfDir)
        val cand = CacheScope.persist(
          Dedup.simhashCandidates(docs, "doc_id", "text"))
        (docs.count(), cand.count(),
          cand.filter(col("hamming") <= 2).distinct().count())
      }
      // minhash LSH: QSim.minhashLsh's parameters (nHash 12, bands of
      // 2, τ=0.5 — the operator defaults)
      val (mhCand, mhEmit) = CacheScope.withScope {
        val docs = Tables.documentsP(spark, sfDir)
        (Dedup.minhashLshCandidates(docs, "doc_id", "text").count(),
          Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5).count())
      }
      // incremental minhash: QSim.minhashInc's parameters (new batch =
      // sources src0-src3)
      val (inCand, inEmit) = CacheScope.withScope {
        val docs = Tables.documentsP(spark, sfDir).withColumn("is_new",
          col("source").isin("src0", "src1", "src2", "src3"))
        (Dedup.minhashLshIncrementalCandidates(
            docs, "doc_id", "text", "is_new").count(),
          Dedup.minhashLshIncremental(
            docs, "doc_id", "text", "is_new", threshold = 0.5).count())
      }
      // n-gram Jaccard: QSim.ngramJaccard's parameters (block on
      // (lang, length-band 40), τ=0.8)
      val (ngCand, ngEmit) = CacheScope.withScope {
        val docs = Tables.documentsP(spark, sfDir).withColumn("lb",
          (size(split(col("text"), " ")).cast("long").divide(lit(40))).cast("long"))
        (Dedup.ngramJaccardCandidates(
            docs, "doc_id", "text", blockCols = Seq("lang", "lb")).count(),
          Dedup.ngramJaccard(docs, "doc_id", "text",
            blockCols = Seq("lang", "lb"), threshold = 0.8).count())
      }
      // n-gram containment: QSim.ngramContain's parameters (lang-only
      // blocks — DIFFERENT candidate volume than the jaccard entry,
      // which also blocks on the length band; C >= 0.8)
      val (ctCand, ctEmit) = CacheScope.withScope {
        val docs = Tables.documentsP(spark, sfDir)
        (Dedup.ngramJaccardCandidates(
            docs, "doc_id", "text", blockCols = Seq("lang")).count(),
          Dedup.ngramContainment(docs, "doc_id", "text",
            blockCols = Seq("lang"), threshold = 0.8).count())
      }
      // exact-substring runs: QSim.substringRun's parameters
      // (k=6, minRun=2, maxDf=20)
      val (srCand, srEmit) = CacheScope.withScope {
        val docs = Tables.documentsP(spark, sfDir)
        (Dedup.substringRunCandidates(
            docs, "doc_id", "text", k = 6, maxDf = 20L).count(),
          Dedup.substringRuns(docs, "doc_id", "text",
            k = 6, minRun = 2, maxDf = 20L).count())
      }
      // semantic dedup: QSim.semantic's parameters (kmeans cells under
      // the linear rule, seed 4242, tau 0.4) — candidates = within-cell
      // pairs, emitted = pairs >= tau
      val (smCand, smEmit) = CacheScope.withScope {
        import graft.operators.Similarity
        val e = CacheScope.persist(Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding").as("v")))
        val nv = Tables.rowCount(spark, sfDir, "embeddings")
        val asg = Similarity.kmeans(e, "vec_id", "v",
          k = Similarity.autoCellCount(nv, 8, 256), iters = 2, seed = 4242L)
          .select(col("vec_id"), col("cell"))
        val cand = CacheScope.persist(
          Dedup.cellPairs(asg.join(e, "vec_id"), "vec_id", "v"))
        (cand.count(), cand.filter(col("c") >= 0.4).count())
      }
      // embedding cosine: the registry query's exact parameters
      // (QSim.embedNearDup: label block, τ=0.35, nList 8, nProbe 4)
      val (nVecs, emCand, emEmit) = CacheScope.withScope {
        val e = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("label"), col("embedding").as("v"))
        val nv = Tables.rowCount(spark, sfDir, "embeddings")
        val cand = CacheScope.persist(
          Dedup.embeddingNearDupCandidates(e, "vec_id", "v",
            blockCols = Seq("label"), nList = 8, nProbe = 4, seed = 1337L,
            numVectors = Some(nv)))
        (nv, cand.count(),
          cand.filter(col("c") >= 0.35)
            .select(col("vec_a"), col("vec_b")).distinct().count())
      }
      def blk(cand: Long, emit: Long) =
        f""""candidates":$cand,"emitted":$emit,"cand_per_emitted":${cand.toDouble / math.max(1L, emit)}%.2f"""
      f"""{"sf":"$sfDir","simhash":{"n_docs":$nDocs,${blk(shCand, shEmit)}},"embedding_cosine":{"n_vecs":$nVecs,${blk(emCand, emEmit)}},"minhash_lsh":{${blk(mhCand, mhEmit)}},"incremental_minhash":{${blk(inCand, inEmit)}},"ngram_jaccard":{${blk(ngCand, ngEmit)}},"ngram_containment":{${blk(ctCand, ctEmit)}},"substring_run":{${blk(srCand, srEmit)}},"semantic":{${blk(smCand, smEmit)}}}"""
    }
    lines.foreach(println)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("", "\n", "\n"))
    catch { case e: Throwable =>
      System.err.println(s"[accounting] could not write $out: ${e.getMessage}") }
    spark.stop()
  }
}
