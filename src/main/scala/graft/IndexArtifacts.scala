package graft

import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import functions.TextAnalysis
import ext.{Dedup, Similarity}

/** The amortizable index builders [[Bench]] materializes in its
  * `phase_index_build`: one row per artifact, with the artifacts whose
  * output it consumes as typed edges.
  */
object IndexArtifacts {

  /** One index artifact: `build(spark, dir)` materializes it for the
    * tables under `dir` (with [[IndexStore.IndexDirKey]] set, as a
    * persisted index table).
    */
  final case class Artifact(
      name: String, deps: Seq[Artifact], build: (SparkSession, String) => Unit)

  private def artifact(name: String, deps: Artifact*)(
      build: (SparkSession, String) => Any): Artifact =
    Artifact(name, deps, (spark, dir) => { build(spark, dir); () })

  // Roots, heavy first (LPT, measured solo order at sf0.1), so the
  // pool's last slots don't start the longest builds.
  val classifierRates = artifact("classifier_rates")(TextAnalysis.classifierRates(_, _).count())
  val classifierTeach = artifact("classifier_teach")(TextAnalysis.classifierTeach(_, _).count())
  val classifierModel = artifact("classifier_model", classifierRates, classifierTeach)(
    TextAnalysis.classifierModel(_, _).count())
  val minhashSig = artifact("minhash_sig")(Dedup.minhashSignatures(_, _))
  val bpeVocab = artifact("bpe_vocab")(TextAnalysis.bpeVocab(_, _).count())
  val dsirModel = artifact("dsir_model")(operators.Advanced.dsirModel(_, _))
  val ivfIndex = artifact("ivf_index")(Similarity.ivfIndex(_, _))
  val ivfBaseIndex = artifact("ivf_base_index")(Similarity.ivfBaseIndex(_, _))
  val embLshBuckets = artifact("emb_lsh_buckets")(Similarity.lshIndex(_, _))
  val semCells = artifact("sem_cells")(Similarity.semAssigned(_, _).count())
  val tfidfVocab = artifact("tfidf_vocab")(TextAnalysis.vocabulary(_, _))
  val ngramSources = artifact("ngram_sources")(TextAnalysis.ngramSourceSets(_, _))
  val unigramModel = artifact("unigram_model")(TextAnalysis.unigramModel(_, _))
  val winnowFp = artifact("winnow_fp")(Dedup.winnowFingerprints(_, _))
  val bigramCounts = artifact("bigram_counts")(TextAnalysis.bigramCounts(_, _))
  val shingleHashes = artifact("shingle_hashes")(Dedup.explodedShingleHashes(_, _))
  val pqCodes = artifact("pq_codes")(Similarity.pqIndex(_, _))
  val bm25Scores = artifact("bm25_scores")(functions.Retrieval.bm25Scores(_, _).count())
  val bloomBitmap = artifact("bloom_bitmap")(Dedup.bloomIndex(_, _))
  val sq8Codes = artifact("sq8_codes")(Similarity.sq8Index(_, _))
  // the release pipeline's contamination verdicts — computed once per
  // (corpus, benchmark) release, read by every corpus_prep/release-card
  // consumer
  val contamCounts = artifact("contam_counts")(Dedup.contamCounts(_, _).count())
  val userTriples = artifact("user_triples")(operators.EventAnalytics.userTriples(_, _).count())

  // Derived artifacts. Edges exist for ATTRIBUTION — a dependent's
  // seconds measure its own work, not a shared upstream build it
  // happened to first-touch; SessionCache's lazy holder already makes
  // concurrent first calls on one artifact build it exactly once.

  // vocabulary-sized derivation of bigram_counts (the corpus pays its
  // bigram pass once)
  val bigramModel = artifact("bigram_model", bigramCounts)(TextAnalysis.bigramModel(_, _))
  // the frozen tokenizer's serving table, derived from the bpe_vocab
  // merges (vocabulary-grain fold chain)
  val bpeWordTokens = artifact("bpe_word_tokens", bpeVocab)(TextAnalysis.bpeWordTokens(_, _).count())
  // mutual edges are the knn lifecycle's second half — built in the
  // same slot so the label contraction finds them
  val knnEdges = artifact("knn_edges", embLshBuckets) { (spark, dir) =>
    Similarity.knnEdges(spark, dir).count()
    Similarity.mutualEdges(spark, dir).count()
  }
  // sets + prefix inverted index, derived from the shingle index
  val allpairsIndex = artifact("allpairs_index", shingleHashes)(Dedup.allPairsIndex(_, _))
  // the confirmed LSH pair frame, derived from the minhash signatures —
  // ten consumers share it (memoized DISK_ONLY)
  val lshPairs = artifact("lsh_pairs", minhashSig)(Dedup.minhashLsh(_, _).count())
  val dupComponents0 = artifact("dup_components_0", lshPairs)(Dedup.dupComponents(_, _, 0.0))
  val dupComponentsPrior = artifact("dup_components_prior", lshPairs)(
    Dedup.priorComponents(_, _).count())
  val dupComponents80 = artifact("dup_components_80", lshPairs)(Dedup.dupComponents(_, _, 0.8))
  // the mutual-kNN component labels contract the knn edge list (the
  // dup_components lifecycle on the embedding side)
  val knnClusterLabels = artifact("knn_cluster_labels", knnEdges)(Similarity.knnClusterLabels(_, _))
  // the per-tranche churn forests replay the warm-start ladder off the
  // memoized lsh_pairs frame and reuse the full-corpus
  // dup_components_80 forest as the final tranche
  val churnForests = artifact("churn_forests", lshPairs, dupComponents80)(
    Dedup.splitChurnForests(_, _).foreach(_.count()))
  // holdout model + frozen-centering features depend on the split
  // labels (dup_components_80 via splitByComponent) and the persisted
  // classifier teach table (classifier_model)
  val classifierHoldout = artifact("classifier_holdout", dupComponents80, classifierModel) {
    (spark, dir) =>
      TextAnalysis.holdoutModel(spark, dir).count()
      TextAnalysis.holdoutFeats(spark, dir).count()
  }

  /** Every artifact, roots in LPT order, then the derived ones. */
  val all: Seq[Artifact] = Seq(
    classifierRates, classifierTeach, classifierModel, minhashSig, bpeVocab,
    dsirModel, ivfIndex, ivfBaseIndex, embLshBuckets, semCells, tfidfVocab,
    ngramSources, unigramModel, winnowFp, bigramCounts, shingleHashes, pqCodes,
    bm25Scores, bloomBitmap, sq8Codes, contamCounts, userTriples,
    bigramModel, bpeWordTokens, knnEdges, allpairsIndex, lshPairs,
    dupComponents0, dupComponentsPrior, dupComponents80, knnClusterLabels,
    churnForests, classifierHoldout)

  /** Builds every artifact for the tables under `dir` on a pool of `par`
    * threads; each starts the moment its deps complete (no wave
    * barrier), in its own FAIR scheduler pool. Returns each artifact's
    * wall seconds in [[all]] order — wall-clock WITH pool contention,
    * the serving latency a shared cluster would see; `par = 1` gives
    * uncontended sequential seconds.
    */
  def buildAll(spark: SparkSession, dir: String, par: Int): Seq[(String, Double)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val para = scala.concurrent.ExecutionContext.parasitic
    val done = all.map(a => a.name -> Promise[Unit]()).toMap
    val secs = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val futures = all.map { a =>
      // the dep gate composes on the parasitic ec — waiting never holds
      // a pool slot, so par = 1 still makes sequential progress
      val gate = a.deps.map(d => done(d.name).future)
        .foldLeft(Future.unit)((acc, d) => acc.flatMap(_ => d)(para))
      val f = gate.flatMap { _ => Future {
        // thread-local, cleared after: pool threads are reused
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"idx_${a.name}")
        val t0 = System.nanoTime()
        try a.build(spark, dir)
        finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] index ${a.name}: $sec%.3f s")
        secs.put(a.name, sec)
      }(ec)}(para)
      f.onComplete(r => done(a.name).tryComplete(r.map(_ => ())))(para)
      a.name -> f
    }
    try futures.map { case (n, f) => Await.result(f, Duration.Inf); n -> secs.get(n) }
    finally pool.shutdown()
  }
}
