package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Retrieval scoring — the serving-side counterpart of the corpus-prep
  * pipeline (reference scope: the warehouse the streaming patterns
  * maintain is what a retrieval layer queries; SURVEY §2.4's aggregate
  * family provides the machinery): classic lexical ranking (BM25,
  * Robertson et al., TREC-3) and hybrid lexical+dense fusion
  * (reciprocal rank fusion, Cormack et al., SIGIR'09) — the standard
  * first-stage retrieval stack of a RAG or dedup-audit system.
  *
  * Determinism discipline (the [[TextAnalysis.unigramLogprob]] rule):
  * every `ln` is rounded at 1e-9 immediately, every per-term
  * contribution is floored to an integer micro-score BEFORE the
  * per-document sum, so float summation order can never reach the
  * oracle compare; ranks are integers by construction.
  */
object Retrieval {

  /** Fixed keyword query for the declared single-query BM25/RRF
    * queries — a constant so the DuckDB oracle can embed the same
    * literals. The plan shape (per-row projection over a broadcast
    * term set) is the fastest form when the query IS fixed; the
    * parameterized path is the `*Multi` family below.
    */
  private[graft] val QueryTerms: Seq[String] = Seq("spark", "join", "window")

  /** Fixture query BATCH for the multi-query retrieval family — the
    * (query_id, term) relation a real RAG / dedup-audit layer serves
    * from. query_id doubles as the query's embedding vec_id on the
    * dense side (the corpus convention: doc_id ≡ vec_id). The declared
    * queries bind this fixture; [[bm25ScoredMulti]] itself takes ANY
    * (query_id, term) frame.
    */
  private[graft] val QuerySet: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join", "window"),
    2L -> Seq("hash", "filter", "scan"),
    3L -> Seq("sort", "group"),
    4L -> Seq("query", "fast", "slow", "batch"),
  )

  /** The fixture [[QuerySet]] as its (query_id, term) relation. */
  private[graft] def queryTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    QuerySet.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
  }

  /** BM25 free parameters (the standard Okapi defaults). */
  private[graft] val K1 = 1.2
  private[graft] val B = 0.75

  /** RRF rank-list depth and smoothing constant (Cormack et al. use
    * k=60; depth 100 bounds the fused relation regardless of corpus
    * size).
    */
  private[graft] val RrfK = 60
  private[graft] val RrfDepth = 100

  private def words(c: Column): Column = split(c, " ")

  /** Occurrences of term `t` in the document's whitespace tokens. */
  private def termTf(t: String): Column =
    size(filter(words(col("text")), w => w === lit(t))).cast("long")

  /** BM25 corpus statistics — ONE row: document count, total token
    * mass, and each query term's document frequency. Every column is a
    * sum-monoid over arriving documents (count / integer sum /
    * conditional count), which is what makes the streaming refresh
    * twin ([[graft.streaming.SketchRefresh.startBm25Stats]]) maintain
    * the identical row live without re-scanning the landed corpus.
    */
  private[graft] def corpusStats(docs: DataFrame): DataFrame = {
    val aggs =
      count(lit(1)).as("n_docs") +:
        sum(size(words(col("text")))).cast("double").as("sum_dl") +:
        QueryTerms.zipWithIndex.map { case (t, i) =>
          count_if(termTf(t) > 0).as(s"df_$i")
        }
    docs.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document BM25 scores — TWO corpus scans and ZERO wide
    * exchanges, because the term set is fixed at plan time: scan 1 is
    * one global aggregate producing (n_docs, sum_dl) AND every term's
    * document frequency as separate `count_if(tf_t > 0)` columns (a
    * 1-row broadcast); scan 2 computes each term's tf as a per-row
    * array fold and sums the per-term integer micro-point
    * contributions inside the projection — no explode, no doc-grain
    * groupBy, nothing shuffles until the final TakeOrdered. That is
    * the 100 TB shape: scoring a fixed query is a linear scan however
    * big the corpus, with every per-term reduction inside the row.
    *
    * Determinism: `idf_e9` is floored at 1e-9 straight off the `ln`
    * (libm vs java Math.log agree at that grain) and each term
    * contribution is floored to integer micro-points BEFORE the
    * per-doc sum — integer addition, immune to summation order.
    *
    * Memoized per (session, dir) and persisted DISK_ONLY (doc-grain ⇒
    * the storage-level rule): three consumers reference this frame —
    * [[bm25TopK]], [[hybridRrf]], and BOTH rank lists of [[rankEval]]
    * — and Spark plans common subexpressions independently, so
    * without memoization each subtree would re-pay the corpus scan.
    */
  private val bm25ScoresCache = new graft.SessionCache[DataFrame]

  private[graft] def bm25Scores(spark: SparkSession, sfDir: String): DataFrame =
    bm25ScoresCache.getOrElseUpdate(spark, sfDir) {
      bm25ScoresBuild(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  private def bm25ScoresBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val stats = corpusStats(docs)
    val idfE9 = QueryTerms.indices.map { i =>
      floor(log(lit(1.0)
          + (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
        * lit(1e9) + lit(0.5)).cast("long").as(s"idf_$i")
    }
    val docCols =
      col("doc_id") +: size(words(col("text"))).cast("long").as("dl") +:
        QueryTerms.zipWithIndex.map { case (t, i) => termTf(t).as(s"tf_$i") }
    val scored = docs.select(docCols: _*)
      .crossJoin(broadcast(stats.select(
        col("n_docs") +: col("sum_dl") +: idfE9: _*)))
    def contrib(i: Int): Column = {
      val tf = col(s"tf_$i")
      when(tf > 0,
        floor(col(s"idf_$i") / lit(1e9) * (tf * lit(K1 + 1))
            / (tf + lit(K1) * (lit(1 - B)
              + lit(B) * col("dl") / (col("sum_dl") / col("n_docs"))))
          * lit(1e6) + lit(0.5)).cast("long"))
        .otherwise(lit(0L))
    }
    scored.select(col("doc_id"),
      QueryTerms.indices.map(contrib).reduce(_ + _).as("score_e6"),
      QueryTerms.indices.map(i => (col(s"tf_$i") > 0).cast("long")).reduce(_ + _)
        .as("n_terms"))
      .filter(col("n_terms") > 0)
  }

  /** BM25 top-20 for the fixed keyword query: (doc_id, score_e6,
    * n_terms matched, rank). Final order is TakeOrderedAndProject over
    * the per-doc integer scores.
    */
  def bm25TopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scores(spark, sfDir)
      .orderBy(col("score_e6").desc, col("doc_id").asc)
      .limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_e6").desc, col("doc_id").asc)).cast("long"))
  }

  /** Hybrid retrieval — reciprocal rank fusion of the BM25 list with a
    * dense cosine list against the embedding of vec_id 0 (the "query
    * document"; its own row is excluded from both lists). Each ranker
    * contributes integer points `floor(1e6 / (k + rank))` down to
    * depth [[RrfDepth]]; a doc missing from one list simply gets no
    * points from it (full-outer fusion). Output: top-10 fused with
    * both source ranks.
    *
    * Scale shape: each side reduces to a bounded [[RrfDepth]]-row rank
    * list BEFORE the fusion join — the fusion is constant-size work no
    * matter the corpus; the dense side is one brute-force scan against
    * a single broadcast query vector (swap in the LSH/IVF serving path
    * of [[graft.ext.Similarity]] for billion-vector corpora — same
    * fused contract).
    */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rank AFTER a distributed TakeOrdered trim: the single-partition
    // row_number window only ever sees RrfDepth rows, never the corpus
    val bmW = Window.orderBy(col("score_e6").desc, col("doc_id").asc)
    val bm = bm25Scores(spark, sfDir).filter(col("doc_id") =!= 0)
      .orderBy(col("score_e6").desc, col("doc_id").asc).limit(RrfDepth)
      .withColumn("bm25_rank", row_number().over(bmW).cast("long"))
      .select(col("doc_id"), col("bm25_rank"))
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val cosW = Window.orderBy(col("cscore").desc, col("vec_id").asc)
    val dense = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.expressions.GraftFunctions
          .cosineSim(col("embedding"), col("q_emb")), 6).as("cscore"))
      .orderBy(col("cscore").desc, col("vec_id").asc).limit(RrfDepth)
      .withColumn("cos_rank", row_number().over(cosW).cast("long"))
      .select(col("vec_id").as("doc_id"), col("cos_rank"))
    bm.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        (coalesce(floor(lit(1e6) / (lit(RrfK) + col("bm25_rank"))), lit(0L))
          + coalesce(floor(lit(1e6) / (lit(RrfK) + col("cos_rank"))), lit(0L)))
          .cast("long").as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Ranking-quality evaluation of the BM25 list — MRR@10 and NDCG@10
    * against a deterministic relevance oracle: a document's graded
    * relevance is its matched-term count (1..|Q|), "fully relevant" =
    * matches ALL query terms. Retrieval stacks are tuned from exactly
    * this table (swap in judged qrels at deployment; the dataflow is
    * identical because relevance is a per-doc column either way).
    *
    * Float discipline: the DCG discount is the natural-log form
    * (NDCG is invariant to the discount base up to the per-term
    * rounding), `ln(rank+1)` is rounded at 1e-9 immediately, and each
    * position's gain is floored to integer micro-points BEFORE the
    * sum — the [[bm25Scores]] rule, so both engines sum identical
    * integers. MRR and NDCG ship as ppm integers.
    *
    * Scale shape: both rank lists are distributed TakeOrdered trims to
    * 10 rows before any window touches them; everything downstream is
    * constant-size. The corpus cost is [[bm25Scores]]'s linear scan,
    * shared with the serving query.
    */
  def rankEval(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = bm25Scores(spark, sfDir)
    val sysW = Window.orderBy(col("score_e6").desc, col("doc_id").asc)
    val sys = scores.orderBy(col("score_e6").desc, col("doc_id").asc).limit(10)
      .withColumn("rank", row_number().over(sysW).cast("long"))
    val idealW = Window.orderBy(col("n_terms").desc, col("doc_id").asc)
    val ideal = scores.orderBy(col("n_terms").desc, col("doc_id").asc).limit(10)
      .withColumn("rank", row_number().over(idealW).cast("long"))
    def gainE6 = floor(col("n_terms") * lit(1e6)
      / round(log(col("rank") + lit(1)), 9) + lit(0.5)).cast("long")
    // coalesce to 0 so a corpus matching NO query term (empty score
    // relation → NULL aggregates) still honours the integer-ppm
    // contract: dcg/idcg/ndcg all 0, never NULL
    val dcg = sys.agg(coalesce(sum(gainE6), lit(0L)).as("dcg_e6"),
      coalesce(min(when(col("n_terms") === QueryTerms.size, col("rank"))),
        lit(0L)).as("first_rel3"))
    val idcg = ideal.agg(coalesce(sum(gainE6), lit(0L)).as("idcg_e6"))
    dcg.crossJoin(idcg).select(
      when(col("first_rel3") > 0, expr("1000000 div first_rel3"))
        .otherwise(lit(0L)).as("mrr_ppm"),
      col("dcg_e6"), col("idcg_e6"),
      when(col("idcg_e6") > 0, expr("dcg_e6 * 1000000 div idcg_e6"))
        .otherwise(lit(0L)).as("ndcg_ppm"))
  }

  /** Results kept per query by [[bm25MultiTopK]] / [[hybridRrfMulti]]. */
  private[graft] val MultiTopK = 10

  /** Multi-query BM25 scores for an arbitrary (query_id, term) query
    * table — the parameterized counterpart of [[bm25Scores]], scoring
    * a BATCH of queries in one corpus pass. Dataflow (the inverted-
    * posting shape):
    *
    *  1. tokens explode from the document scan and are immediately
    *     trimmed by a broadcast semi-join against the queries' DISTINCT
    *     term vocabulary — map-only, nothing corpus-token-grain ever
    *     shuffles;
    *  2. ONE exchange at (doc_id, term) grain builds the postings
    *     (tf counts), with map-side partial aggregation trimming it to
    *     per-task distinct (doc, matched-term) partials;
    *  3. document frequencies group the postings by term (query-vocab-
    *     bounded) and join the 1-row corpus stats — idf is a broadcast
    *     relation of |vocab| rows (the quantizer-as-data discipline);
    *  4. per-(query, doc) contributions attach idf and the query table
    *     through broadcast joins on term, and the only other exchange
    *     aggregates them at (query_id, doc_id) grain.
    *
    * That is the 100 TB shape: corpus cost is one scan + one postings
    * exchange REGARDLESS of how many queries ride the batch; per-query
    * cost scales with matched postings only. Determinism is the
    * [[bm25Scores]] rule verbatim: idf floored at 1e-9 off the ln,
    * every contribution floored to integer micro-points BEFORE the
    * per-(query, doc) sum.
    *
    * The query table must be broadcast-sized (thousands of queries ×
    * terms — it is the SMALL side by contract; a corpus-sized query
    * set is a different operator: a similarity self-join).
    */
  private[graft] def bm25ScoredMulti(
      docs: DataFrame, queries: DataFrame): (DataFrame, DataFrame) = {
    val terms = queries.select("term").distinct()
    val toks = docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("dl"),
      explode(words(col("text"))).as("term"))
    // persisted because TWO branches consume it (df/idf and scoring)
    // and Spark plans common subtrees independently — without this the
    // corpus explode runs twice. Matched-postings grain (query-vocab
    // tokens only), far below corpus size. RETURNED alongside the
    // scores so the caller genuinely owns the unpersist — an internal
    // persist with no handle would leak one DISK_ONLY cache per ad-hoc
    // invocation (the declared queries reach it through the memoized
    // [[multiScores]], whose session cache is the lifecycle owner).
    val postings = toks.join(broadcast(terms), Seq("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(words(col("text")))).cast("double").as("sum_dl"))
    val idf = postings.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        floor(log(lit(1.0)
            + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * lit(1e9) + lit(0.5)).cast("long").as("idf_e9"),
        col("n_docs"), col("sum_dl"))
    val scores = postings.join(broadcast(idf), Seq("term"))
      .join(broadcast(queries), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        floor(col("idf_e9") / lit(1e9) * (col("tf") * lit(K1 + 1))
            / (col("tf") + lit(K1) * (lit(1 - B)
              + lit(B) * col("dl") / (col("sum_dl") / col("n_docs"))))
          * lit(1e6) + lit(0.5)).cast("long").as("c"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("c")).as("score_e6"), count(lit(1)).as("n_terms"))
    (scores, postings)
  }

  /** Memoized fixture-batch scores — two declared consumers
    * ([[bm25MultiTopK]], [[hybridRrfMulti]]) share the corpus pass
    * (the [[bm25Scores]] memoization rationale; (query, doc) grain ⇒
    * DISK_ONLY per the storage-level rule).
    */
  private val multiScoresCache = new graft.SessionCache[DataFrame]

  private[graft] def multiScores(spark: SparkSession, sfDir: String): DataFrame =
    multiScoresCache.getOrElseUpdate(spark, sfDir) {
      // the session cache is the lifecycle owner of BOTH frames: the
      // scored cache it hands out and the postings persist riding
      // inside it (blocks die with the session context either way)
      val (scores, _) =
        bm25ScoredMulti(Tables.documents(spark, sfDir), queryTable(spark))
      scores.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  /** Widest query in [[QuerySet]] — bounds the n_terms a scored row
    * can carry, which sizes the packed-id base below.
    */
  private[graft] val MaxQueryTerms: Int = QuerySet.map(_._2.size).max

  /** Per-query BM25 top-[[MultiTopK]] over the fixture query batch.
    * The per-query cut runs through [[TopK.topK]] (bounded-heap
    * partial aggregation), NOT a `Window.partitionBy(query_id)`: a
    * window ships EVERY matched (query, doc) score to its query's
    * reducer; the heap trims to K rows per query per map task before
    * the exchange. n_terms rides the heap packed into the id's low
    * bits via [[topKPacked]], base-derived from [[MaxQueryTerms]] so
    * a wider future [[QuerySet]] widens the packing instead of
    * silently corrupting doc_id/n_terms and the tie-break.
    */
  def bm25MultiTopK(spark: SparkSession, sfDir: String): DataFrame =
    topKPacked(multiScores(spark, sfDir), MultiTopK, MaxQueryTerms)

  /** The packed-id heap cut over any (query_id, doc_id, score_e6,
    * n_terms) frame: pack (doc_id, n_terms) into one long id so the
    * bounded heap carries both, unpack on the way out. The base is
    * the next power of two ABOVE maxTerms, so n_terms (≤ maxTerms by
    * the scorer's construction: a (query, doc) row counts at most the
    * query's own terms) always fits the low bits and the packing is
    * monotone in doc_id — the (score desc, id asc) tie-break is
    * preserved. Guarded loudly rather than documented quietly.
    */
  private[graft] def topKPacked(
      scores: DataFrame, k: Int, maxTerms: Int): DataFrame = {
    require(maxTerms >= 1 && maxTerms < (1L << 31),
      s"maxTerms out of packable range: $maxTerms")
    val base = java.lang.Long.highestOneBit(maxTerms.toLong) * 2
    require(base > maxTerms,
      s"packing base $base cannot carry n_terms up to $maxTerms")
    scores
      .select(col("query_id"),
        (col("doc_id") * base + col("n_terms")).as("packed"),
        col("score_e6").cast("double").as("s"))
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("packed"), col("s")).as("hits"))
      .select(col("query_id"), posexplode(col("hits")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        expr(s"col._1 div ${base}L").as("doc_id"),
        col("col._2").cast("long").as("score_e6"),
        (col("col._1") % base).as("n_terms"))
  }

  /** Per-query reciprocal-rank fusion over the fixture batch — the
    * multi-query [[hybridRrf]]: each query fuses its BM25 list with a
    * dense cosine list against ITS OWN query vector (vec_id =
    * query_id; the query's own row is excluded from both lists, as in
    * the single-query form). Both sides trim to [[RrfDepth]] per query
    * through the bounded-heap aggregator before the fusion join, so
    * fusion and the final per-query window run over ≤ |queries| ×
    * 2·[[RrfDepth]] rows — constant-size however big the corpus.
    */
  def hybridRrfMulti(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = multiScores(spark, sfDir)
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id")
      .agg(TopK.topK(RrfDepth)(col("doc_id"), col("score_e6").cast("double"))
        .as("hits"))
      .select(col("query_id"), posexplode(col("hits")))
      .select(col("query_id"), col("col._1").as("doc_id"),
        (col("pos") + 1).cast("long").as("bm25_rank"))
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.join(
        broadcast(queryTable(spark).select("query_id").distinct()),
        col("vec_id") === col("query_id"))
      .select(col("query_id"), col("embedding").as("q_emb"))
    val dense = emb.join(broadcast(qv), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.expressions.GraftFunctions
          .cosineSim(col("embedding"), col("q_emb")), 6).as("cscore"))
      .groupBy("query_id")
      .agg(TopK.topK(RrfDepth)(col("vec_id"), col("cscore")).as("hits"))
      .select(col("query_id"), posexplode(col("hits")))
      .select(col("query_id"), col("col._1").as("doc_id"),
        (col("pos") + 1).cast("long").as("cos_rank"))
    val fused = bm.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("bm25_rank"), col("cos_rank"),
        (coalesce(floor(lit(1e6) / (lit(RrfK) + col("bm25_rank"))), lit(0L))
          + coalesce(floor(lit(1e6) / (lit(RrfK) + col("cos_rank"))), lit(0L)))
          .cast("long").as("rrf_e6"))
    // the window's input is the bounded fused frame (≤ 2·RrfDepth rows
    // per query), never the corpus — the post-trim window rule
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_e6").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= MultiTopK)
  }

  val oracleSql: Map[String, String] = {
    val termValues = QueryTerms.map(t => s"('$t')").mkString(", ")
    val qValues = QuerySet.flatMap { case (q, ts) =>
      ts.map(t => s"(CAST($q AS BIGINT), '$t')")
    }.mkString(", ")
    val qIds = QuerySet.map(_._1).mkString(", ")
    val multiCte =
      s"""q(query_id, term) AS (VALUES $qValues),
          md AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          mtoks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                           unnest(ws) AS term
                    FROM md),
          mpost AS (
            SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
            FROM mtoks JOIN (SELECT DISTINCT term FROM q) qt USING (term)
            GROUP BY doc_id, dl, term),
          mg AS (SELECT count(*) AS n_docs,
                        CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS sum_dl
                 FROM documents),
          midf AS (
            SELECT term,
                   CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e9 + 0.5)
                     AS BIGINT) AS idf_e9, n_docs, sum_dl
            FROM (SELECT term, count(*) AS df FROM mpost GROUP BY term), mg),
          mcontrib AS (
            SELECT q.query_id, p.doc_id,
                   CAST(floor(idf_e9 / 1e9 * (tf * ${K1 + 1})
                          / (tf + $K1 * (${1 - B} + $B * dl / (sum_dl / n_docs)))
                        * 1e6 + 0.5) AS BIGINT) AS c
            FROM mpost p JOIN midf USING (term) JOIN q USING (term)),
          mscored AS (
            SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_e6,
                   count(*) AS n_terms
            FROM mcontrib GROUP BY query_id, doc_id)"""
    val tfCte =
      s"""d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          tf AS (
            SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, t.term,
                   CAST(len(list_filter(ws, w -> w = t.term)) AS BIGINT) AS tf
            FROM d, (VALUES $termValues) t(term)),
          nz AS (SELECT * FROM tf WHERE tf > 0),
          g AS (SELECT count(*) AS n_docs,
                       CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS sum_dl
                FROM documents),
          idf AS (
            SELECT term,
                   CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e9 + 0.5)
                     AS BIGINT) AS idf_e9, n_docs, sum_dl
            FROM (SELECT term, count(*) AS df FROM nz GROUP BY term), g),
          contrib AS (
            SELECT doc_id,
                   CAST(floor(idf_e9 / 1e9 * (tf * ${K1 + 1})
                          / (tf + $K1 * (${1 - B} + $B * dl / (sum_dl / n_docs)))
                        * 1e6 + 0.5) AS BIGINT) AS c
            FROM nz JOIN idf USING (term)),
          scored AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_e6,
                   count(*) AS n_terms
            FROM contrib GROUP BY doc_id)"""
    Map(
      "retrieval_bm25" ->
        s"""WITH $tfCte
            SELECT doc_id, score_e6, n_terms,
                   CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id ASC)
                     AS BIGINT) AS rank
            FROM scored ORDER BY score_e6 DESC, doc_id ASC LIMIT 20""",
      "retrieval_rrf" ->
        s"""WITH $tfCte,
            bm AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id ASC)
                       AS BIGINT) AS bm25_rank
              FROM scored WHERE doc_id != 0
              QUALIFY bm25_rank <= $RrfDepth),
            dense AS (
              SELECT c.vec_id AS doc_id,
                     CAST(row_number() OVER (ORDER BY cscore DESC, c.vec_id ASC)
                       AS BIGINT) AS cos_rank
              FROM (
                SELECT c.vec_id,
                       round(list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
                                 for i in range(len(q.embedding))])
                         / (sqrt(list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE)
                                 for i in range(len(q.embedding))]))
                            * sqrt(list_sum([CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
                                 for i in range(len(c.embedding))]))), 6) AS cscore
                FROM embeddings c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                WHERE c.vec_id != 0) c
              QUALIFY cos_rank <= $RrfDepth)
            SELECT doc_id, bm25_rank, cos_rank,
                   CAST(coalesce(floor(1e6 / ($RrfK + bm25_rank)), 0)
                      + coalesce(floor(1e6 / ($RrfK + cos_rank)), 0)
                     AS BIGINT) AS rrf_e6
            FROM bm FULL OUTER JOIN dense USING (doc_id)
            ORDER BY rrf_e6 DESC, doc_id ASC LIMIT 10""",
      "retrieval_rank_eval" ->
        s"""WITH $tfCte,
            sys AS (
              SELECT doc_id, n_terms,
                     CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id ASC)
                       AS BIGINT) AS rank
              FROM scored QUALIFY rank <= 10),
            ideal AS (
              SELECT doc_id, n_terms,
                     CAST(row_number() OVER (ORDER BY n_terms DESC, doc_id ASC)
                       AS BIGINT) AS rank
              FROM scored QUALIFY rank <= 10),
            sysagg AS (
              SELECT coalesce(CAST(sum(CAST(floor(n_terms * 1e6 / round(ln(rank + 1), 9) + 0.5)
                       AS BIGINT)) AS BIGINT), 0) AS dcg_e6,
                     coalesce(min(CASE WHEN n_terms = ${QueryTerms.size}
                                       THEN rank END), 0) AS first_rel3
              FROM sys),
            idealagg AS (
              SELECT coalesce(CAST(sum(CAST(floor(n_terms * 1e6 / round(ln(rank + 1), 9) + 0.5)
                       AS BIGINT)) AS BIGINT), 0) AS idcg_e6
              FROM ideal)
            SELECT CASE WHEN first_rel3 > 0
                        THEN CAST(1000000 // first_rel3 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS mrr_ppm,
                   dcg_e6, idcg_e6,
                   CASE WHEN idcg_e6 > 0
                        THEN CAST(dcg_e6 * 1000000 // idcg_e6 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS ndcg_ppm
            FROM sysagg, idealagg""",
      "retrieval_bm25_multi" ->
        s"""WITH $multiCte
            SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_e6,
                   n_terms
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY score_e6 DESC, doc_id ASC)
                    AS rank
                  FROM mscored)
            WHERE rank <= $MultiTopK""",
      "retrieval_rrf_multi" ->
        s"""WITH $multiCte,
            mbm AS (
              SELECT query_id, doc_id,
                     CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY score_e6 DESC, doc_id ASC)
                       AS BIGINT) AS bm25_rank
              FROM mscored WHERE doc_id != query_id
              QUALIFY bm25_rank <= $RrfDepth),
            mqv AS (SELECT vec_id AS query_id, embedding
                    FROM embeddings WHERE vec_id IN ($qIds)),
            mdense AS (
              SELECT query_id, vec_id AS doc_id,
                     CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY cscore DESC, vec_id ASC)
                       AS BIGINT) AS cos_rank
              FROM (
                SELECT q.query_id, c.vec_id,
                       round(list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
                                 for i in range(len(q.embedding))])
                         / (sqrt(list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE)
                                 for i in range(len(q.embedding))]))
                            * sqrt(list_sum([CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
                                 for i in range(len(c.embedding))]))), 6) AS cscore
                FROM embeddings c, mqv q WHERE c.vec_id != q.query_id)
              QUALIFY cos_rank <= $RrfDepth),
            mfused AS (
              SELECT coalesce(b.query_id, d.query_id) AS query_id,
                     coalesce(b.doc_id, d.doc_id) AS doc_id,
                     b.bm25_rank, d.cos_rank,
                     CAST(coalesce(floor(1e6 / ($RrfK + b.bm25_rank)), 0)
                        + coalesce(floor(1e6 / ($RrfK + d.cos_rank)), 0)
                       AS BIGINT) AS rrf_e6
              FROM mbm b FULL OUTER JOIN mdense d
                ON b.query_id = d.query_id AND b.doc_id = d.doc_id)
            SELECT query_id, doc_id, bm25_rank, cos_rank, rrf_e6,
                   CAST(rank AS BIGINT) AS rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY rrf_e6 DESC, doc_id ASC)
                    AS rank
                  FROM mfused)
            WHERE rank <= $MultiTopK""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "retrieval_bm25" -> bm25TopK _,
    "retrieval_rrf" -> hybridRrf _,
    "retrieval_rank_eval" -> rankEval _,
    "retrieval_bm25_multi" -> bm25MultiTopK _,
    "retrieval_rrf_multi" -> hybridRrfMulti _,
  )
}
