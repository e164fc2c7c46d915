package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Advanced relational operators beyond both the reference and plain
  * SQL-92: as-of join, vector aggregation, and a composed corpus-prep
  * pipeline.
  */
object Advanced {

  /** As-of join: each event joined to the user's most recent order at
    * or before the event's time (DuckDB `ASOF JOIN` semantics —
    * deterministic here because orders are pre-deduplicated to one row
    * per (custkey, date), keeping the max orderkey).
    *
    * Spark lacks a batch as-of join. Formulation: compress each user's
    * order history into ONE sorted timeline array (two aggregates on
    * the orders side — small per user by nature), then probe it per
    * event with [[graft.functions.expressions.AsofLast]], a codegen'd
    * O(log n) binary search. The probe side (events — the fact table)
    * only partakes in an equi-join on user_id: broadcast when the
    * timeline side fits (no shuffle of events at all), shuffle-join
    * otherwise — but never globally SORTED, which is what the
    * alternative union-sentinel + ignore-nulls-window formulation
    * costs (it sorts events∪orders per user). No per-row range scan,
    * no range explosion; state per user is its order count, the same
    * bound the window formulation carries.
    */
  def joinAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.expressions.GraftFunctions.asofLast
    val timeline = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(struct(col("o_orderdate"), col("o_orderkey"))))
        .as("ord_tl"))
    Tables.events(spark, sfDir)
      .join(timeline, col("user_id") === col("o_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        asofLast(col("ord_tl"), col("ts")).as("pick"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("pick.o_orderkey").as("asof_orderkey"),
        col("pick.o_orderdate").as("asof_orderdate"))
  }

  /** FORWARD as-of join — each event joined to the user's EARLIEST
    * order at-or-after the event: the label-joining shape of a
    * prediction pipeline (features frozen at time t, label = the next
    * outcome), the mirror of [[joinAsOf]]'s features-side backward
    * pick.
    *
    * Zero new machinery: the same codegen
    * [[graft.functions.expressions.AsofLast]] binary search runs over
    * the NEGATED timeline — structs keyed by `-unix_micros(t)` sort
    * descending in real time, so "last element with −t ≤ −key" is
    * exactly "smallest t ≥ key". Same one-exchange-per-side scale
    * shape as the backward form; the probe side still never sorts
    * globally.
    */
  def joinAsOfForward(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.expressions.GraftFunctions.asofLast
    val timeline = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(struct(
        // NTZ → TIMESTAMP is micros-identical under the UTC session
        // every entry point pins (Tables.events asserts it)
        (-unix_micros(col("o_orderdate").cast("timestamp"))).as("neg_t"),
        col("o_orderdate"), col("o_orderkey")))).as("ord_tl"))
    Tables.events(spark, sfDir)
      .join(timeline, col("user_id") === col("o_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        asofLast(col("ord_tl"), -unix_micros(col("ts"))).as("pick"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("pick.o_orderkey").as("next_orderkey"),
        col("pick.o_orderdate").as("next_orderdate"))
  }

  /** NEAREST as-of join — each event joined to the user's closest
    * order in EITHER time direction (pandas `merge_asof(direction=
    * 'nearest')`), ties breaking backward like pandas: the alignment
    * shape for joining two irregular time series where neither side
    * leads — sensor pairing, price-mark matching, nearest-snapshot
    * enrichment.
    *
    * Zero new machinery: ONE grouped timeline build carries BOTH sort
    * orders (the ascending date array and the negated-micros array),
    * so both directional [[graft.functions.expressions.AsofLast]]
    * binary searches run against a single join's build side — same
    * one-exchange-per-side scale shape as each directional form, and
    * the direction choice is a pure post-probe projection on exact
    * integer micro deltas.
    */
  def joinAsOfNearest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.expressions.GraftFunctions.asofLast
    val timeline = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        sort_array(collect_list(struct(col("o_orderdate"), col("o_orderkey"))))
          .as("tl_back"),
        sort_array(collect_list(struct(
          (-unix_micros(col("o_orderdate").cast("timestamp"))).as("neg_t"),
          col("o_orderdate"), col("o_orderkey")))).as("tl_fwd"))
    val dBack = unix_micros(col("ts")) -
      unix_micros(col("pb.o_orderdate").cast("timestamp"))
    val dFwd = unix_micros(col("pf.o_orderdate").cast("timestamp")) -
      unix_micros(col("ts"))
    Tables.events(spark, sfDir)
      .join(timeline, col("user_id") === col("o_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        asofLast(col("tl_back"), col("ts")).as("pb"),
        asofLast(col("tl_fwd"), -unix_micros(col("ts"))).as("pf"))
      .withColumn("use_back",
        col("pb").isNotNull && (col("pf").isNull || dBack <= dFwd))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("use_back"), col("pb.o_orderkey"))
          .otherwise(col("pf.o_orderkey")).as("nearest_orderkey"),
        when(col("use_back"), col("pb.o_orderdate"))
          .otherwise(col("pf.o_orderdate")).as("nearest_orderdate"),
        when(col("use_back"), dBack)
          .otherwise(dFwd).as("nearest_delta_us"))
  }

  /** Per-label embedding centroids, one output row per (label,
    * dimension): the vector-aggregate shape of building class
    * prototypes / IVF coarse quantizer cells. The whole corpus folds
    * through ONE global typed aggregation
    * ([[graft.functions.CentroidAgg]]: per-task label-map partials, a
    * single exchange of |labels| × Dim doubles — the same single-pass
    * build [[graft.ext.Similarity.ivfTopK]] uses, replacing the
    * round-3 Dim-wide declarative sum form whose 65-aggregate chain
    * paid an extra exchange + final-aggregate stage), then the ONE
    * output row unpivots to (label, pos) rows. Values rounded to 6
    * decimals (float summation order differs across engines at
    * ~1e-14); the round/divide happens declaratively on the tiny
    * output so cross-engine `round` semantics are Spark's own.
    */
  def embLabelCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.embeddings(spark, sfDir)
      .agg(graft.functions.CentroidAgg.centroids(
        col("label").cast("long"), col("embedding")).as("raw"))
      .select(explode(col("raw")).as("c"))
      .select(col("c._1").cast("int").as("label"), col("c._2").as("n_vectors"),
        posexplode(transform(col("c._3"), s => round(s / col("c._2"), 6))))
      .select(col("label"), col("pos").cast("long").as("pos"),
        col("col").as("centroid"), col("n_vectors"))
  }

  /** Gap threshold for [[sessionize]]: 8 hours, ~the median inter-event
    * gap per user in the test corpus, so sessions genuinely split.
    */
  private val SessionGapUs = 8L * 3600 * 1000 * 1000

  /** Batch sessionization: group each user's event stream into
    * sessions separated by > 8 h of silence — the lag → new-session
    * flag → running-sum session id → per-session aggregate shape every
    * behavioral pipeline runs. Both windows share one (user_id) hash
    * partitioning and one (ts, event_id) sort: a single exchange and a
    * single per-partition sort serve the whole plan at any scale; the
    * session aggregate then groups within partitions. The streaming
    * form of the same gap rule is [[graft.streaming.Sessionize]]
    * (flatMapGroupsWithState; data-dependent extent ⇒ not a fixed
    * window).
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("prev_us",
        lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
  }

  /** Staleness bound for [[joinAsOfTolerance]]: matches older than
    * this are nulled out (pandas `merge_asof(tolerance=...)`).
    */
  private val AsofToleranceUs = 30L * 86400 * 1000 * 1000 // 30 days

  /** As-of join with a staleness tolerance — [[joinAsOf]] plus the
    * bound every feature-store point-in-time join actually ships with
    * (a 2-year-old "most recent order" is not a feature, it is a
    * leak): matches further back than [[AsofToleranceUs]] are nulled,
    * keeping the probe row. Same binary-search timeline plan — the
    * tolerance is a pure post-probe projection, zero extra shuffle.
    */
  def joinAsOfTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val fresh = col("pick").isNotNull &&
      unix_micros(col("ts")) -
        unix_micros(col("pick.o_orderdate").cast("timestamp")) <= AsofToleranceUs
    import graft.functions.expressions.GraftFunctions.asofLast
    val timeline = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(struct(col("o_orderdate"), col("o_orderkey"))))
        .as("ord_tl"))
    Tables.events(spark, sfDir)
      .join(timeline, col("user_id") === col("o_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        asofLast(col("ord_tl"), col("ts")).as("pick"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(fresh, col("pick.o_orderkey")).as("asof_orderkey"),
        when(fresh, col("pick.o_orderdate")).as("asof_orderdate"))
  }

  /** Native `session_window` sessionization — the same 8-hour gap rule
    * as [[sessionize]], expressed through Spark's built-in dynamic
    * session-window operator instead of the lag→cumsum window pair:
    * the grouped aggregate merges overlapping per-event windows into
    * sessions inside ONE aggregation (batch form of the streaming
    * session-window state machine; no per-user sort exposed in the
    * plan contract). Session ids are re-derived per user by start
    * order so the output contract matches [[sessionize]] exactly —
    * and the DuckDB oracle (which has no session_window) is the
    * lag→cumsum form, making this query an ENGINE-LEVEL equivalence
    * proof between the two formulations.
    */
  def sessionizeNative(spark: SparkSession, sfDir: String): DataFrame = {
    val wUser = Window.partitionBy("user_id").orderBy(col("session_start").asc)
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"${SessionGapUs / 1000000L} seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .select(col("user_id"),
        row_number().over(wUser).cast("long").as("session_id"),
        col("session_start"), col("session_end"),
        col("n_events"), col("n_clicks"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .as("duration_us"))
  }

  /** End-to-end corpus preparation: the composition a training-data
    * pipeline actually runs — quality-score filter, then near-dup
    * removal (drop the higher doc_id of every MinHash-LSH candidate
    * pair with estimated Jaccard ≥ 0.8) — emitting the kept documents
    * with their metrics. Composes [[graft.functions.TextAnalysis]] and
    * [[graft.ext.Dedup]] plans; Catalyst fuses the shared scans.
    */
  def corpusPrep(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = graft.functions.TextAnalysis.quality(spark, sfDir)
      .select("doc_id", "n_tokens", "quality_score")
    val dupLosers = graft.ext.Dedup.minhashLsh(spark, sfDir)
      .filter(col("est_jaccard") >= 0.8)
      .select(col("doc_b").as("doc_id")).distinct()
    quality
      .filter(col("quality_score") >= 0.3)
      .join(dupLosers, Seq("doc_id"), "left_anti")
  }

  /** Chain-safe corpus preparation — [[corpusPrep]] with the near-dup
    * removal done RIGHT for transitive duplicate chains: LSH candidate
    * pairs at est_jaccard ≥ 0.8 are resolved into connected components
    * ([[graft.ext.Dedup.starComponents]]) and exactly one
    * representative (the minimum doc_id) survives per cluster.
    * Pairwise drop-the-higher-id ([[corpusPrep]]) removes BOTH b and c
    * of a chain a–b, b–c even though a and c never matched — i.e. it
    * over-deletes inside clusters; component resolution keeps one copy
    * of every near-dup family, which is what "dedup" is supposed to
    * mean for templated/boilerplate document groups. Same quality gate
    * on top; the component labels add O(log n) bounded-narrow
    * iteration rounds over the (tiny) filtered candidate graph.
    */
  def corpusPrepCc(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = graft.functions.TextAnalysis.quality(spark, sfDir)
      .select("doc_id", "n_tokens", "quality_score")
    val losers = graft.ext.Dedup.dupComponents(spark, sfDir, 0.8)
      .filter(col("v") =!= col("comp"))
      .select(col("v").as("doc_id"))
    quality
      .filter(col("quality_score") >= 0.3)
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** Per-stratum keep rates (per mille) for [[sampleStratified]]:
    * downsample the head classes hard, keep the rare ones — the class
    * rebalancing every training-data pipeline runs before a mix.
    */
  private val SampleRatePerMille: Seq[(String, Int)] = Seq(
    "click" -> 100, "view" -> 50, "purchase" -> 800,
    "signup" -> 1000, "error" -> 250)

  /** Deterministic stratified sampling: each event type keeps its own
    * fraction, decided by `md5(event_id) mod 1000` — a pure per-row
    * filter with zero shuffle that is reproducible across reruns,
    * engines, partitionings, and backfills, where `rand()`-based
    * sampling silently changes the kept set every recompute (same
    * keyed-hash idiom as
    * [[graft.functions.TextAnalysis.trainTestSplit]]). Rates live in
    * one map; at 100 TB this is scan-bound and embarrassingly
    * parallel.
    */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val h = (conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000).as("hash_mod")
    val rate = SampleRatePerMille.tail
      .foldLeft(when(col("event_type") === SampleRatePerMille.head._1,
        lit(SampleRatePerMille.head._2))) {
        case (acc, (t, r)) => acc.when(col("event_type") === t, lit(r))
      }.otherwise(lit(0))
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value"), h, rate.as("keep_rate"))
      .filter(col("hash_mod") < col("keep_rate"))
  }

  /** Max documents any single source may contribute ([[sampleCapPerSource]]). */
  private val SourceCap = 50

  /** Per-source contribution capping — the mixture-control op of a
    * pretraining data recipe: no source (domain, crawl, feed) may
    * contribute more than [[SourceCap]] documents, and WHICH documents
    * survive is a deterministic, backfill-stable hash-rank sample
    * (md5-keyed like [[graft.functions.TextAnalysis.trainTestSplit]])
    * — never `rand()`, so a recompute keeps the same sample.
    *
    * Skew-proof plan: the executed form is the bounded-heap
    * [[graft.functions.BottomKAgg]] aggregation, NOT
    * `row_number().over(Window.partitionBy(source))`. A window
    * shuffles EVERY document of a source to one reducer before keeping
    * [[SourceCap]]; under real source skew (one crawl = half the
    * corpus) that reducer receives half the corpus. The aggregator
    * participates in partial aggregation — each map task trims each
    * source to the cap before the exchange — so the shuffle carries
    * O(partitions × cap) rows per source regardless of skew, and the
    * reducer's final merge is over those trimmed partials. The rank is
    * recovered by position in the sorted kept-array (same total order:
    * hash_key asc, doc_id asc), so the output contract is unchanged.
    */
  def sampleCapPerSource(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), h.as("hash_key"))
      .groupBy("source")
      .agg(graft.functions.TopK.bottomK(SourceCap)(
        col("hash_key"), col("doc_id")).as("kept"))
      .select(col("source"), posexplode(col("kept")).as(Seq("pos", "kv")))
      .select(col("kv._2").as("doc_id"), col("source"), col("kv._1").as("hash_key"),
        (col("pos") + 1).cast("long").as("sample_rank"))
  }

  /** Sample size per source for [[sampleWeightedReservoir]]. */
  private val ReservoirK = 25

  /** Weighted reservoir sampling — a fixed-size weighted sample
    * WITHOUT replacement per source (Efraimidis & Spirakis, IPL 2006:
    * keep the K items with the largest u^(1/w); equivalently, by
    * monotonicity of ln on (0,1], the largest ln(u)/w — the form used
    * here so no fractional `pow` enters the plan). Inclusion
    * probability scales with document weight (token count), which is
    * the missing quarter of the mixture-control suite: the cap sampler
    * is unweighted, the balance/temperature samplers adjust RATES per
    * source but not per document, and token-budget selection is
    * hash-ordered rather than importance-proportional. A
    * length-weighted reservoir is how a token-budgeted recipe samples
    * documents in proportion to the tokens they actually contribute.
    *
    * Deterministic and backfill-stable like every sampler here: u
    * derives from the md5 hash of doc_id ((h+1)/2⁶⁰ ∈ (0,1], never
    * `rand()`), ln rounds at 1e-9 before the division (the
    * [[graft.functions.TextAnalysis.unigramLogprob]] libm discipline),
    * and ties break on doc_id — a total order, so the sample is
    * cross-engine identical.
    *
    * Skew-proof plan, same rationale as [[sampleCapPerSource]]: the
    * per-source top-K runs as the bounded-heap [[graft.functions
    * .TopKAgg]] with map-side partial trimming — O(partitions × K)
    * rows per source cross the exchange no matter how skewed the
    * source mixture — never a `row_number()` window that would ship a
    * whole source to one reducer.
    */
  def sampleWeightedReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = size(split(col("text"), " ")).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), w.as("weight"),
        (round(log((h + 1).cast("double") /
          lit(1152921504606846976L).cast("double")), 9) /
          w.cast("double")).as("es_key"))
      .groupBy("source")
      .agg(graft.functions.TopK.topK(ReservoirK)(
        col("doc_id"), col("es_key")).as("kept"),
        count(lit(1)).as("n_source"))
      .select(col("source"), col("n_source"), posexplode(col("kept")))
      .select(col("col._1").as("doc_id"), col("source"),
        col("col._2").as("es_key"),
        (col("pos") + 1).cast("long").as("sample_rank"), col("n_source"))
  }

  /** Source balancing — the other half of mixture control next to
    * [[sampleCapPerSource]]: downsample every source to (at most) the
    * SMALLEST source's volume, so the output mixture is uniform across
    * sources — the "balance the domains before weighting them" step of
    * a pretraining recipe. Per-source keep rates are derived from the
    * data itself (floor(1000·min/n) per mille), and WHICH documents
    * survive is the same md5-keyed, backfill-stable hash rank as every
    * sampler in this library — never `rand()`.
    *
    * Scale shape: two CARD-sized aggregations (per-source counts, then
    * their 1-row min) broadcast back onto the corpus — the corpus
    * itself is scanned once, never shuffled; the filter is a pure
    * per-row projection. At 100 TB this is scan-bound like
    * [[sampleStratified]], with the rates computed from data instead
    * of a config map.
    */
  def sampleBalanceSources(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val minN = counts.agg(min(col("n")).as("m"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col("source"),
        floor(lit(1000.0) * col("m") / col("n")).cast("long").as("keep_pm"))
    val h = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000).as("hash_mod")
    docs.select(col("doc_id"), col("source"), h)
      .join(broadcast(rates), "source")
      .filter(col("hash_mod") < col("keep_pm"))
      .select(col("doc_id"), col("source"), col("hash_mod"), col("keep_pm"))
  }

  /** Temperature-flattened source mixing — the third mixture-control
    * op next to [[sampleCapPerSource]] (hard cap) and
    * [[sampleBalanceSources]] (full flattening): per-source keep rates
    * follow α-temperature sampling with α = 1/2 — the standard
    * multilingual/multi-domain recipe where target share ∝ n^α, so
    * large sources are downsampled sublinearly instead of truncated to
    * the minimum. The kept fraction is √(min/n): the smallest source
    * keeps everything, a source 100× larger keeps 10× the minimum's
    * volume (not 1×, as balancing would). α = 1/2 is not just the
    * common default — `sqrt` is correctly rounded under IEEE 754, so
    * the derived per-mille rates are bit-identical across engines
    * where a general `pow(x, α)` would carry libm ulp risk.
    *
    * Same scale shape as [[sampleBalanceSources]]: two card-sized
    * aggregations broadcast back onto a single corpus scan, selection
    * by the md5 hash-rank every sampler here uses — deterministic and
    * backfill-stable, never `rand()`.
    */
  def sampleTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val minN = counts.agg(min(col("n")).as("m"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col("source"),
        floor(lit(1000.0) *
          sqrt(col("m").cast("double") / col("n").cast("double")))
          .cast("long").as("keep_pm"))
    val h = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000).as("hash_mod")
    docs.select(col("doc_id"), col("source"), h)
      .join(broadcast(rates), "source")
      .filter(col("hash_mod") < col("keep_pm"))
      .select(col("doc_id"), col("source"), col("hash_mod"), col("keep_pm"))
  }

  /** Hashed-feature dimensionality of [[sampleDsir]]'s bucket models —
    * 64 for the synthetic corpus (production DSIR uses ~10k; the
    * contract is identical). Bounded and fixed, so both bucket models
    * are card-sized relations regardless of corpus size.
    */
  private val DsirBuckets = 64L

  /** DSIR importance weighting — data selection via importance
    * resampling (Xie et al., "Data Selection for Language Models via
    * Importance Resampling", NeurIPS 2023): score every raw-corpus
    * document by how much more likely its hashed-n-gram features are
    * under a TARGET distribution than under the raw distribution,
    * log w(d) = Σ_b k_d(b)·(log p_target(b) − log p_raw(b)), then keep
    * the documents the target domain "wants". The target here is the
    * benchmark head ([[graft.ext.Dedup.BenchmarkDocs]] — the same
    * target-set convention decontamination uses); features are
    * unigrams hashed into [[DsirBuckets]] buckets by the md5 bucket
    * rule every sampler in this file shares, and both bucket models
    * carry Laplace +1 smoothing over a full bucket spine so
    * zero-count buckets are defined identically in both engines.
    *
    * Determinism: bucket log-probs round at 1e-9 BEFORE the
    * difference (the [[graft.functions.TextAnalysis.unigramModel]]
    * discipline), per-doc weights at 1e-6 after the ≤[[DsirBuckets]]-
    * term sum, and `selected` compares the ROUNDED weight against a
    * fixed literal (0 = more target-like than raw-like) — so the
    * selection set is bit-reproducible run-over-run and cross-engine,
    * never a `rand()` draw (DSIR's Gumbel-noise sampling step is a
    * per-row stateless addition on top of these weights; the weight
    * relation is the distributed artifact).
    *
    * Scale shape: the corpus token stream collapses to (doc, bucket)
    * counts in ONE corpus-grain aggregate; both models are re-
    * aggregations of card-sized partials from that grain (64 rows
    * each) and come back as a BROADCAST join onto the per-doc counts —
    * the corpus crosses an exchange once, the models never grow with
    * the data, and there is no driver-side collect anywhere.
    */
  /** Per-document (bucket, count) features of [[sampleDsir]] — the one
    * corpus-grain pass both the model build and the scoring consume.
    */
  private def dsirDocBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val b = (conv(substring(md5(col("t")), 1, 15), 16, 10)
      .cast("long") % DsirBuckets).as("b")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), b)
      .groupBy("doc_id", "b").agg(count(lit(1)).as("k"))
  }

  /** The trained DSIR model as a (b, dlp) relation — built once per
    * (session, dir) and persisted in memory (64 rows, the quantizer-
    * as-data size rule) or to the warehouse under
    * [[graft.IndexStore.IndexDirKey]]; [[sampleDsir]] queries then
    * cost one corpus pass + a broadcast join, the
    * [[graft.functions.TextAnalysis.unigramModel]] train-once
    * lifecycle.
    */
  private val dsirModelCache = new graft.SessionCache[DataFrame]

  private[graft] def dsirModel(spark: SparkSession, sfDir: String): DataFrame =
    dsirModelCache.getOrElseUpdate(spark, sfDir) {
      def build = {
        // ONE token-grain pass straight to bucket grain: the target
        // (benchmark-head) counts ride the same aggregate as the raw
        // counts via a conditional sum, so the corpus is scanned once
        // and never shuffles at (doc, bucket) grain — the exchange
        // carries 64×partitions map-side-combined rows. Integers are
        // unchanged: Σ_docs k(d,b) IS the token count of bucket b.
        val b = (conv(substring(md5(col("t")), 1, 15), 16, 10)
          .cast("long") % DsirBuckets).as("b")
        val counts = Tables.documents(spark, sfDir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .select(b,
            (col("doc_id") < graft.ext.Dedup.BenchmarkDocs).as("is_t"))
          .groupBy("b")
          .agg(count(lit(1)).as("cr"), count_if(col("is_t")).as("ct"))
        val tot = counts.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
        spark.range(DsirBuckets).select(col("id").as("b"))
          .join(counts, Seq("b"), "left_outer")
          .crossJoin(broadcast(tot))
          .select(col("b"),
            (round(log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
              (col("tt") + DsirBuckets)), 9) -
             round(log((coalesce(col("cr"), lit(0L)) + 1).cast("double") /
              (col("tr") + DsirBuckets)), 9)).as("dlp"))
      }
      graft.IndexStore.resolve(spark, sfDir, "dsir_model")(build)
        .getOrElse(build
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

  def sampleDsir(spark: SparkSession, sfDir: String): DataFrame =
    dsirDocBuckets(spark, sfDir)
      .join(broadcast(dsirModel(spark, sfDir)), "b")
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_tokens"),
        round(sum(col("k") * col("dlp")), 6).as("dsir_logw"))
      .select(col("doc_id"), col("n_tokens"), col("dsir_logw"),
        (col("dsir_logw") > 0.0).as("selected"))

  /** Tokens per packed training sequence for [[packSequences]]. */
  private val PackBudget = 256L

  /** Default shard count for [[packSequences]]; override per session
    * with [[PackShardsKey]].
    */
  private val DefaultPackShards = 32L

  /** Conf key: number of packing shards — THE parallelism knob of
    * [[packSequences]]. Set it to the training job's data-parallel
    * worker count: each shard packs independently (its own prefix
    * sum), so shard count bounds both the exchange's partition
    * parallelism and the number of independently-consumable pack
    * streams.
    */
  val PackShardsKey = "spark.graft.packShards"

  private[graft] def packShards(spark: SparkSession): Long =
    spark.conf.getOption(PackShardsKey).map(_.toLong).getOrElse(DefaultPackShards)

  /** Sequence packing (concat-and-chunk) — the training-batch
    * construction step between corpus prep and the trainer: documents
    * are concatenated in a deterministic order and cut into
    * fixed-token-budget sequences; each document is tagged with the
    * pack its first token lands in and its offset inside that pack.
    *
    * Scale design: packing is a prefix sum, which is inherently
    * sequential — so it runs PER SHARD (`doc_id % shards`, shard count
    * from [[PackShardsKey]], default 32), the way every real pipeline
    * packs per data-parallel worker anyway. The plan is
    * one hash exchange on shard + one per-partition sort (a single
    * partitioned window); shard count is the parallelism knob, and
    * the (shard, doc_id) order makes the packing deterministic,
    * partition-independent, and backfill-stable — same properties as
    * [[graft.functions.TextAnalysis.trainTestSplit]], for the same
    * reason: re-packing must not silently reshuffle which sequences
    * a document lands in. Token counts use the whitespace tokenizer
    * (consistent with `text_token_count`); integer arithmetic only.
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (col("doc_id") % packShards(spark)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("tokens_before"),
        expr(s"tokens_before div $PackBudget").as("pack_id"),
        (col("tokens_before") % PackBudget).as("offset_in_pack"))
  }

  /** Candidate sequence lengths for [[packEfficiency]] — spanning the
    * shorter-than-doc to much-longer-than-doc regimes so the report
    * actually shows the tradeoff curve at every test scale factor.
    */
  private val PackCandidates = Seq(128, 512, 2048, 8192)

  /** Packing-parameter tuning report — the table a pipeline computes
    * BEFORE choosing `max_seq_len`: under the pad-to-length training
    * model (each document chunked to ⌈n/L⌉ sequences, last chunk
    * padded), what fraction of every batch is real tokens vs padding,
    * per candidate L? Low utilization at large L is precisely the
    * waste [[packSequences]]'s concat-stream layout exists to remove —
    * this report quantifies what switching buys. All integer
    * arithmetic (ceil via `(n + L − 1) div L`, utilization in
    * permille), so the compare is exact.
    *
    * Scale shape: one narrow scan, a 4× literal-array explode, and a
    * 4-group hash aggregate with map-side partials — no window, no
    * corpus-grain exchange.
    */
  def packEfficiency(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"),
        explode(typedLit(PackCandidates)).as("seq_len"))
      .groupBy(col("seq_len").cast("long").as("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(expr("(n_tokens + seq_len - 1) div seq_len")).as("n_chunks"))
      .withColumn("padded_tokens",
        col("n_chunks") * col("seq_len") - col("total_tokens"))
      .withColumn("util_permille",
        expr("total_tokens * 1000 div (n_chunks * seq_len)"))

  /** Quality-aware near-dup keeper policy — [[corpusPrepCc]] with the
    * production selection rule: instead of keeping each duplicate
    * cluster's lowest doc_id, keep its HIGHEST-quality member
    * (tiebreak lowest id), then apply the quality floor. This is what
    * real pipelines do — the canonical copy of a mirrored page is the
    * cleanest one, not the first-crawled one.
    *
    * Scale shape: identical to [[corpusPrepCc]] (memoized LSH
    * candidates → star components) plus one keeper aggregation whose
    * INPUT is component members only — duplicate docs, a vanishing
    * fraction of the corpus — so the struct-ordered max (which Spark
    * plans sort-based) runs on cluster-member cardinality, never
    * corpus cardinality. Quality scores are bit-identical double
    * expressions in both engines, so the argmax is cross-engine exact.
    */
  def corpusPrepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = graft.functions.TextAnalysis.quality(spark, sfDir)
      .select("doc_id", "n_tokens", "quality_score")
    val members = graft.ext.Dedup.dupComponents(spark, sfDir, 0.8) // (v, comp)
    val keepers = members
      .join(quality.select(col("doc_id").as("v"), col("quality_score")), "v")
      .groupBy("comp")
      .agg(max(struct(col("quality_score"), (-col("v")).as("negid"))).as("best"))
      .select(col("comp"), (-col("best.negid")).as("keeper"))
    val losers = members.join(keepers, "comp")
      .filter(col("v") =!= col("keeper"))
      .select(col("v").as("doc_id"))
    quality
      .filter(col("quality_score") >= 0.3)
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** Per-source token budget for [[sampleTokenBudget]] — small enough
    * that the cut is ACTIVE at every test scale factor (per-source
    * volume is ~1.1k tokens at sf0.01, ~11k at sf0.1), so the oracle
    * actually exercises the boundary.
    */
  private val TokenBudget = 500L

  /** Token-budget sampling — the "take N tokens per source" step that
    * turns mixing RATIOS into an actual training set: per source, docs
    * are taken in deterministic md5-hash order until the EXCLUSIVE
    * running token total reaches the budget (the first doc crossing
    * the line is still taken — budgets are fuzzy by one doc, never
    * biased by doc length). Hash order makes the selection a uniform
    * sample, reproducible and backfill-stable like every sampler here.
    *
    * Scale shape: [[packSequences]]'s — one hash exchange on source +
    * one partitioned window prefix-sum; integer token arithmetic only.
    */
  def sampleTokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("budget_"), col("doc_id"))), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"), h.as("h"))
      .withColumn("tok_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("tok_before") < TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tok_before"))
  }

  /** Token-grain mixture optimization — the data-mixing solver between
    * dedup and packing: given per-source target weights (here the
    * deterministic stand-in `1 + src_index % 4`; production passes
    * DoReMi/Pile-style learned or hand-set weights — the dataflow is
    * identical) and a total token budget of half the corpus, compute
    * each source's sampling allocation by exact water-filling: sources
    * too small to supply their weighted share are taken whole
    * (saturated) and their unused share re-spreads over the rest at a
    * common water level λ = remaining budget / remaining weight.
    * [[sampleBalanceSources]] equalizes DOC counts; this solves the
    * TOKEN-grain mixture the trainer actually consumes, and emits the
    * per-source rate a downstream [[sampleTokenBudget]]-style pass
    * enforces.
    *
    * Everything is integer arithmetic — λ is carried as an exact
    * (numerator, denominator) pair and allocations are floor-divided,
    * so the cross-engine compare is bit-exact; the budget shortfall
    * from flooring is < one token per unsaturated source (spec-pinned).
    *
    * Scale shape: corpus-grain work is ONE partial-aggregated
    * `groupBy(source)` token count; the solver (ordered prefix sums,
    * saturation flags, λ) runs entirely on source-cardinality rows —
    * the unpartitioned window is bounded by the number of sources, the
    * same documented post-aggregation tiny-frame shape as the
    * retrieval rankers, never corpus grain.
    */
  def sampleMixTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("weight",
        lit(1L) + pmod(substring(col("source"), 4, 10).cast("long"), lit(4L)))
    mixSolver(per)
  }

  /** The water-filling solver on an arbitrary per-source frame
    * (`source`, `n_docs`, `n_tokens`, `weight`) — factored from
    * [[sampleMixTokens]] so the saturation branch (a source too small
    * for its weighted share, taken whole) can be pinned on an
    * adversarial skewed fixture: the synthetic corpus is
    * near-uniform, so the declared query alone never saturates.
    */
  private[graft] def mixSolver(per: DataFrame): DataFrame = {
    // the whole solver runs as window passes over the ONE post-agg
    // solver frame (source-cardinality rows, single partition) — a
    // separate scalar-totals aggregate would re-derive the corpus
    // subtree and scan the input twice (caught by the plan pin)
    val full = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ord = Window.orderBy(col("ratio"), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("t_total", sum(col("n_tokens")).over(full))
      .withColumn("w_total", sum(col("weight")).over(full))
      .withColumn("budget", expr("t_total div 2"))
      .withColumn("ratio", expr("n_tokens * 1000000 div weight"))
      .withColumn("pfx_t", coalesce(sum(col("n_tokens")).over(ord), lit(0L)))
      .withColumn("pfx_w", coalesce(sum(col("weight")).over(ord), lit(0L)))
      .withColumn("saturated",
        col("n_tokens") * (col("w_total") - col("pfx_w")) <=
          (col("budget") - col("pfx_t")) * col("weight"))
      .withColumn("lam_num", col("budget") -
        sum(when(col("saturated"), col("n_tokens")).otherwise(0L)).over(full))
      .withColumn("lam_den", col("w_total") -
        sum(when(col("saturated"), col("weight")).otherwise(0L)).over(full))
      .withColumn("alloc_tokens",
        when(col("saturated"), col("n_tokens"))
          .otherwise(expr("lam_num * weight div lam_den")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("saturated"), col("alloc_tokens"),
        expr("alloc_tokens * 1000000 div n_tokens").as("rate_e6"))
  }

  /** Shard count for [[shardAssign]]. */
  private val NumShards = 8L

  /** Deterministic training-shard layout — the step between corpus
    * prep and the trainer's data loader: every document gets a shard
    * (md5-keyed, so assignment is reproducible, backfill-stable, and
    * uniform regardless of doc_id clustering) and a dense position
    * within its shard ordered by the same hash — the "globally
    * shuffled" read order LLM training wants, WITHOUT a global sort:
    * one hash exchange on shard, then each shard sorts independently
    * (per-partition sort of corpus/shards rows — the distributed-sort
    * shape; shard count is the parallelism/file-size knob). The
    * (hash, doc_id) order key is collision-proof and engine-portable:
    * md5 is the same keyed hash every sampler in this library uses.
    */
  def shardAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("shard_"), col("doc_id"))), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), h.as("h"), pmod(h, lit(NumShards)).as("shard"))
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos_in_shard"))
  }

  /** Contamination drop threshold for [[corpusPrepFull]]: a doc loses
    * its place when more than 5% of its shingles appear in the
    * benchmark set (`n_contaminated·20 > n_shingles`, integer-exact).
    */
  private val ContamPerMilleNum = 20

  /** The COMPLETE data-release pipeline — what actually runs before a
    * training corpus ships, composed from the library's own verified
    * stages: quality gate ∘ component-resolved near-dup removal
    * ([[corpusPrepCc]]) ∘ benchmark decontamination
    * ([[graft.ext.Dedup.decontaminate]]): benchmark documents
    * themselves are excluded (the eval set never trains), and any doc
    * whose 5-gram overlap with the benchmark exceeds 5% is dropped.
    *
    * Scale shape: pure composition — each stage keeps its own audited
    * plan (memoized shingle index shared between the dedup and
    * decontamination stages, broadcast benchmark set, log-round
    * components), joined at doc grain by anti-joins on tiny loser
    * sets. Catalyst fuses the shared scans; no stage is recomputed
    * per-stage-consumer.
    */
  def corpusPrepFull(spark: SparkSession, sfDir: String): DataFrame = {
    val contaminated = graft.ext.Dedup.contamCounts(spark, sfDir)
      .filter(col("n_contaminated") * ContamPerMilleNum > col("n_shingles"))
      .select("doc_id")
    corpusPrepCc(spark, sfDir)
      .filter(col("doc_id") >= graft.ext.Dedup.BenchmarkDocs)
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The MODEL-GATED release pipeline — [[corpusPrepFull]] with the
    * distilled classifier serving in the gating slot: every document
    * is scored at the door by the broadcast final-pass model over the
    * frozen feature table
    * ([[graft.functions.TextAnalysis.modelGate]]) and admitted on the
    * model's decision instead of the expensive teacher rule — the
    * production endpoint of the filter-train loop (train a cheap model
    * on labels from an expensive gate, then SERVE the model). The
    * non-quality stages are unchanged: benchmark documents excluded,
    * near-dup components resolved to one representative, contaminated
    * docs dropped. The doc-grain `dot` ships with each kept document —
    * the release carries its own gate score for downstream curriculum/
    * mixing policies.
    *
    * Scale shape: [[corpusPrepFull]]'s composition with the quality
    * projection swapped for a persisted-feature scan + an
    * occupied-bucket (≤ 2·vocab rows across the two hashed views)
    * broadcast join + doc-grain aggregate; the disagreement census
    * against the rule it replaced is the standing
    * `corpus_gate_disagreement` audit.
    */
  def corpusPrepGated(spark: SparkSession, sfDir: String): DataFrame = {
    val losers = graft.ext.Dedup.dupComponents(spark, sfDir, 0.8)
      .filter(col("v") =!= col("comp"))
      .select(col("v").as("doc_id"))
    val contaminated = graft.ext.Dedup.contamCounts(spark, sfDir)
      .filter(col("n_contaminated") * ContamPerMilleNum > col("n_shingles"))
      .select("doc_id")
    graft.functions.TextAnalysis.modelGate(spark, sfDir)
      .filter(col("model_keep"))
      .select(col("doc_id"), col("dot"))
      .filter(col("doc_id") >= graft.ext.Dedup.BenchmarkDocs)
      .join(losers, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Release audit relation — the "why was my document dropped" table
    * next to the release pipeline: EVERY corpus document with its
    * release outcome and, for dropped docs, the FIRST gate that
    * rejected it under a fixed precedence (benchmark membership >
    * quality floor > near-dup loser > contamination — the order the
    * pipeline applies them). The `kept` set is definitionally
    * identical to [[corpusPrepFull]]'s output (spec-pinned), so this
    * relation is the complement view the release process publishes for
    * provenance/debugging.
    *
    * Scale shape: pure composition of already-audited stages (quality
    * projection, memoized dup components, broadcast decontamination)
    * joined at doc grain by left joins against tiny loser/flag sets —
    * the [[corpusPrepFull]] shape with the anti-joins turned into
    * reason columns.
    */
  def corpusDropReasons(spark: SparkSession, sfDir: String): DataFrame = {
    val q = graft.functions.TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
    val losers = graft.ext.Dedup.dupComponents(spark, sfDir, 0.8)
      .filter(col("v") =!= col("comp"))
      .select(col("v").as("doc_id"), lit(true).as("is_loser"))
    val contam = graft.ext.Dedup.contamCounts(spark, sfDir)
      .select(col("doc_id"),
        (col("n_contaminated") * ContamPerMilleNum > col("n_shingles")).as("is_contam"))
    q.join(losers, Seq("doc_id"), "left_outer")
      .join(contam, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("doc_id") < graft.ext.Dedup.BenchmarkDocs, "benchmark")
          .when(col("quality_score") < 0.3, "quality")
          .when(coalesce(col("is_loser"), lit(false)), "near_dup")
          .when(coalesce(col("is_contam"), lit(false)), "contaminated")
          .otherwise("kept").as("reason"))
      .withColumn("kept", col("reason") === "kept")
  }

  /** Per-source data card of the release pipeline — the summary table
    * that ships WITH a released corpus: for each source, documents and
    * tokens in, documents and tokens surviving [[corpusPrepFull]], and
    * the survival per-mille. The provenance/attrition accounting every
    * data release publishes.
    *
    * Scale shape: the kept set joins back at doc grain (hashed on
    * doc_id) and everything aggregates to |sources| rows; token counts
    * stay exact integers, per-mille is integer division.
    */
  def releaseCard(spark: SparkSession, sfDir: String): DataFrame =
    releaseCardOver(spark, sfDir, corpusPrepFull(spark, sfDir))

  /** Per-source card of the MODEL-gated release — the data card that
    * ships with a [[corpusPrepGated]] corpus: identical aggregation to
    * [[releaseCard]] (one factored body, the no-drift discipline) over
    * the distilled-gate keep set, so the handover from the rule gate
    * to the served model is auditable per source next to the standing
    * doc-grain disagreement census.
    */
  def releaseCardGated(spark: SparkSession, sfDir: String): DataFrame =
    releaseCardOver(spark, sfDir, corpusPrepGated(spark, sfDir))

  private def releaseCardOver(
      spark: SparkSession, sfDir: String, keptDocs: DataFrame): DataFrame = {
    val kept = keptDocs.select(col("doc_id"), lit(1).as("kept"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .join(kept, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs_in"),
        sum(col("toks")).as("tokens_in"),
        count(col("kept")).as("docs_kept"),
        coalesce(sum(when(col("kept").isNotNull, col("toks"))), lit(0L))
          .as("tokens_kept"))
      .select(col("source"), col("docs_in"), col("tokens_in"),
        col("docs_kept"), col("tokens_kept"),
        expr("tokens_kept * 1000 div tokens_in").as("survival_pm"))
  }

  /** The release pipeline's non-quality gates as oracle CTEs (near-dup
    * component losers, benchmark set, contamination) — factored from
    * [[CorpusPrepFullSql]] so the model-gated release
    * (`corpus_prep_gated`) interpolates the IDENTICAL stages. Requires
    * [[graft.ext.Dedup.ShingleCte]] ahead of it.
    */
  private lazy val ReleaseGateCtes: String =
    s"""mh AS (
            SELECT doc_id, i, min(md5(i::VARCHAR || '|' || shingle)) AS mh
            FROM ex, range(16) t(i) GROUP BY doc_id, i),
          sig AS (SELECT doc_id, list(mh ORDER BY i) AS mhs FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b, md5(array_to_string(mhs[4*b+1:4*b+4], '|')) AS bsig
            FROM sig, range(4) t(b)),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
          candf AS (
            SELECT doc_a, doc_b FROM cand
            JOIN sig x ON doc_a = x.doc_id JOIN sig y ON doc_b = y.doc_id
            WHERE CAST(len(list_filter(range(16), i -> x.mhs[i+1] = y.mhs[i+1])) AS DOUBLE) / 16 >= 0.8),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM candf
                    UNION ALL
                    SELECT doc_b AS src, doc_a AS dst FROM candf),
          verts AS (SELECT DISTINCT src AS v FROM edges),
          reach(v, r) AS (
            SELECT v, v FROM verts
            UNION
            SELECT reach.v, e.dst FROM reach JOIN edges e ON e.src = reach.r),
          losers AS (
            SELECT v AS doc_id FROM reach GROUP BY v HAVING v != min(r)),
          bench AS (SELECT DISTINCT shingle FROM ex
                    WHERE doc_id < ${graft.ext.Dedup.BenchmarkDocs}),
          hits AS (SELECT e.doc_id, count(*) AS n_cont
                   FROM ex e JOIN bench USING (shingle) GROUP BY e.doc_id),
          contam AS (SELECT s.doc_id FROM sh s LEFT JOIN hits h USING (doc_id)
                     WHERE coalesce(h.n_cont, 0) * $ContamPerMilleNum > len(s.s))"""

  /** Shared oracle body for `corpus_prep_full` and the per-source
    * release card built over it.
    */
  private lazy val CorpusPrepFullSql: String =
    s"""WITH RECURSIVE ${graft.ext.Dedup.ShingleCte},
          $ReleaseGateCtes,
          q AS (
            SELECT doc_id, len(ws) AS n_tokens,
                   least(1.0, CAST(len(ws) AS DOUBLE) / 256.0) *
                   (1.0 - CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws))
                     AS quality_score
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
          SELECT doc_id, n_tokens, quality_score FROM q
          WHERE quality_score >= 0.3
            AND doc_id >= ${graft.ext.Dedup.BenchmarkDocs}
            AND doc_id NOT IN (SELECT doc_id FROM losers)
            AND doc_id NOT IN (SELECT doc_id FROM contam)"""

  /** The model-gated release as oracle SQL — the IDENTICAL GD chain
    * as `text_classifier_train` ([[graft.functions.TextAnalysis.ClassifierChainCtes]])
    * scores every doc, the final-pass weights gate at the
    * centered-target midpoint, and the release's non-quality stages
    * ([[ReleaseGateCtes]]) apply unchanged. Shared by
    * `corpus_prep_gated` and its per-source card.
    */
  private lazy val CorpusPrepGatedSql: String =
    s"""WITH RECURSIVE ${graft.ext.Dedup.ShingleCte},
        $ReleaseGateCtes,
        ${graft.functions.TextAnalysis.ClassifierChainCtes},
        gscored AS (
          SELECT dn.doc_id, CAST(sum(m.w * dn.xc) AS BIGINT) AS dot
          FROM dense dn
          JOIN w${graft.functions.TextAnalysis.ClassifierPasses} m USING (f)
          GROUP BY 1)
        SELECT doc_id, dot FROM gscored
        WHERE dot >= ${graft.functions.TextAnalysis.ClassifierThrSql}
          AND doc_id >= ${graft.ext.Dedup.BenchmarkDocs}
          AND doc_id NOT IN (SELECT doc_id FROM losers)
          AND doc_id NOT IN (SELECT doc_id FROM contam)"""

  /** The per-source data-card SELECT over ANY kept-docs statement —
    * one definition serving the rule-gated card
    * (`corpus_release_card`) and the model-gated one
    * (`corpus_release_gated_card`), so the two cards cannot drift.
    */
  private def ReleaseCardSqlOver(keptSql: String): String =
    s"""WITH kept AS ($keptSql)
        SELECT d.source,
               count(*) AS docs_in,
               CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tokens_in,
               count(k.doc_id) AS docs_kept,
               CAST(coalesce(sum(CASE WHEN k.doc_id IS NOT NULL
                                      THEN len(string_split(d.text, ' ')) END), 0)
                 AS BIGINT) AS tokens_kept,
               CAST(coalesce(sum(CASE WHEN k.doc_id IS NOT NULL
                                      THEN len(string_split(d.text, ' ')) END), 0)
                    * 1000 // sum(len(string_split(d.text, ' '))) AS BIGINT)
                 AS survival_pm
        FROM documents d LEFT JOIN kept k USING (doc_id)
        GROUP BY d.source"""

  /** Z-order layout key derivation — the declared-query face of
    * [[graft.sinks.PartitionedWrite.zOrdered]]: per event, the 16-bit
    * keys (user, day index from the corpus's own min day) and their
    * interleaved 32-bit Morton code. Sorting/range-partitioning the
    * warehouse on `zval` clusters each output file into a compact
    * rectangle of the (user, day) plane, so parquet min/max stats
    * prune files for predicates on EITHER dimension — the layout
    * optimization a 100 TB warehouse runs where single-column sorting
    * leaves the second column's per-file span at the full domain.
    * Pure codegen shifts/masks over one scan (the min-day scalar is a
    * broadcast 1-row cross join); the actual clustered write is
    * exercised in PartitionedWriteSpec.
    */
  def layoutZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val minDay = ev.agg(min(col("ts").cast("date")).as("min_day"))
    ev.crossJoin(broadcast(minDay))
      .select(col("event_id"), col("user_id").as("x"),
        datediff(col("ts").cast("date"), col("min_day")).cast("long").as("y"))
      .select(col("event_id"), col("x"), col("y"),
        graft.sinks.PartitionedWrite.zValue(col("x"), col("y")).as("zval"))
  }

  val oracleSql: Map[String, String] = Map(
    "layout_zorder" ->
      """WITH m AS (SELECT min(CAST(ts AS DATE)) AS min_day FROM events),
         base AS (
           SELECT event_id, user_id AS x,
                  CAST(datediff('day', min_day, CAST(ts AS DATE)) AS BIGINT) AS y
           FROM events, m),
         b0 AS (SELECT event_id, x, y,
                       x & 65535 AS xs0, y & 65535 AS ys0 FROM base),
         b1 AS (SELECT event_id, x, y,
                       (xs0 | (xs0 << 8)) & 16711935 AS xs1,
                       (ys0 | (ys0 << 8)) & 16711935 AS ys1 FROM b0),
         b2 AS (SELECT event_id, x, y,
                       (xs1 | (xs1 << 4)) & 252645135 AS xs2,
                       (ys1 | (ys1 << 4)) & 252645135 AS ys2 FROM b1),
         b3 AS (SELECT event_id, x, y,
                       (xs2 | (xs2 << 2)) & 858993459 AS xs3,
                       (ys2 | (ys2 << 2)) & 858993459 AS ys3 FROM b2),
         b4 AS (SELECT event_id, x, y,
                       (xs3 | (xs3 << 1)) & 1431655765 AS xs4,
                       (ys3 | (ys3 << 1)) & 1431655765 AS ys4 FROM b3)
         SELECT event_id, x, y, xs4 | (ys4 << 1) AS zval FROM b4""",
    "corpus_prep_best" ->
      s"""WITH RECURSIVE ${graft.ext.Dedup.ShingleCte},
          mh AS (
            SELECT doc_id, i, min(md5(i::VARCHAR || '|' || shingle)) AS mh
            FROM ex, range(16) t(i) GROUP BY doc_id, i),
          sig AS (SELECT doc_id, list(mh ORDER BY i) AS mhs FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b, md5(array_to_string(mhs[4*b+1:4*b+4], '|')) AS bsig
            FROM sig, range(4) t(b)),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
          candf AS (
            SELECT doc_a, doc_b FROM cand
            JOIN sig x ON doc_a = x.doc_id JOIN sig y ON doc_b = y.doc_id
            WHERE CAST(len(list_filter(range(16), i -> x.mhs[i+1] = y.mhs[i+1])) AS DOUBLE) / 16 >= 0.8),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM candf
                    UNION ALL
                    SELECT doc_b AS src, doc_a AS dst FROM candf),
          verts AS (SELECT DISTINCT src AS v FROM edges),
          reach(v, r) AS (
            SELECT v, v FROM verts
            UNION
            SELECT reach.v, e.dst FROM reach JOIN edges e ON e.src = reach.r),
          compm AS (SELECT v, min(r) AS comp FROM reach GROUP BY v),
          q AS (
            SELECT doc_id, len(ws) AS n_tokens,
                   least(1.0, CAST(len(ws) AS DOUBLE) / 256.0) *
                   (1.0 - CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws))
                     AS quality_score
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
          best AS (
            SELECT comp, doc_id AS keeper FROM (
              SELECT c.comp, qq.doc_id,
                     row_number() OVER (PARTITION BY c.comp
                                        ORDER BY qq.quality_score DESC, qq.doc_id ASC) AS rn
              FROM compm c JOIN q qq ON qq.doc_id = c.v) WHERE rn = 1),
          losers AS (
            SELECT c.v AS doc_id FROM compm c JOIN best b ON c.comp = b.comp
            WHERE c.v != b.keeper)
          SELECT doc_id, n_tokens, quality_score FROM q
          WHERE quality_score >= 0.3
            AND doc_id NOT IN (SELECT doc_id FROM losers)""",
    "pack_efficiency" ->
      """WITH d AS (
           SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  CAST(unnest([128, 512, 2048, 8192]) AS BIGINT) AS seq_len
           FROM documents),
         agg AS (
           SELECT seq_len, count(*) AS n_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                  CAST(sum((n_tokens + seq_len - 1) // seq_len) AS BIGINT) AS n_chunks
           FROM d GROUP BY seq_len)
         SELECT seq_len, n_docs, total_tokens, n_chunks,
                n_chunks * seq_len - total_tokens AS padded_tokens,
                total_tokens * 1000 // (n_chunks * seq_len) AS util_permille
         FROM agg""",
    "sample_mix_tokens" ->
      """WITH per0 AS (
           SELECT source, count(*) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         per AS (
           SELECT *, 1 + CAST(substr(source, 4) AS BIGINT) % 4 AS weight FROM per0),
         tot AS (
           SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
                  CAST(sum(weight) AS BIGINT) AS w_total FROM per),
         j AS (
           SELECT per.*, t_total, w_total, t_total // 2 AS budget,
                  n_tokens * 1000000 // weight AS ratio
           FROM per, tot),
         p AS (
           SELECT *,
                  CAST(coalesce(sum(n_tokens) OVER (ORDER BY ratio, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx_t,
                  CAST(coalesce(sum(weight) OVER (ORDER BY ratio, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx_w
           FROM j),
         s AS (
           SELECT *, n_tokens * (w_total - pfx_w) <= (budget - pfx_t) * weight AS saturated
           FROM p),
         lam AS (
           -- CAST: sum(BIGINT) is HUGEINT in DuckDB; the driver's gate
           -- canonicalizes HUGEINT output columns differently than the
           -- engine's BIGINT (same axis as the q12 fix), so pin the type
           -- before it reaches the output expressions
           SELECT CAST(max(budget) - sum(CASE WHEN saturated THEN n_tokens ELSE 0 END) AS BIGINT) AS lam_num,
                  CAST(max(w_total) - sum(CASE WHEN saturated THEN weight ELSE 0 END) AS BIGINT) AS lam_den
           FROM s)
         SELECT source, n_docs, n_tokens, weight, saturated,
                CAST(CASE WHEN saturated THEN n_tokens
                     ELSE lam_num * weight // lam_den END AS BIGINT) AS alloc_tokens,
                CAST((CASE WHEN saturated THEN n_tokens
                      ELSE lam_num * weight // lam_den END) * 1000000 // n_tokens AS BIGINT) AS rate_e6
         FROM s, lam""",
    "sample_token_budget" ->
      s"""WITH d AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   ('0x' || substr(md5('budget_' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
            FROM documents),
          c AS (
            SELECT doc_id, source, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
                          ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS tok_before
            FROM d)
          SELECT doc_id, source, n_tokens, tok_before
          FROM c WHERE tok_before < $TokenBudget""",
    "shard_assign" ->
      s"""WITH h AS (
            SELECT doc_id,
                   ('0x' || substr(md5('shard_' || doc_id::VARCHAR), 1, 15))::BIGINT AS hv
            FROM documents)
          SELECT doc_id, hv % $NumShards AS shard,
                 CAST(row_number() OVER (PARTITION BY hv % $NumShards
                                         ORDER BY hv, doc_id) AS BIGINT) AS pos_in_shard
          FROM h""",
    "sample_dsir" ->
      s"""WITH db AS (
            SELECT doc_id,
                   ('0x' || substr(md5(t), 1, 15))::BIGINT % $DsirBuckets AS b,
                   count(*) AS k
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                  FROM documents)
            GROUP BY 1, 2),
          spine AS (SELECT range AS b FROM range($DsirBuckets)),
          tcnt AS (SELECT b, sum(k) AS c FROM db
                   WHERE doc_id < ${graft.ext.Dedup.BenchmarkDocs} GROUP BY b),
          rcnt AS (SELECT b, sum(k) AS c FROM db GROUP BY b),
          tt AS (SELECT sum(c) AS tot FROM tcnt),
          rt AS (SELECT sum(c) AS tot FROM rcnt),
          model AS (
            SELECT s.b,
                   round(ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE)
                            / (tt.tot + $DsirBuckets)), 9)
                   - round(ln(CAST(coalesce(rc.c, 0) + 1 AS DOUBLE)
                              / (rt.tot + $DsirBuckets)), 9) AS dlp
            FROM spine s
            LEFT JOIN tcnt tc USING (b)
            LEFT JOIN rcnt rc USING (b), tt, rt),
          w AS (
            SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
                   round(sum(k * dlp), 6) AS dsir_logw
            FROM db JOIN model USING (b) GROUP BY doc_id)
          SELECT doc_id, n_tokens, dsir_logw, dsir_logw > 0.0 AS selected
          FROM w""",
    "sample_temperature" ->
      """WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         mn AS (SELECT min(n) AS m FROM cnt),
         rates AS (
           SELECT source,
                  CAST(floor(1000.0 * sqrt(CAST(m AS DOUBLE) / CAST(n AS DOUBLE)))
                    AS BIGINT) AS keep_pm
           FROM cnt, mn)
         SELECT d.doc_id, d.source, d.hash_mod, r.keep_pm
         FROM (SELECT doc_id, source,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
                        AS hash_mod
               FROM documents) d
         JOIN rates r USING (source)
         WHERE d.hash_mod < r.keep_pm""",
    "sample_balance_sources" ->
      """WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         mn AS (SELECT min(n) AS m FROM cnt),
         rates AS (
           SELECT source, CAST(floor(1000.0 * m / n) AS BIGINT) AS keep_pm
           FROM cnt, mn)
         SELECT d.doc_id, d.source, d.hash_mod, r.keep_pm
         FROM (SELECT doc_id, source,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
                        AS hash_mod
               FROM documents) d
         JOIN rates r USING (source)
         WHERE d.hash_mod < r.keep_pm""",
    "sample_cap_source" ->
      s"""SELECT doc_id, source, hash_key, CAST(rn AS BIGINT) AS sample_rank
          FROM (
            SELECT doc_id, source,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hash_key,
                   row_number() OVER (PARTITION BY source
                     ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                              doc_id ASC) AS rn
            FROM documents)
          WHERE rn <= $SourceCap""",
    "sample_weighted_reservoir" ->
      s"""WITH d AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM documents),
          scored AS (
            SELECT doc_id, source,
                   round(ln((h + 1)::DOUBLE / 1152921504606846976::DOUBLE), 9)
                     / w::DOUBLE AS es_key,
                   CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_source
            FROM d),
          r AS (
            SELECT doc_id, source, es_key, n_source,
                   row_number() OVER (PARTITION BY source
                     ORDER BY es_key DESC, doc_id ASC) AS rn
            FROM scored)
          SELECT doc_id, source, es_key, CAST(rn AS BIGINT) AS sample_rank, n_source
          FROM r WHERE rn <= $ReservoirK""",
    "pack_sequences" ->
      s"""SELECT doc_id, shard, n_tokens, tokens_before,
                 tokens_before // $PackBudget AS pack_id,
                 tokens_before % $PackBudget AS offset_in_pack
          FROM (
            SELECT doc_id, doc_id % $DefaultPackShards AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(coalesce(sum(len(string_split(text, ' ')))
                     OVER (PARTITION BY doc_id % $DefaultPackShards ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS tokens_before
            FROM documents)""",
    "corpus_prep_cc" ->
      s"""WITH RECURSIVE ${graft.ext.Dedup.ShingleCte},
          mh AS (
            SELECT doc_id, i, min(md5(i::VARCHAR || '|' || shingle)) AS mh
            FROM ex, range(16) t(i) GROUP BY doc_id, i),
          sig AS (SELECT doc_id, list(mh ORDER BY i) AS mhs FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b, md5(array_to_string(mhs[4*b+1:4*b+4], '|')) AS bsig
            FROM sig, range(4) t(b)),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
          candf AS (
            SELECT doc_a, doc_b FROM cand
            JOIN sig x ON doc_a = x.doc_id JOIN sig y ON doc_b = y.doc_id
            WHERE CAST(len(list_filter(range(16), i -> x.mhs[i+1] = y.mhs[i+1])) AS DOUBLE) / 16 >= 0.8),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM candf
                    UNION ALL
                    SELECT doc_b AS src, doc_a AS dst FROM candf),
          verts AS (SELECT DISTINCT src AS v FROM edges),
          reach(v, r) AS (
            SELECT v, v FROM verts
            UNION
            SELECT reach.v, e.dst FROM reach JOIN edges e ON e.src = reach.r),
          losers AS (
            SELECT v AS doc_id FROM reach GROUP BY v HAVING v != min(r)),
          q AS (
            SELECT doc_id, len(ws) AS n_tokens,
                   least(1.0, CAST(len(ws) AS DOUBLE) / 256.0) *
                   (1.0 - CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws))
                     AS quality_score
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
          SELECT doc_id, n_tokens, quality_score FROM q
          WHERE quality_score >= 0.3
            AND doc_id NOT IN (SELECT doc_id FROM losers)""",
    "corpus_prep_full" -> CorpusPrepFullSql,
    // the model-gated release: the IDENTICAL GD chain as
    // text_classifier_train (factored CTEs) scores every doc, the
    // final-pass weights gate at the centered-target midpoint, and the
    // release's non-quality stages (benchmark/losers/contamination)
    // apply unchanged
    "corpus_prep_gated" -> CorpusPrepGatedSql,
    "corpus_release_gated_card" -> ReleaseCardSqlOver(CorpusPrepGatedSql),
    "corpus_drop_reasons" ->
      s"""WITH RECURSIVE ${graft.ext.Dedup.ShingleCte},
          ${graft.ext.Dedup.Comp08Ctes},
          losers AS (SELECT v AS doc_id FROM comps WHERE v != comp),
          bench AS (SELECT DISTINCT shingle FROM ex
                    WHERE doc_id < ${graft.ext.Dedup.BenchmarkDocs}),
          hits AS (SELECT e.doc_id, count(*) AS n_cont
                   FROM ex e JOIN bench USING (shingle) GROUP BY e.doc_id),
          contam AS (
            SELECT s.doc_id, len(s.s) AS n_sh, coalesce(h.n_cont, 0) AS n_cont
            FROM sh s LEFT JOIN hits h USING (doc_id)),
          q AS (
            SELECT doc_id,
                   least(1.0, CAST(len(ws) AS DOUBLE) / 256.0) *
                   (1.0 - CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws))
                     AS quality_score
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
          SELECT d.doc_id,
                 CASE WHEN d.doc_id < ${graft.ext.Dedup.BenchmarkDocs} THEN 'benchmark'
                      WHEN q.quality_score < 0.3 THEN 'quality'
                      WHEN d.doc_id IN (SELECT doc_id FROM losers) THEN 'near_dup'
                      WHEN c.n_cont * $ContamPerMilleNum > c.n_sh THEN 'contaminated'
                      ELSE 'kept' END AS reason,
                 (d.doc_id >= ${graft.ext.Dedup.BenchmarkDocs}
                   AND q.quality_score >= 0.3
                   AND d.doc_id NOT IN (SELECT doc_id FROM losers)
                   AND c.n_cont * $ContamPerMilleNum <= c.n_sh) AS kept
          FROM documents d JOIN q USING (doc_id) JOIN contam c USING (doc_id)""",
    "corpus_release_card" -> ReleaseCardSqlOver(CorpusPrepFullSql),
    "sample_stratified" -> {
      val rateCase = SampleRatePerMille
        .map { case (t, r) => s"WHEN event_type = '$t' THEN $r" }
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""SELECT event_id, event_type, user_id, value, hash_mod, keep_rate
         FROM (SELECT event_id, event_type, user_id, value,
                      ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS hash_mod,
                      $rateCase AS keep_rate
               FROM events)
         WHERE hash_mod < keep_rate"""
    },
    "join_asof" ->
      """WITH ordd AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY o_custkey, o_orderdate)
         SELECT e.event_id, e.user_id, e.ts,
                o.o_orderkey AS asof_orderkey, o.o_orderdate AS asof_orderdate
         FROM events e
         ASOF LEFT JOIN ordd o
           ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts""",
    "join_asof_tolerance" ->
      s"""WITH ordd AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY o_custkey, o_orderdate)
         SELECT e.event_id, e.user_id, e.ts,
                CASE WHEN o.o_orderdate IS NOT NULL
                      AND epoch_us(e.ts) - epoch_us(o.o_orderdate) <= $AsofToleranceUs
                     THEN o.o_orderkey END AS asof_orderkey,
                CASE WHEN o.o_orderdate IS NOT NULL
                      AND epoch_us(e.ts) - epoch_us(o.o_orderdate) <= $AsofToleranceUs
                     THEN o.o_orderdate END AS asof_orderdate
         FROM events e
         ASOF LEFT JOIN ordd o
           ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts""",
    "join_asof_forward" ->
      """WITH ordd AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY o_custkey, o_orderdate)
         SELECT e.event_id, e.user_id, e.ts,
                o.o_orderkey AS next_orderkey, o.o_orderdate AS next_orderdate
         FROM events e
         ASOF LEFT JOIN ordd o
           ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts""",
    "join_asof_nearest" ->
      """WITH ordd AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY o_custkey, o_orderdate),
         back AS (
           SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                  epoch_us(e.ts) - epoch_us(o.o_orderdate) AS d_back
           FROM events e
           ASOF LEFT JOIN ordd o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts),
         fwd AS (
           SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                  epoch_us(o.o_orderdate) - epoch_us(e.ts) AS d_fwd
           FROM events e
           ASOF LEFT JOIN ordd o
             ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts)
         SELECT e.event_id, e.user_id, e.ts,
                CASE WHEN b.o_orderdate IS NOT NULL
                      AND (f.o_orderdate IS NULL OR b.d_back <= f.d_fwd)
                     THEN b.o_orderkey ELSE f.o_orderkey END AS nearest_orderkey,
                CASE WHEN b.o_orderdate IS NOT NULL
                      AND (f.o_orderdate IS NULL OR b.d_back <= f.d_fwd)
                     THEN b.o_orderdate ELSE f.o_orderdate END AS nearest_orderdate,
                CAST(CASE WHEN b.o_orderdate IS NOT NULL
                      AND (f.o_orderdate IS NULL OR b.d_back <= f.d_fwd)
                     THEN b.d_back ELSE f.d_fwd END AS BIGINT) AS nearest_delta_us
         FROM events e
         LEFT JOIN back b USING (event_id)
         LEFT JOIN fwd f USING (event_id)""",
    "sessionize" ->
      s"""WITH e AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapUs
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
          s AS (
            SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM e)
          SELECT user_id, session_id,
                 min(ts) AS session_start, max(ts) AS session_end,
                 count(*) AS n_events,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
                 CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
          FROM s GROUP BY user_id, session_id""",
    "sessionize_native" ->
      s"""WITH e AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapUs
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
          s AS (
            SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM e)
          SELECT user_id, session_id,
                 min(ts) AS session_start, max(ts) AS session_end,
                 count(*) AS n_events,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
                 CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
          FROM s GROUP BY user_id, session_id""",
    "emb_label_centroids" ->
      """SELECT label, i AS pos,
                round(sum(CAST(embedding[i+1] AS DOUBLE)) / count(*), 6) AS centroid,
                count(*) AS n_vectors
         FROM embeddings, range(64) t(i)
         GROUP BY label, i""",
    "corpus_prep" ->
      """WITH sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) >= 5
                    THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
                    ELSE [] END) AS s
           FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)),
         ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         mh AS (
           SELECT doc_id, i, min(md5(i::VARCHAR || '|' || shingle)) AS mh
           FROM ex, range(16) t(i) GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS mhs FROM mh GROUP BY doc_id),
         bands AS (
           SELECT doc_id, b, md5(array_to_string(mhs[4*b+1:4*b+4], '|')) AS bsig
           FROM sig, range(4) t(b)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         losers AS (
           SELECT DISTINCT doc_b AS doc_id FROM cand
           JOIN sig x ON doc_a = x.doc_id JOIN sig y ON doc_b = y.doc_id
           WHERE CAST(len(list_filter(range(16), i -> x.mhs[i+1] = y.mhs[i+1])) AS DOUBLE) / 16 >= 0.8),
         q AS (
           SELECT doc_id, len(ws) AS n_tokens,
                  least(1.0, CAST(len(ws) AS DOUBLE) / 256.0) *
                  (1.0 - CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws))
                    AS quality_score
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
         SELECT doc_id, n_tokens, quality_score FROM q
         WHERE quality_score >= 0.3
           AND doc_id NOT IN (SELECT doc_id FROM losers)""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_asof" -> joinAsOf _,
    "join_asof_forward" -> joinAsOfForward _,
    "join_asof_tolerance" -> joinAsOfTolerance _,
    "join_asof_nearest" -> joinAsOfNearest _,
    "sessionize" -> sessionize _,
    "sessionize_native" -> sessionizeNative _,
    "emb_label_centroids" -> embLabelCentroids _,
    "corpus_prep" -> corpusPrep _,
    "corpus_prep_cc" -> corpusPrepCc _,
    "corpus_prep_full" -> corpusPrepFull _,
    "corpus_prep_gated" -> corpusPrepGated _,
    "corpus_release_card" -> releaseCard _,
    "corpus_release_gated_card" -> releaseCardGated _,
    "sample_stratified" -> sampleStratified _,
    "sample_cap_source" -> sampleCapPerSource _,
    "sample_weighted_reservoir" -> sampleWeightedReservoir _,
    "sample_balance_sources" -> sampleBalanceSources _,
    "sample_temperature" -> sampleTemperature _,
    "sample_dsir" -> sampleDsir _,
    "pack_sequences" -> packSequences _,
    "shard_assign" -> shardAssign _,
    "corpus_prep_best" -> corpusPrepBest _,
    "sample_token_budget" -> sampleTokenBudget _,
    "sample_mix_tokens" -> sampleMixTokens _,
    "pack_efficiency" -> packEfficiency _,
    "corpus_drop_reasons" -> corpusDropReasons _,
    "layout_zorder" -> layoutZorder _,
  )
}
