package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming corpus preparation — the continuously-maintained twin of
  * the batch `corpus_prep` pipeline
  * ([[graft.operators.Advanced.corpusPrep]]): documents flow in from
  * the crawl, each is scored and gated by the SAME quality expression
  * the batch pass uses ([[graft.functions.TextAnalysis.qualityScore]],
  * factored so the two paths cannot drift), and exact duplicates are
  * suppressed at ingest by content hash.
  *
  * Dedup scope: EXACT dedup (md5 of the text), not MinHash-LSH — a
  * streaming LSH pair-join would buffer unbounded candidate state; the
  * production split is exact-hash suppression at ingest (this
  * operator, state bounded by the watermark horizon via
  * `dropDuplicatesWithinWatermark`) plus periodic batch near-dup
  * compaction over the landed corpus (`corpus_prep_cc`) — each form
  * doing what its execution model can bound.
  *
  * Scale shape: the quality gate is a stateless projection (scan-bound,
  * no state); dedup keys hash-partition across executors and the
  * event-time watermark EVICTS hashes once no duplicate can still
  * arrive, so state is (ingest rate × lateness) — not the corpus. The
  * first arrival of each content hash passes; replays within the
  * horizon are dropped, which downstream of an at-least-once crawler
  * is effectively-exactly-once document landing
  * ([[StreamingDedup]]'s contract, applied to documents).
  */
object CorpusPrep {

  /** Quality floor — the same policy constant the batch
    * `corpus_prep` family applies.
    */
  val QualityFloor = 0.3

  /** The watermark-bounded exact-dedup stage alone — factored from
    * [[prepared]] so the model-gated twin ([[startModelGated]]) can
    * stack the distilled-gate decision on the same dedup door without
    * the rule gate (the batch `corpus_prep_gated` swaps the quality
    * rule for the model; the twin must make the identical swap).
    */
  private def dedupStage(df: DataFrame, lateness: String): DataFrame =
    df.withColumn("content_hash", md5(col("text")))
      .withWatermark("ingest_ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Input: streaming frame with `doc_id`, `text`, event-time
    * `ingest_ts`. Output: kept documents with their score and content
    * hash.
    */
  def prepared(docs: DataFrame, lateness: String = "1 minute"): DataFrame =
    dedupStage(
      docs
        .withColumn("quality_score",
          graft.functions.TextAnalysis.qualityScore(col("text")))
        .filter(col("quality_score") >= QualityFloor),
      lateness)

  def start(
      docs: DataFrame,
      queryName: String,
      lateness: String = "1 minute",
      trigger: Option[Trigger] = None): StreamingQuery =
    Patterns.withTrigger(
      prepared(docs, lateness)
        .writeStream
        .queryName(queryName)
        .outputMode("append")
        .format("memory"), trigger)
      .start()

  /** PII-redacting ingest — the release gate applied AT THE DOOR
    * instead of at release time: documents are quality-gated and
    * deduped exactly as [[prepared]] (content hash taken on the
    * ORIGINAL text, so a replay of the raw document still dedups
    * against its redacted first landing), then rewritten with the SAME
    * factored redaction expression the batch `text_pii_redact` pass
    * uses ([[graft.functions.TextAnalysis.redactPii]] — bit-identical
    * by construction). Landing redacted text means raw PII never
    * reaches the warehouse at all — the stronger compliance posture —
    * while the periodic batch scan stays the audit that nothing
    * slipped through a detector gap.
    *
    * Scale shape: redaction is a stateless per-row projection stacked
    * on [[prepared]]'s watermark-bounded dedup state — zero additional
    * state or exchanges.
    */
  /** The redaction projection itself — ONE definition shared by
    * [[redacted]] and [[fullIngest]] so the two ingest variants'
    * landed shape cannot fork.
    */
  private def redactStage(df: DataFrame): DataFrame =
    df.withColumn("redacted",
        graft.functions.TextAnalysis.redactPii(col("text")))
      .drop("text")

  def redacted(docs: DataFrame, lateness: String = "1 minute"): DataFrame =
    redactStage(prepared(docs, lateness))

  def startRedacted(
      docs: DataFrame,
      queryName: String,
      lateness: String = "1 minute",
      trigger: Option[Trigger] = None): StreamingQuery =
    Patterns.withTrigger(
      redacted(docs, lateness)
        .writeStream
        .queryName(queryName)
        .outputMode("append")
        .format("memory"), trigger)
      .start()

  /** Contamination drop rule shared with the batch release pipeline:
    * a doc is rejected when more than 5% of its shingles hit the
    * benchmark filter (`hits·20 > n_shingles`, integer-exact — the
    * `corpus_prep_full` constant).
    */
  private val ContamFactor = 20

  /** Decontaminating ingest — the benchmark gate applied at the door:
    * each gated/deduped document's 5-gram shingles probe the SAME
    * memoized Bloom bitmap the batch pass serves from
    * ([[graft.ext.Dedup.bloomIndex]]), via the SAME factored probe
    * expression ([[graft.ext.Dedup.bloomProbe]] — bit-identical by
    * construction), and docs over the 5% overlap rule never land.
    *
    * Honest semantics: this is the PREFILTER decision only — Bloom
    * false positives (~4·10⁻⁴ per shingle) can over-count a doc's
    * overlap, so the ingest gate over-drops by that trickle instead of
    * running the exact confirm join (which would put a corpus-grain
    * stateful join in the ingest path). No false negatives: everything
    * truly over the rule is stopped; the periodic batch
    * `decontaminate` audit remains the exact record.
    *
    * Scale shape: the bitmap rides a 1-row broadcast cross join (the
    * batch path's own discipline) and the probe is a stateless
    * per-row array fold — zero state, zero exchanges added to ingest.
    */
  def decontaminated(docs: DataFrame, sfDir: String, lateness: String = "1 minute"): DataFrame = {
    val spark = docs.sparkSession
    import graft.functions.expressions.GraftFunctions.shingleHashes
    val (bitsRow, mBits) = graft.ext.Dedup.bloomIndex(spark, sfDir)
    prepared(docs, lateness)
      .crossJoin(broadcast(bitsRow))
      .withColumn("n_shingles",
        coalesce(size(shingleHashes(col("text"))), lit(0)))
      .withColumn("n_bloom_hits",
        coalesce(size(filter(shingleHashes(col("text")),
          h => graft.ext.Dedup.bloomProbe(col("bits"), mBits)(h))), lit(0)))
      .filter(col("n_bloom_hits") * ContamFactor <= col("n_shingles"))
      .drop("bits")
  }

  def startDecontaminated(
      docs: DataFrame,
      sfDir: String,
      queryName: String,
      lateness: String = "1 minute",
      trigger: Option[Trigger] = None): StreamingQuery =
    Patterns.withTrigger(
      decontaminated(docs, sfDir, lateness)
        .writeStream
        .queryName(queryName)
        .outputMode("append")
        .format("memory"), trigger)
      .start()

  /** The COMPLETE streaming ingest — every door gate this module
    * provides, composed in release-pipeline order: quality floor ∘
    * watermark-bounded exact dedup ([[prepared]]) ∘ Bloom benchmark
    * decontamination ([[decontaminated]]) ∘ PII redaction (the
    * [[redacted]] stage) — the streaming twin of the batch
    * `corpus_prep_full` release pass, built entirely from the SAME
    * factored expressions the batch stages use, so every decision is
    * bit-identical to its batch counterpart by construction. The only
    * batch-exclusive stage is near-dup component resolution, which is
    * deliberately NOT here (the documented streaming/batch split:
    * exact-hash suppression at the door, LSH compaction on the landed
    * corpus).
    *
    * Scale shape: the union of its parts — one watermark-bounded
    * dedup state, a 1-row broadcast bitmap, and stateless projections;
    * nothing else.
    */
  def fullIngest(docs: DataFrame, sfDir: String, lateness: String = "1 minute"): DataFrame =
    redactStage(decontaminated(docs, sfDir, lateness))

  def startFullIngest(
      docs: DataFrame,
      sfDir: String,
      queryName: String,
      lateness: String = "1 minute",
      trigger: Option[Trigger] = None): StreamingQuery =
    Patterns.withTrigger(
      fullIngest(docs, sfDir, lateness)
        .writeStream
        .queryName(queryName)
        .outputMode("append")
        .format("memory"), trigger)
      .start()

  /** One micro-batch of the distilled-gate door ([[startModelGated]])
    * — exposed for the spec's stream≡batch law. Featurization is the
    * SHARED batch expression chain
    * ([[graft.functions.TextAnalysis.docRates]] →
    * [[graft.functions.TextAnalysis.centerRates]], the
    * [[FeatureRefresh]] no-drift discipline) under the FROZEN
    * artifacts: `model` (the final-pass weight vector), `sums`/`nDf`
    * (the centering statistics frozen when the model shipped — at
    * train time these are exactly what [[FeatureRefresh]]'s maintained
    * state holds), and `thr` (the centered-target midpoint constant).
    * Nothing here re-trains or re-aggregates the corpus: per batch the
    * cost is the batch's own tokens plus an occupied-bucket broadcast
    * join (≤ 2·vocab rows across the two hashed views — the model is
    * occupied-bucket grain, not 2×ClassifierBuckets).
    */
  def modelGatedBatch(
      model: DataFrame, sums: DataFrame, nDf: DataFrame, thr: Long)(
      batch: DataFrame): DataFrame = {
    import graft.functions.TextAnalysis
    val rates = TextAnalysis.docRates(batch.select("doc_id", "text"))
    TextAnalysis.centerRates(batch.select("doc_id"), rates, sums, nDf)
      .join(broadcast(model), "f")
      .groupBy("doc_id").agg(sum(col("w") * col("xc")).as("dot"))
      .filter(col("dot") >= thr)
      .join(batch, "doc_id")
  }

  /** One micro-batch LANDING of the gated door — gate with
    * [[modelGatedBatch]] then write the kept docs into the batch's own
    * `batch_id=` partition via dynamic-partition overwrite (the
    * [[TrancheLifecycle.processTranche]] commit idiom): a crash
    * between the write and the checkpoint commit replays the batch,
    * which REWRITES its own partition instead of appending a duplicate
    * copy — duplicate documents in a release stream would be a real
    * corpus defect, unlike the duplicate-tolerant signature appends of
    * [[startIndexRefresh]]. Exposed for the spec's replay law.
    */
  def landModelGated(
      outDir: String,
      model: DataFrame, sums: DataFrame, nDf: DataFrame, thr: Long)(
      batch: DataFrame, batchId: Long): Unit = {
    // dynamic overwrite only rewrites partitions the frame EMITS — a
    // replayed batch that keeps ZERO documents would leave partial
    // files from a crashed earlier attempt untouched, so clear the
    // batch's own partition explicitly first (idempotent either way)
    val part = new org.apache.hadoop.fs.Path(outDir, s"batch_id=$batchId")
    part.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      .delete(part, true)
    modelGatedBatch(model, sums, nDf, thr)(batch)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
  }

  /** Model-gated ingest — the streaming twin of the batch
    * `corpus_prep_gated` release: documents pass the watermark-bounded
    * exact-dedup door, then each micro-batch is scored by the FROZEN
    * distilled model and only model-kept docs land (idempotent
    * `batch_id` partitions, checkpointed — [[landModelGated]]). The
    * quality rule is NOT applied — the model has taken the gating
    * slot, exactly as in the batch gated release; the rule-vs-model
    * disagreement census (`corpus_gate_disagreement`) is the standing
    * audit of that handover.
    *
    * Scale shape: [[prepared]]'s dedup state plus a stateless scored
    * projection per batch — the frozen artifacts are model-as-data
    * broadcasts (occupied-bucket grain, ≤ 2·vocab rows across the two
    * hashed views, + 2 scalars), never a corpus-grain join.
    */
  def startModelGated(
      docs: DataFrame,
      outDir: String,
      checkpoint: String,
      model: DataFrame,
      sums: DataFrame,
      nDf: DataFrame,
      thr: Long,
      lateness: String = "1 minute",
      trigger: Option[Trigger] = None): StreamingQuery =
    Patterns.withTrigger(
      dedupStage(docs, lateness)
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch(landModelGated(outDir, model, sums, nDf, thr) _), trigger)
      .start()

  /** Incremental index maintenance — the REFRESH leg of the
    * train-once/serve-many index lifecycle ([[graft.IndexStore]]):
    * each micro-batch of newly-landed (gated, deduped) documents
    * computes its MinHash signatures with the SAME factored expression
    * the batch index build uses
    * ([[graft.ext.Dedup.signaturesOf]] — bit-identical by
    * construction) and APPENDS them to the signature table, so the
    * near-dup serving index stays fresh without ever recomputing the
    * landed corpus. Sound because signatures are strictly per-document
    * — a new batch appends its own rows and touches nothing else; the
    * batch path re-derives banding/pairs from the grown table on its
    * own cadence.
    *
    * Scale shape: per-batch work is (batch × shingles) — one grouped
    * aggregation at batch grain, no state, no join against the landed
    * index; the append is partition-local parquet. Checkpointed, so a
    * replayed batch re-appends only after a crash BEFORE the commit —
    * the downstream banding pass is insensitive to duplicate signature
    * rows (DISTINCT pair generation), the same tolerance the reference
    * accepts for its staging appends (SURVEY K4).
    */
  def startIndexRefresh(
      docs: DataFrame,
      sigDir: String,
      checkpoint: String,
      lateness: String = "1 minute",
      trigger: Option[Trigger] = None): StreamingQuery = {
    val w = prepared(docs, lateness)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.Dedup.signaturesOf(batch.select("doc_id", "text"))
          .write.mode("append").parquet(sigDir)
      }
    Patterns.withTrigger(w, trigger).start()
  }
}
