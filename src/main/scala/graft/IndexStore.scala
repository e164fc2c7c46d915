package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Opt-in warehouse persistence for the AMORTIZABLE index tables —
  * the unigram LM, the IVF coarse quantizer + inverted file, the
  * shingle-hash and minhash-signature frames, the LSH-bucketed
  * corpus. Session memoization amortizes their build across queries
  * WITHIN a session; a real deployment builds them once and serves
  * them for weeks, so the build must survive the session. Setting
  * [[IndexDirKey]] to a directory turns every registered index build
  * into a build-once bucketed catalog table under that location:
  * the first session (re)builds and `saveAsTable`s, every later
  * session (same metastore / same attached location) resolves to a
  * scan-only plan. Bucketing by the index's join key keeps the
  * downstream equi-joins exchange-free exactly as [[graft.Bench]]'s
  * bucketed fact ingest does.
  *
  * Invalidation is the caller's lifecycle decision (as with any
  * materialized index): point at a fresh directory or drop the
  * `graft_index` database to rebuild.
  */
object IndexStore {

  /** Conf key: directory for persisted index tables (opt-in). */
  val IndexDirKey = "spark.graft.indexDir"

  /** Bucket count every persisted index table uses — public so a
    * build that must cluster by the bucket key anyway (e.g. the
    * shingle/winnow df-census join) can pre-partition identically and
    * pass `prePartitioned = true` instead of paying a redundant
    * re-shuffle of the same rows on write.
    */
  val DefaultBuckets = 32

  private val Db = "graft_index"

  private def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9_]", "_").replaceAll("_+", "_")
      .stripPrefix("_").stripSuffix("_")

  /** Resolve index `name` for source dir `sfDir`: `Some(table-backed
    * frame)` when [[IndexDirKey]] is set (building it first if
    * missing), `None` otherwise (caller keeps its in-session path).
    */
  def resolve(
      spark: SparkSession, sfDir: String, name: String,
      bucketCol: Option[String] = None, nBuckets: Int = DefaultBuckets,
      prePartitioned: Boolean = false)(
      build: => DataFrame): Option[DataFrame] =
    spark.conf.getOption(IndexDirKey).map { dir =>
      Warehouse.attach(spark, Db, dir)
      val tbl = s"$Db.${sanitize(sfDir)}__$name"
      if (!spark.catalog.tableExists(tbl)) {
        // repartition on the bucket key BEFORE bucketBy: without it each
        // write task emits a fragment per bucket (tasks × buckets tiny
        // files) and every later bucketed scan pays a footer open per
        // fragment — measured 14× slower than a one-file-per-bucket
        // layout at sf0.1. Same discipline as Bench's fact-table ingest.
        bucketCol match {
          case Some(c) =>
            // a build that already ends in repartition(nBuckets, c)
            // (prePartitioned) skips the redundant re-shuffle
            val clustered =
              if (prePartitioned) build
              else build.repartition(nBuckets, org.apache.spark.sql.functions.col(c))
            clustered.write.bucketBy(nBuckets, c).sortBy(c).saveAsTable(tbl)
          case None => build.write.saveAsTable(tbl)
        }
      }
      spark.table(tbl)
    }
}
