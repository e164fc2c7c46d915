package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's registry; each entry has
  * a DuckDB-dialect oracle in `oracleSql` unless the operator is not
  * SQL-expressible (then the driver records a rows-only check).
  *
  * Queries call the `graft_*` kernels but never register them: the
  * session must hold them already, from
  * [[functions.expressions.GraftExtensions]] (which [[GraftSession]]
  * sets) or from [[functions.expressions.GraftFunctions.register]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pattern 1.1/2's per-user click summary (SURVEY.md §2.4 A1-A3).
    */
  def entry(spark: SparkSession): DataFrame =
    operators.EventPatterns.clickAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.EventPatterns.queries ++
      operators.Relational.queries ++
      operators.Advanced.queries ++
      operators.EventAnalytics.queries ++
      functions.TextAnalysis.queries ++
      functions.Retrieval.queries ++
      ext.Dedup.queries ++
      ext.Similarity.queries ++
      ext.Multimodal.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    operators.EventPatterns.oracleSql ++
      operators.Relational.oracleSql ++
      operators.Advanced.oracleSql ++
      operators.EventAnalytics.oracleSql ++
      functions.TextAnalysis.oracleSql ++
      functions.Retrieval.oracleSql ++
      ext.Dedup.oracleSql ++
      ext.Similarity.oracleSql ++
      ext.Multimodal.oracleSql
}
