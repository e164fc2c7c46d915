package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.{BenchIngest, SparkEntry}

/** The batch query pass: `names` from `SparkEntry.queries`, each forced
  * through the `noop` sink against the ingested warehouse, as `graft.Bench`
  * runs them. Each result's row count is observed on the benchmark side
  * (`Dataset.observe`, no extra action) for the oracle check.
  */
final class QueryRun(
    spark: SparkSession, tracer: Option[Tracer], out: Out,
    tablesDir: String, warehouse: String, names: Seq[String]) {
  import QueryRun._

  /** `BenchIngest.ingest` into a fresh warehouse; returns seconds. */
  def ingest(): Double = StreamRun.timedS(BenchIngest.ingest(spark, tablesDir, warehouse))

  /** One pass over every query; `pass` tags its jobs. */
  def pass(pass: String): Seq[Timing] = names.map { name =>
    val tag = s"q:$pass:$name"
    spark.sparkContext.setLocalProperty(Tracer.TagKey, tag)
    try {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, warehouse)
      val t1 = System.nanoTime()
      val writeEpochMs = System.currentTimeMillis()
      val obs = Observation()
      val observed = df.observe(obs, count(lit(1)).as("rows"))
      observed.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      System.err.println(f"[perfbench] $tag: ${(t2 - t0) / 1e9}%.3f s")
      Timing(name, tag, (t1 - t0) / 1e9, (t2 - t0) / 1e9, writeEpochMs, obs.get("rows").asInstanceOf[Long])
    } finally spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
  }

  /** Totals and per-module layers over the measured passes, and the rows
    * each pass saw.
    */
  def report(passes: Seq[Seq[Timing]]): Unit = {
    out.layer("batch.queries_total_s", Stats.median(passes.map(_.map(_.wallS).sum)), "s")
    val walls = passes.flatten.map(_.wallS * 1e3)
    out.layer("batch.query_p50_ms", Stats.median(walls), "ms")
    out.notes("query_samples") = walls.size
    out.notes("query_wall_ms") = names.map(n => n -> passes.map(_.find(_.name == n).get.wallS * 1e3)).toMap
    out.notes("query_rows") = names.map(n => n -> passes.map(_.find(_.name == n).get.rows)).toMap
    out.notes("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    tracer.foreach { t =>
      val jobs = t.jobsWhere(_.tag.exists(_.startsWith("q:"))).groupBy(_.tag.get)
      for ((module, members) <- Modules) {
        def perPass(f: (Timing, Seq[Tracer.Job]) => Double): Double = Stats.median(passes.map(
          _.filter(q => members(q.name)).map(q => f(q, jobs.getOrElse(q.tag, Nil))).sum))
        def union(js: Seq[Tracer.Job]) = Tracer.unionLength(js.map(j => (j.start, j.end))) / 1e3
        val k = s"batch.$module"
        out.layer(s"$k.construct_s", perPass((q, _) => q.constructS), "s")
        // the sink call to its first job: Catalyst optimise, plan and codegen
        out.layer(s"$k.plan_s", perPass((q, js) =>
          js.map(_.start).filter(_ >= q.writeEpochMs).minOption.map(_ - q.writeEpochMs).getOrElse(0L) / 1e3), "s")
        out.layer(s"$k.job_wall_s", perPass((_, js) => union(js)), "s")
        out.layer(s"$k.driver_gap_s", perPass((q, js) => q.wallS - union(js)), "s")
        out.layer(s"$k.task_cpu_s", perPass((_, js) => js.map(_.cpuNanos).sum / 1e9), "s")
        out.layer(s"$k.tasks", perPass((_, js) => js.map(_.tasks).sum.toDouble), "count")
        out.layer(s"$k.shuffle_bytes", perPass((_, js) => js.map(_.shuffleBytes).sum.toDouble), "B")
      }
    }
  }
}

object QueryRun {
  /** One query execution: construction, whole wall (construction through
    * the sink), when the sink call started, and the observed row count.
    */
  final case class Timing(
      name: String, tag: String, constructS: Double, wallS: Double, writeEpochMs: Long, rows: Long)

  /** Layer of each query, from each module's own `queries` map. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.operators.Relational.queries.keySet,
    "EventAnalytics" -> graft.operators.EventAnalytics.queries.keySet,
    "Advanced" -> graft.operators.Advanced.queries.keySet,
    "TextAnalysis" -> graft.functions.TextAnalysis.queries.keySet,
    "Retrieval" -> graft.functions.Retrieval.queries.keySet,
    "Dedup" -> graft.ext.Dedup.queries.keySet,
    "Similarity" -> graft.ext.Similarity.queries.keySet,
    "Multimodal" -> graft.ext.Multimodal.queries.keySet)
}
