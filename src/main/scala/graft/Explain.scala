package graft

/** Dev tool: print the executed physical plans of declared queries as
  * [[Bench]] runs them — on the [[GraftSession]] profile, over the
  * [[BenchIngest]] catalog tables and the persisted [[IndexStore]]
  * tables — so plan shape (broadcast vs SMJ, exchange count, codegen
  * spans, pushed filters) can be audited before trusting a timing.
  *
  * Usage: `sbt "runMain graft.Explain <sfDir> <query>[,query...]"`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val warehouse = s"/tmp/graft_explain_${new java.io.File(sfDir).getName}"
    val spark = GraftSession(s"$warehouse/catalog")
    BenchIngest.ingest(spark, sfDir, warehouse)
    def run(name: String) = {
      val df = SparkEntry.queries(name)(spark, warehouse)
      df.write.format("noop").mode("overwrite").save()
      df
    }
    names.foreach { n =>
      // warm-up: builds any index the query reads, as Bench's warm-up
      // pass does, so the printed plan is the steady-state scan-only one
      run(n)
      println(s"========== $n ==========")
      println(run(n).queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
