package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the optimized physical plan of one or more declared
  * queries under the SAME session configuration Bench uses, so plan
  * shape (broadcast vs SMJ, exchange count, codegen spans, pushed
  * filters) can be audited before trusting a timing.
  *
  * Usage: `sbt "runMain graft.Explain <sfDir> <query>[,query...]"`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // mirror the bench session's perf-relevant confs so audited
      // plans AND probe timings match what Bench actually runs
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.execution.sortBeforeRepartition", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (4 << 20).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    // SPARK_GRAFT_WAREHOUSE=<dir>: audit the plans Bench actually runs —
    // resolve tables through the bucketed catalog ingest and indexes
    // through the persisted IndexStore tables of a prior Bench run
    // (pass the SAME dir as sfDir to hit the catalog path).
    sys.env.get("SPARK_GRAFT_WAREHOUSE").foreach { w =>
      // The bucketed fact tables (events/orders/lineitem) and the
      // built index tables live in the BENCH process's in-memory
      // catalog — a later session cannot see them, so ADOPT the
      // existing on-disk layout as external tables (identical scan
      // plans) instead of silently falling back to raw single-file
      // scans that the bench never executes.
      graft.BenchIngest.adopt(spark, sfDir, w)
    }
    // per-stage timing listener: SPARK_GRAFT_STAGES=true prints each
    // completed stage's wall time and task count during the runs below
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("true"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val ms = (for {a <- si.completionTime; b <- si.submissionTime}
              yield a - b).getOrElse(-1L)
            println(f"[stage] id=${si.stageId} tasks=${si.numTasks} " +
              f"${ms / 1000.0}%.3f s  ${si.name.take(70)}")
          }
        })
    // SPARK_GRAFT_RUNS=<k>: per run, rebuild the frame AND save — the
    // exact thing Bench.runOnce times (iterative queries do their
    // fixpoint work during CONSTRUCTION, which a save-only loop would
    // miss). Runs are per-query sequential; with several names the
    // passes interleave like the bench's round-robin.
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(2)
    val secs = scala.collection.mutable.Map
      .empty[String, List[Double]].withDefaultValue(Nil)
    for (r <- 1 to runs; n <- names) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      secs(n) ::= s
      println(f"\n[explain] $n run $r: $s%.3f s")
      if (r == runs) {
        println(s"========== $n ==========")
        println(f"[explain] runs: ${secs(n).reverse.map(v => f"$v%.3f").mkString(", ")}  min=${secs(n).min}%.3f")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
