package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session profile: [[Bench]], [[Explain]], [[Verify]] and
  * the test suites all run on it, so the oracle certifies the physical
  * plans the bench times.
  *
  * Cores come from `SPARK_GRAFT_CPUS` (default: every core of the host);
  * shuffle partitions equal cores. Any other `spark.*` setting this
  * profile leaves alone can be given as a `-Dspark.*` JVM property (an
  * AQE-off A/B, an event log), since Spark reads those at session start.
  *
  * The profile sets `spark.sql.extensions` to
  * [[functions.expressions.GraftExtensions]], so every session it builds,
  * `newSession()` clones included, resolves the `graft_*` kernels.
  */
object GraftSession {

  /** The session, with its managed tables under `warehouse`. */
  def apply(warehouse: String): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.extensions",
        classOf[functions.expressions.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // FAIR scheduling with one pool per concurrent index builder
      // (set thread-locally by IndexArtifacts.buildAll): under the
      // default FIFO, a latency-bound builder — bpe_vocab is ~200
      // sequential sub-second jobs — queues every tiny job behind whole
      // 32-task shuffle stages of its pool neighbors, inflating it from
      // a 3.5 s solo to 44-72 s in-pool at sf1 (r17 measurement).
      // Undeclared pools share the cluster equally (weight 1), which is
      // exactly the multi-tenant layout a real cluster runs its
      // concurrent train-once builds under. Steady-state queries run
      // one job at a time from one thread, so their numbers are
      // unaffected by the mode.
      .config("spark.scheduler.mode", "FAIR")
      // AQE stays ON (the Spark default, with partition coalescing) —
      // what every cluster deployment runs, and the hint-free joins in
      // this library rely on it for the SMJ→BHJ decision at real scale.
      // Early rounds ran the bench AQE-off because per-stage
      // re-optimization measured ~1.5-2 s of driver latency across the
      // then-42-query suite; the round-12 back-to-back pair on the
      // 219-query surface reversed that: AQE-on 95.4 s vs AQE-off
      // 97.9 s steady-state (median per-query ratio 0.996 — noise — with
      // the many-small-exchange HLL queries winning outright from
      // partition coalescing, events_hll_cube −1.2 s). See
      // BENCH_r12_aqeon/off.json.
      //
      // Size-based broadcast pinning for the bench scale: every table
      // except lineitem is ≪64 MB at sf0.1, so the planner broadcasts
      // dim and dim-derived join sides from SIZE STATS — the decision
      // a hardcoded broadcast() hint would make unconditionally (and
      // fatally) at 100×. On a production cluster this stays at the
      // default 10 MB and AQE handles the rest from runtime stats.
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local mode has no task retries, so the determinism sort before
      // round-robin repartition is pure overhead
      .config("spark.sql.execution.sortBeforeRepartition", "false")
      // single-JVM "shuffles" land in the page cache: lz4 on a few MB
      // of shuffle blocks is pure CPU latency with zero I/O to save.
      // A real cluster keeps compression on (network-bound).
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      // ObjectHashAggregate (collect_list, typed aggregators) falls
      // back to SORT-based aggregation after only 128 distinct keys by
      // default — a full object-buffer sort for any real group count.
      // With a large heap and bounded per-group state (sorted
      // timelines, top-K heaps) the hash path is strictly better.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (4 << 20).toString)
      // the dedup candidate self-joins exchange ~1M narrow rows; a
      // shuffled-hash join probes them directly where an SMJ would
      // sort both sides first. Executors have the memory for the
      // per-partition build maps (the classic SHJ caveat).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .getOrCreate()
    // WARN, not ERROR: a failing query or builder names itself in the log
    spark.sparkContext.setLogLevel("WARN")
    // IndexArtifacts.buildAll creates its FAIR pools on first use by
    // design; Spark WARNs once per pool that no allocation file declares
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.FairSchedulableBuilder",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
