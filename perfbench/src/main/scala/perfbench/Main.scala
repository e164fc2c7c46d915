package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.util.chaining._
import org.apache.spark.sql.SparkSession

/** The benchmark program. `run.py` builds it and starts it as
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <n> --trace <0|1>
  *   --work <dir> --tables <dir> --out <file> [--dump <dir>]
  * }}}
  *
  * One run sets up (session, backlog staging, stream warm-up), then
  * measures Patterns 1.1, 1.2 and 2 in turn and the bonus polls, checking
  * every output. A traced run then also runs the batch query pass (as does
  * `--dump`) and Pattern 2 on `stream_40u` at `local[1]`. The result
  * document goes to `--out`; `run.py` adds the oracle check of the query
  * row counts.
  */
object Main {

  /** A workload is the stream's shape at a given `--seconds`; the batch
    * query pass is the same in every workload. Each pattern's live phase
    * lasts a twentieth of `--seconds`: [[LiveFiles]] files at the
    * workload's event rate. The catch-ups, drains, checks and polls around
    * them are fixed work.
    */
  def workload(name: String, seconds: Int): Option[StreamShape] = {
    val periodUs = seconds * 1000000L / 20 / LiveFiles
    def live(evPerS: Int) = math.max(1, math.round(evPerS * periodUs / 1e6).toInt)
    name match {
      // the reference producer's 40 users: per-micro-batch fixed cost
      case "stream_40u" => Some(StreamShape(users = 40, backlogFiles = 2, backlogPerFile = 2000,
        livePerFile = live(1000), periodUs = periodUs, liveFiles = LiveFiles, polls = 5))
      // a 1,000,000-user key space: state and summary grow with the keys
      case "stream_1m_keys" => Some(StreamShape(users = 1000000, backlogFiles = 2, backlogPerFile = 6000,
        livePerFile = live(5000), periodUs = periodUs, liveFiles = LiveFiles, polls = 5))
      case _ => None
    }
  }

  /** Live files per pattern: enough for ten samples beyond the p95. */
  val LiveFiles = 200

  val Patterns: Seq[String] = Seq("p11", "p12", "p2")

  /** Measured query passes after the warm-up pass. */
  val QueryPasses = 1

  /** Fixed query sample of the batch pass; see perfbench/README.md. */
  val Queries: Seq[String] = Seq(
    "q22_sales_opportunity", "events_changepoint", "sessionize", "text_token_ids",
    "retrieval_bm25_multi", "decontaminate_bloom", "sim_topk_pq", "mm_dedup_payload")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toInt
    val shape = Main.workload(workload, seconds).getOrElse(sys.error(s"unknown workload $workload"))
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = new Out
    out.notes("seed") = seed
    out.notes("workload") = workload

    val jvmStart = ProcessHandle.current().info().startInstant().get().toEpochMilli
    var spark = session(work, cores = 4)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)

    out.spanned(s"workload.$workload", 0) { root =>
      val gen = new EventGen(seed, shape.users)
      val stream = new StreamRun(spark, tracer, out, shape, gen, work.resolve("stream"))
      val stagingS = out.spanned("setup.staging", root)(_ => stream.stage())
      val warmS = out.spanned("setup.stream_warmup", root)(_ => StreamRun.timedS(stream.warmup("p11")))
      out.metric("setup_s", sessionS + stagingS + warmS, "s")
      out.layer("setup.session_s", sessionS, "s")
      out.layer("setup.stream_warmup_s", warmS, "s")

      val stat0 = HostStat.read()
      val t0 = System.nanoTime()
      val topic = Patterns.map(p => stream.pattern(p, root)).last
      stream.bonus(topic, root)
      val streamS = (System.nanoTime() - t0) / 1e9
      val traceNanos = tracer.map(_.overheadNanos).getOrElse(0L) // callbacks during the stream part
      val stealPct = HostStat.stealPct(stat0, HostStat.read())
      out.notes("measured_s") = streamS
      out.notes("host_steal_pct") = stealPct

      if (traced || opt.contains("dump")) {
        val warehouse = work.resolve("warehouse").toString
        val queries = new QueryRun(spark, tracer, out, Paths.get(opt("tables")).toAbsolutePath.toString,
          warehouse, Queries)
        out.layer("setup.ingest_s", out.spanned("setup.ingest", root)(_ => queries.ingest()), "s")
        out.layer("setup.warmup_s", out.spanned("setup.warmup", root)(_ => StreamRun.timedS(queries.pass("warmup"))), "s")
        val passes = out.spanned("queries", root) { qspan =>
          (1 to QueryPasses).map(i => out.spanned(s"queries.pass$i", qspan)(_ => queries.pass(s"pass$i")))
        }
        if (traced) Thread.sleep(500) // let the listener bus deliver the last job events
        queries.report(passes)
        opt.get("dump").foreach { dir =>
          Queries.foreach(n => graft.SparkEntry.queries(n)(spark, warehouse)
            .repartition(1).write.mode("overwrite").parquet(s"$dir/$n"))
        }
      }

      if (traced) {
        out.layer("host.steal_pct", stealPct, "%")
        out.layer("trace.overhead_pct", 100.0 * traceNanos / 1e9 / streamS, "%")
        // the same job single-threaded: Pattern 2 on stream_40u at local[1]
        spark.stop()
        spark = session(work, cores = 1)
        val local1 = new Out
        out.spanned("local1.p2", root) { _ =>
          val single = new StreamRun(spark, None, local1, Main.workload("stream_40u", seconds).get,
            new EventGen(seed, 40), work.resolve("local1"))
          single.stage()
          single.warmup("p2")
          single.pattern("p2", 0)
        }
        for (m <- Seq("p2_catchup_ev_s", "p2_fresh_p50_ms")) out.layers(s"local1.$m") = local1.metrics(m)
        out.failures ++= local1.failures.map("local[1]: " + _)
        out.attempted += local1.attempted
      }
    }
    if (traced) Files.writeString(work.resolve("spans.jsonl"), out.spansJsonl)
    Files.writeString(Paths.get(opt("out")), out.json)
    spark.stop()
  }

  /** The session `graft.Bench` runs, at `local[cores]`, with its state and
    * shuffle files under `work`.
    */
  def session(work: Path, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse/catalog").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.execution.sortBeforeRepartition", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (4 << 20).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // keep every micro-batch's progress for the freshness mapping
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
      .tap { s =>
        s.sparkContext.setLogLevel("ERROR")
        graft.functions.expressions.GraftFunctions.register(s)
      }
}

/** Aggregate CPU counters of the host from `/proc/stat`. */
object HostStat {
  final case class Sample(total: Long, steal: Long)

  def read(): Sample =
    scala.util.Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Sample(f.take(8).sum, if (f.length > 7) f(7) else 0L)
    }.getOrElse(Sample(0, 0))

  def stealPct(a: Sample, b: Sample): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0
}
