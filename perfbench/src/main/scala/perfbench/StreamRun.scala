package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{BonusPattern, EventCodec, Pattern11, Pattern12, Pattern2, Patterns, VersionedStore}

/** Shape of a stream workload: a backlog drained closed-loop one file per
  * micro-batch, then an open-loop live phase of `liveFiles` files, one
  * every `periodUs` microseconds.
  */
final case class StreamShape(
    users: Int, backlogFiles: Int, backlogPerFile: Int,
    livePerFile: Int, periodUs: Long, liveFiles: Int, polls: Int) {
  def backlogEvents: Long = backlogFiles.toLong * backlogPerFile
  def liveEvents: Long = liveFiles.toLong * livePerFile
}

/** Runs Patterns 1.1, 1.2 and 2 in turn, each from a fresh checkpoint and
  * store over its own copy of the staged backlog, then the bonus pattern's
  * polls over the last pattern's topic. Freshness, catch-up and bonus
  * times go to the gated metrics; everything the progress
  * reports and the tracer records goes to the layers.
  */
final class StreamRun(
    spark: SparkSession, tracer: Option[Tracer], out: Out, shape: StreamShape,
    gen: EventGen, work: Path) {
  import StreamRun._

  private val backlog = Files.createDirectories(work.resolve("backlog"))

  /** Writes the backlog files; returns the seconds it took. */
  def stage(): Double = timedS {
    val staging = Files.createDirectories(work.resolve("backlog-staging"))
    for (k <- 0 until shape.backlogFiles) {
      val from = k.toLong * shape.backlogPerFile
      EventGen.publish(staging, backlog, f"backlog-$k%06d.jsonl", gen.body(from, from + shape.backlogPerFile))
    }
  }

  /** Untimed: the pattern drains [[WarmupFiles]] small files, one per
    * micro-batch, from a fresh checkpoint, so class loading, JIT and codegen
    * of the stream path the patterns share (file source, JSON decode, state
    * store, parquet sink) land in set-up rather than in the first measured
    * catch-up.
    */
  def warmup(p: String): Unit = {
    val dir = Files.createDirectories(work.resolve(s"warmup-$p"))
    val src = Files.createDirectories(dir.resolve("in"))
    val staging = Files.createDirectories(dir.resolve("staging"))
    for (k <- 0 until WarmupFiles) {
      val from = WarmupFirstEvent + k.toLong * WarmupPerFile
      EventGen.publish(staging, src, f"warmup-$k%06d.jsonl", gen.body(from, from + WarmupPerFile))
    }
    val q = start(p, src, dir, new VersionedStore(spark, dir.resolve("store").toString), oneFile = true)
    try q.processAllAvailable() finally q.stop()
  }

  private def start(p: String, src: Path, dir: Path, store: VersionedStore, oneFile: Boolean): StreamingQuery = {
    val reader = spark.readStream.format("text")
    val events = EventCodec.parse(
      (if (oneFile) reader.option("maxFilesPerTrigger", 1) else reader).load(src.toString))
    val ckpt = dir.resolve("ckpt").toString
    p match {
      case "p11" => Pattern11.start(events, store, ckpt)
      case "p12" => Pattern12.start(events, dir.resolve("feed").toString, store, ckpt)
      case "p2" => Pattern2.start(events, store, ckpt)
    }
  }

  /** One pattern: catch-up, then live. Returns the pattern's source dir. */
  def pattern(p: String, parent: Int): Path = out.spanned(s"pattern.$p", parent) { pspan =>
    val dir = Files.createDirectories(work.resolve(p))
    val src = Files.createDirectories(dir.resolve("in"))
    val staging = Files.createDirectories(dir.resolve("staging"))
    Files.list(backlog).iterator.asScala.toSeq.sorted.foreach(f => Files.createLink(src.resolve(f.getFileName), f))
    val store = new VersionedStore(spark, dir.resolve("store").toString)

    val (catchupS, catchup, queryId) = out.spanned(s"$p.catchup", pspan) { _ =>
      val t0 = System.nanoTime()
      val q = start(p, src, dir, store, oneFile = true)
      try q.processAllAvailable() finally q.stop()
      ((System.nanoTime() - t0) / 1e9, progressOf(q), q.id)
    }
    out.metric(s"${p}_catchup_ev_s", shape.backlogEvents / catchupS, "ev/s")

    val (files, live, visible) = out.spanned(s"$p.live", pspan) { _ =>
      val poller = new VersionPoller(store, dir.resolve("store"))
      val q = start(p, src, dir, store, oneFile = false)
      try {
        awaitWaitingForData(q)
        poller.start()
        val writer = new LiveWriter(gen, shape.backlogEvents, shape.livePerFile,
          shape.periodUs * 1000L, shape.liveFiles, staging, src, "live")
        writer.start()
        val files = writer.result()
        q.processAllAvailable()
        val live = progressOf(q)
        (files, live, poller.stopAt(live.map(_.batchId).max))
      } finally { q.stop(); poller.stopAt(-1) }
    }

    val batchOf = Stats.containingBatch(files.map(_.endLine), live.map(b => Stats.Batch(b.batchId, b.numInputRows)))
    val fresh = Stats.freshness(files.map(_.due), batchOf, visible)
    out.check(s"$p: every live file became visible")(fresh.forall(_.isDefined))
    val freshMs = fresh.flatten.map(_ / 1e6)
    out.metric(s"${p}_fresh_p50_ms", Stats.median(freshMs), "ms")
    Stats.quantile(freshMs, 0.95).foreach(out.metric(s"${p}_fresh_p95_ms", _, "ms"))
    out.notes(s"${p}_fresh_samples") = freshMs.size
    out.layer("gen.late_ms_max",
      math.max(out.layers.get("gen.late_ms_max").map(_._1).getOrElse(0.0),
        files.map(f => (f.created - f.due) / 1e6).max), "ms")

    verify(p, src, store, catchup ++ live)
    if (tracer.isDefined) layers(p, queryId, dir, store, catchup ++ live, files, batchOf, visible)
    src
  }

  /** The committed summary must equal the batch recompute over every line
    * written, with poison lines dropped and late lines kept. Every pattern
    * reads the same lines, so the recompute runs once per workload.
    */
  private def verify(p: String, src: Path, store: VersionedStore, batches: Seq[Tracer.Progress]): Unit = {
    val lines = shape.backlogEvents + shape.liveEvents
    out.check(s"$p: every line read once")(batches.map(_.numInputRows).sum == lines)
    val want = expected.getOrElse {
      val parsed = EventCodec.parse(spark.read.text(src.toString)).cache()
      try {
        out.check("poison dropped, late kept")(parsed.count() == validLines(lines))
        Patterns.clickSummary(parsed).collect().toSeq
      } finally { parsed.unpersist(); () }
    }
    expected = Some(want)
    val cols = want.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil).map(col)
    out.check(s"$p: summary equals recompute")(
      store.read().exists(_.select(cols: _*).collect().toSet == want.toSet))
  }

  /** The batch recompute of the summary, once the first pattern ran. */
  private var expected: Option[Seq[Row]] = None

  private def validLines(n: Long): Long =
    (0L until n).count(i => gen.kind(i) match {
      case EventGen.Bad | EventGen.NoName => false
      case _ => true
    }).toLong

  /** Per-layer numbers for one pattern: medians over its micro-batches. */
  private def layers(
      p: String, queryId: java.util.UUID, dir: Path, store: VersionedStore, batches: Seq[Tracer.Progress],
      files: Seq[EventGen.LiveFile], batchOf: Seq[Option[Long]], visible: Seq[(Long, Long)]): Unit = {
    val t = tracer.get
    def med(f: Tracer.Progress => Double) = Stats.median(batches.map(f))
    val k = s"stream.$p"
    out.layer(s"$k.source_ms", med(_.source.toDouble), "ms")
    out.layer(s"$k.rows_in_per_batch", med(_.numInputRows.toDouble), "count")
    out.layer(s"$k.batch_ms", med(_.batch.toDouble), "ms")
    out.layer(s"$k.planning_ms", med(_.planning.toDouble), "ms")
    out.layer(s"$k.checkpoint_ms", med(_.checkpoint.toDouble), "ms")
    out.layer(s"$k.sink_ms", med(_.sink.toDouble), "ms")
    if (p != "p12") {
      out.layer(s"$k.state_rows", batches.last.stateRows.toDouble, "count")
      out.layer(s"$k.state_mem_bytes", batches.last.stateMemBytes.toDouble, "B")
      out.layer(s"$k.state_commit_ms", med(_.stateCommitMs.toDouble), "ms")
    }
    out.layer(s"$k.lag_files_max",
      Stats.maxLagFiles(files.map(_.due), batchOf.map(_.flatMap(b => visible.find(_._1 >= b).map(_._2)))), "count")
    // jobs of each batch, grouped through the streaming query and batch-id
    // properties (the query id survives the restart between the phases)
    val perBatch = t.jobsWhere(j => j.queryId.contains(queryId) && j.batchId.isDefined).groupBy(_.batchId.get)
    val own = batches.flatMap(b => perBatch.get(b.batchId).map(b -> _))
    def medJobs(f: (Tracer.Progress, Seq[Tracer.Job]) => Double) = Stats.median(own.map(f.tupled))
    out.layer(s"$k.jobs_per_batch", medJobs((_, js) => js.size), "count")
    out.layer(s"$k.tasks_per_batch", medJobs((_, js) => js.map(_.tasks).sum), "count")
    out.layer(s"$k.task_cpu_ms_per_batch", medJobs((_, js) => js.map(_.cpuNanos).sum / 1e6), "ms")
    out.layer(s"$k.driver_gap_ms", medJobs((b, js) =>
      b.batch - Tracer.unionLength(js.map(j => (j.start, j.end)))), "ms")
    val vStart = batches.map(b => b.batchId -> b.startEpochMs).toMap
    out.layer(s"$k.visible_lag_ms", Stats.median(visibleEpoch.toSeq.flatMap { case (v, ms) =>
      vStart.get(v).map(s => (ms - s).toDouble) }), "ms")
    out.layer(s"$k.commit_bytes", Stats.median(commitBytes.values.map(_.toDouble).toSeq), "B")
    out.layer(s"$k.summary_rows", store.read().get.count().toDouble, "count")
    if (p == "p12") out.layer(s"$k.feed_bytes_per_batch", Stats.median(
      Files.list(dir.resolve("feed")).iterator.asScala.filter(Files.isDirectory(_))
        .map(d => dirBytes(d).toDouble).toSeq), "B")
    visibleEpoch.clear(); commitBytes.clear()
  }

  // filled by the poller in traced runs: version → first-seen epoch ms and
  // the size of its snapshot directory
  private val visibleEpoch = new java.util.concurrent.ConcurrentHashMap[Long, Long]().asScala
  private val commitBytes = new java.util.concurrent.ConcurrentHashMap[Long, Long]().asScala

  /** Polls the store's current version and records when each appears. */
  private final class VersionPoller(store: VersionedStore, root: Path) extends Thread("perfbench-poller") {
    setDaemon(true)
    @volatile private var until = Long.MaxValue
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

    override def run(): Unit = {
      var last = store.currentVersion.getOrElse(-1L)
      while (last < until) {
        val v = store.currentVersion.getOrElse(-1L)
        if (v > last) {
          seen.add(v -> System.nanoTime())
          last = v
          if (tracer.isDefined) {
            visibleEpoch(v) = System.currentTimeMillis()
            commitBytes(v) = util.Try(dirBytes(root.resolve(s"v$v"))).getOrElse(0L)
          }
        } else LockSupport.parkNanos(1000000L)
      }
    }

    /** Waits until version `last` was seen (or returns at once for -1). */
    def stopAt(last: Long): Seq[(Long, Long)] = {
      until = last
      join(if (last < 0) 1L else 30000L)
      until = -2
      seen.asScala.toSeq.sortBy(_._1)
    }
  }

  /** Bonus pattern: an untimed poll, then `polls` timed top-5 polls over
    * the whole topic in `topic`.
    */
  def bonus(topic: Path, parent: Int): Unit = out.spanned("bonus", parent) { bspan =>
    // the topic holds the lines every pattern read: its top-5 is the head
    // of the verified recompute in the poll's order
    val top5 = expected.get.sortBy(r => (-r.getAs[Long]("count_of_clicks"), r.getAs[String]("user_id"))).take(5)
    val views = Seq.newBuilder[Double]
    val plans = Seq.newBuilder[Double]
    // poll 0 is untimed: it plans and compiles the views' queries once, so
    // the timed polls are those of a dashboard that is already running
    val polls = (0 to shape.polls).flatMap { i =>
      out.spanned(s"bonus.poll", bspan) { _ =>
        spark.sparkContext.setLocalProperty(Tracer.TagKey, if (i == 0) "bonus-warmup" else s"bonus:$i")
        try {
          val t0 = System.nanoTime()
          val raw = spark.read.text(topic.toString).withColumnRenamed("value", "message")
          BonusPattern.registerViews(spark, raw)
          val t1 = System.nanoTime()
          val top = BonusPattern.topUsers(spark, 5)
          val rows = top.collect().toSeq
          val t2 = System.nanoTime()
          out.check(s"bonus poll $i: top-5 equals recompute")(rows == top5)
          if (i == 0) None
          else {
            views += (t1 - t0) / 1e6
            plans += planMs(top)
            Some((t2 - t0) / 1e6)
          }
        } finally spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
      }
    }
    out.metric(s"bonus_poll_p50_ms", Stats.median(polls), "ms")
    tracer.foreach { t =>
      out.layer(s"bonus.views_ms", Stats.median(views.result()), "ms")
      out.layer(s"bonus.plan_ms", Stats.median(plans.result()), "ms")
      val byPoll = t.jobsWhere(_.tag.exists(_.startsWith("bonus:"))).groupBy(_.tag.get).values.toSeq
      out.layer(s"bonus.job_ms", Stats.median(byPoll.map(js =>
        Tracer.unionLength(js.map(j => (j.start, j.end))).toDouble)), "ms")
      out.layer(s"bonus.task_cpu_ms", Stats.median(byPoll.map(_.map(_.cpuNanos).sum / 1e6)), "ms")
    }
  }
}

object StreamRun {
  val WarmupFiles = 2
  val WarmupPerFile = 200
  /** Warm-up events come from an index range no measured file uses. */
  val WarmupFirstEvent = 1000000000L

  def timedS(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  /** Blocks until the restarted query has finished starting up and polls
    * its source for new files. The live schedule starts only then, so how
    * the first live files split into micro-batches does not depend on how
    * long the restart took.
    */
  def awaitWaitingForData(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 60000000000L
    while (q.status.message != "Waiting for data to arrive") {
      q.exception.foreach(e => throw e)
      require(q.isActive && System.nanoTime() < deadline, s"query ${q.id} did not come up")
      Thread.sleep(5)
    }
  }

  def progressOf(q: StreamingQuery): Seq[Tracer.Progress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(Tracer.progress).sortBy(_.batchId)

  /** Catalyst optimisation and physical planning time of an executed frame. */
  def planMs(df: DataFrame): Double = {
    val phases = df.queryExecution.tracker.phases
    Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble
  }

  def dirBytes(d: Path): Long =
    Files.walk(d).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
