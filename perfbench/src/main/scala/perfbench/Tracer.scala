package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spark jobs and tasks as the listener bus reports them, for a traced
  * run. Each job is keyed by the streaming query and batch that ran it, or
  * by the `perfbench.tag` local property the benchmark sets around its own
  * calls. Everything is kept in memory; the time spent inside the callbacks
  * is the tracer's own cost.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var callbackNanos = 0L

  private def timed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally callbackNanos += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = Job(e.jobId, prop(TagKey), prop("sql.streaming.queryId").map(java.util.UUID.fromString),
      prop("streaming.sql.batchId").map(_.toLong), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized(timed {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNanos += m.executorCpuTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  })

  def jobsWhere(f: Job => Boolean): Seq[Job] = synchronized(jobs.values.filter(f).map(_.copy()).toSeq)

  def overheadNanos: Long = synchronized(callbackNanos)
}

object Tracer {
  /** Local property naming the benchmark call a job belongs to. */
  val TagKey = "perfbench.tag"

  final case class Job(
      id: Int, tag: Option[String], queryId: Option[java.util.UUID], batchId: Option[Long],
      start: Long, var end: Long = -1, var tasks: Int = 0, var cpuNanos: Long = 0,
      var shuffleBytes: Long = 0)

  /** One micro-batch's progress; times in ms. `source` is latestOffset +
    * getBatch, `checkpoint` walCommit + commitOffsets, `sink` addBatch.
    */
  final case class Progress(
      batchId: Long, numInputRows: Long, startEpochMs: Long,
      batch: Long, source: Long, planning: Long, checkpoint: Long, sink: Long,
      stateRows: Long, stateMemBytes: Long, stateCommitMs: Long)

  def progress(p: StreamingQueryProgress): Progress = {
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val state = p.stateOperators.toSeq
    Progress(
      p.batchId, p.numInputRows, java.time.Instant.parse(p.timestamp).toEpochMilli,
      d("triggerExecution"), d("latestOffset") + d("getBatch"), d("queryPlanning"),
      d("walCommit") + d("commitOffsets"), d("addBatch"),
      state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum, state.map(_.commitTimeMs).sum)
  }

  /** Total length of the union of `[start, end]` intervals. */
  def unionLength(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach)
      else (acc + e - math.max(s, reach), e)
    }._1
}
