package perfbench

/** Order statistics and the live-file → micro-batch → freshness mapping. */
object Stats {

  /** Nearest-rank `p`-quantile of `xs`. Above the median it is reported
    * only when at least ten samples lie beyond it (a p95 needs 200
    * samples); otherwise None, so an unsupported tail is never printed.
    */
  def quantile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"quantile $p outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(p * n).toInt // 1-based nearest rank
    if (n == 0 || (p > 0.5 && n - rank < 10)) None
    else Some(xs.sorted.apply(rank - 1))
  }

  def median(xs: Seq[Double]): Double =
    quantile(xs, 0.5).getOrElse(throw new IllegalArgumentException("median of no samples"))

  /** One finished micro-batch as the progress listener reports it. */
  final case class Batch(id: Long, numInputRows: Long)

  /** For each live file (cumulative line count at its end, in write
    * order), the id of the first batch whose cumulative `numInputRows`
    * covers it. The file source takes whole files in modification-time
    * order, so cumulative rows identify the files a batch read. None
    * when no batch reached the file.
    */
  def containingBatch(fileEnds: Seq[Long], batches: Seq[Batch]): Seq[Option[Long]] = {
    val cum = batches.sortBy(_.id).scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), b) => (b.id, acc + b.numInputRows)
    }.tail
    fileEnds.map(end => cum.find(_._2 >= end).map(_._1))
  }

  /** Freshness per file: the first instant a committed version at or
    * past the file's batch was visible, minus the file's due time.
    * `visible` is sorted by version, each with its first-seen time.
    */
  def freshness(
      due: Seq[Long], batchOf: Seq[Option[Long]], visible: Seq[(Long, Long)]): Seq[Option[Long]] =
    due.zip(batchOf).map {
      case (d, Some(b)) => visible.find(_._1 >= b).map(_._2 - d)
      case (_, None) => None
    }

  /** Largest number of files that were due but not yet visible, taken at
    * each file's due instant.
    */
  def maxLagFiles(due: Seq[Long], visibleAt: Seq[Option[Long]]): Int =
    due.map(t => due.indices.count(i => due(i) <= t && visibleAt(i).forall(_ > t))).maxOption.getOrElse(0)
}
