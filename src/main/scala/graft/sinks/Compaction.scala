package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Small-file compaction for append-only parquet logs — the engine's
  * form of the reference's lakehouse maintenance epilogue
  * (pattern_1_2.py:152-155: flush inlined data, rewrite/compact data
  * files, merge adjacent files; SURVEY.md §2.2 K8).
  *
  * Streaming appends produce one file batch per micro-batch; at high
  * trigger rates the log degrades into thousands of tiny files and
  * scan planning dominates read cost. Compaction rewrites the log at
  * a target partition count and swaps directories atomically
  * (write-new + rename), so concurrent readers see either the old or
  * the new layout, never a partial one.
  *
  * Scale note: on a cluster this runs as a scheduled job per
  * partition-directory (e.g. per `batch_id` range or per day), and
  * the swap is the table format's snapshot commit; the dataflow —
  * read, repartition to target file count, rewrite, atomic publish —
  * is identical.
  */
object Compaction {

  /** Rewrite `dir` into `numFiles` parquet files. Returns the number
    * of files before compaction.
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int): Long = {
    val before = Files.walk(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).count()
    val tmp = dir + ".compact-tmp"
    val old = dir + ".compact-old"
    spark.read.parquet(dir).repartition(numFiles).write.mode("overwrite").parquet(tmp)
    Files.move(Paths.get(dir), Paths.get(old), StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    graft.Warehouse.deleteRecursively(new java.io.File(old))
    before
  }
}
