package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe, idempotent versioned parquet table: the engine's
  * answer to the reference's transactional sink writes — DuckDB
  * `MERGE INTO` (pattern_1_1.py:96-117) and the DELETE+INSERT
  * transaction (pattern_2.py:108-113) — without a lakehouse format.
  *
  * Layout: `root/v{version}/` parquet snapshots + `root/_current`
  * pointer file. A commit writes the new snapshot directory first,
  * then atomically swaps the pointer (write-temp + ATOMIC_MOVE).
  * Readers resolve the pointer and only ever see a fully-written
  * snapshot. Re-running a batch (streaming retry) rewrites the same
  * version directory and re-swaps the pointer — idempotent, which
  * together with the streaming checkpoint gives effectively-once
  * sink semantics (SURVEY.md §2.6 T5).
  *
  * Scale note: this is the local-filesystem stand-in for a real
  * table format's atomic commit (Delta/Iceberg snapshot commit, or
  * HDFS rename). The pattern code only depends on `read`/`transact`,
  * so swapping the store implementation does not touch the patterns.
  * Old versions are pruned, keeping the last [[keepVersions]].
  */
final class VersionedStore(spark: SparkSession, root: String, keepVersions: Int = 3) {

  private val rootPath = Paths.get(root)
  private val pointer = rootPath.resolve("_current")

  def currentVersion: Option[Long] =
    if (Files.exists(pointer)) Some(new String(Files.readAllBytes(pointer), "UTF-8").trim.toLong)
    else None

  /** The committed table, if any commit has happened. */
  def read(): Option[DataFrame] =
    currentVersion.map(v => spark.read.parquet(s"$root/v$v"))

  /** Retained snapshot versions, ascending — the store-side analogue
    * of DuckLake `snapshots()` (reference pattern_1_2.py; the SOURCE
    * side is [[Pattern12.snapshots]]): time travel is bounded by the
    * prune horizon (`keepVersions`), exactly like a real table
    * format's retention window.
    */
  def versions: Seq[Long] =
    Option(rootPath.toFile.listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) f.getName.stripPrefix("v").toLongOption else None)
      .sorted

  /** Time-travel read of a RETAINED snapshot (`versions`); reading a
    * pruned or never-committed version is the caller's error.
    */
  def readAt(version: Long): DataFrame = {
    require(Files.exists(rootPath.resolve(s"v$version")),
      s"version $version is not retained (have: ${versions.mkString(",")})")
    spark.read.parquet(s"$root/v$version")
  }

  /** Row-level change feed between two retained snapshots — the
    * `table_changes(from, to)` analogue: full rows tagged 'insert'
    * (present in `to` only) or 'delete' (present in `from` only); an
    * updated row appears as its delete + its insert, the
    * delta-relative encoding every CDF consumer reduces over.
    * Multiset semantics (`exceptAll`), so duplicate rows diff by
    * count. Cost is two co-partitioned anti-semijoins of
    * snapshot-sized inputs — no corpus-wide sort.
    */
  def diff(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val from = readAt(fromVersion)
    val to = readAt(toVersion)
    to.exceptAll(from).withColumn("change_type", lit("insert"))
      .unionByName(from.exceptAll(to).withColumn("change_type", lit("delete")))
  }

  /** Read-transform-commit: `f` maps the base snapshot to the next
    * table state, which becomes version `version` atomically.
    *
    * The base is the LARGEST RETAINED version strictly below
    * `version` (None if none) — never the pointer itself. On a
    * streaming retry of batch n after a successful commit of n, the
    * pointer already names v_n; basing strictly below n makes the
    * retry recompute the same v_n instead of double-applying the
    * delta. Version ids may have gaps (callers that skip empty
    * micro-batches commit nothing for those batch ids), so "strictly
    * below" is resolved against the retained directory list, not
    * `version - 1` — a replay of batch n after a skipped batch n-1
    * must base on v_{n-2}, NEVER on v_n (which would double-count a
    * sum-monoid merge). Capped at the pointer so a partially-written
    * directory from a crash mid-commit is never chosen as a base.
    */
  def transact(version: Long)(f: Option[DataFrame] => DataFrame): Unit = {
    val next = f(baseSnapshot(version))
    next.write.mode("overwrite").parquet(s"$root/v$version")
    commitPointer(version)
    prune(version)
  }

  private def baseSnapshot(version: Long): Option[DataFrame] =
    currentVersion.flatMap { c =>
      versions.filter(v => v < version && v <= c).lastOption
        .map(v => spark.read.parquet(s"$root/v$v"))
    }

  private def commitPointer(version: Long): Unit = {
    Files.createDirectories(rootPath)
    val tmp = rootPath.resolve(s"_current.tmp.$version")
    Files.write(tmp, version.toString.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def prune(latest: Long): Unit = {
    val dir = rootPath.toFile
    if (dir.exists) {
      dir.listFiles().filter(_.getName.startsWith("v"))
        .flatMap(f => f.getName.drop(1).toLongOption.map(_ -> f))
        .filter { case (v, _) => v <= latest - keepVersions }
        .foreach { case (_, f) => graft.Warehouse.deleteRecursively(f) }
    }
  }
}
