package graft

import org.apache.spark.sql.SparkSession

/** Named-catalog lifecycle: the Spark mapping of the reference's
  * ATTACH / USE / teardown flow.
  *
  *  - reference `ATTACH 'ducklake:events_ducklake.db' AS events_ducklake`
  *    (pattern_1_2.py:138) → [[attach]]: a named database over a
  *    filesystem location in the session catalog; tables live under it
  *    via `saveAsTable` exactly as DuckLake tables live in the lake dir.
  *  - reference `USE events_ducklake` (pattern_1_2.py:23,56,89) →
  *    [[use]]: unqualified table names resolve against the database.
  *  - reference `scripts/cleanup.py:27-43` (delete db files + lake data
  *    dirs) → [[cleanup]]: drop the database with its data, delete any
  *    auxiliary store/checkpoint directories. The reference also
  *    deletes its Kafka topic — a broker-admin call that, like
  *    [[graft.sources.KafkaSource]], needs the connector/admin client
  *    on a deployed classpath and is out of engine scope here.
  */
object Warehouse {

  /** `ATTACH <location> AS <name>`: register a named database whose
    * tables (and their data) live under `location`.
    */
  def attach(spark: SparkSession, name: String, location: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name` LOCATION '$location'")
    ()
  }

  /** `USE <name>`: subsequent unqualified table names resolve here. */
  def use(spark: SparkSession, name: String): Unit = {
    spark.sql(s"USE `$name`")
    ()
  }

  /** Teardown: drop the database and every table in it (CASCADE drops
    * managed-table data like cleanup.py deletes the lake files), then
    * delete auxiliary directories (versioned stores, streaming
    * checkpoints) that live outside the catalog.
    */
  def cleanup(spark: SparkSession, name: String, auxDirs: Seq[String] = Nil): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")
    auxDirs.foreach(d => deleteRecursively(new java.io.File(d)))
  }

  /** Deletes `f` and everything under it; a missing file, or a
    * directory that vanishes mid-walk (`listFiles` returns null), is
    * not an error.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
