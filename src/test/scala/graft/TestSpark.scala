package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, on the [[GraftSession]]
  * profile.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(tmpDir("graft-warehouse"))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
