package graft

import org.scalatest.funsuite.AnyFunSuite

/** The [[IndexArtifacts]] registry [[Bench]]'s index phase iterates. */
class IndexArtifactsSpec extends AnyFunSuite {

  test("buildAll builds every registered artifact on a fresh session and index dir") {
    val names = IndexArtifacts.all.map(_.name)
    assert(names.distinct === names, "artifact names must be unique")
    assert(IndexArtifacts.all.flatMap(_.deps).forall(IndexArtifacts.all.contains),
      "every dep must be a registered artifact")
    // a private copy of the tables: index table names derive from the
    // tables' directory, so no other suite's persisted index is reused
    val sf = java.nio.file.Paths.get(TestSpark.tmpDir("graft-artifacts-sf"))
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001")
    Tables.All.foreach { t =>
      java.nio.file.Files.copy(src.resolve(s"$t.parquet"), sf.resolve(s"$t.parquet"))
    }
    val spark = TestSpark.spark.newSession()
    spark.conf.set(IndexStore.IndexDirKey, TestSpark.tmpDir("graft-artifacts-index"))
    val secs = IndexArtifacts.buildAll(spark, sf.toString, par = 4)
    assert(secs.map(_._1) === names)
    assert(secs.forall(_._2 > 0.0))
    // the persisted artifacts landed as index tables over the copy
    assert(spark.catalog.listTables("graft_index").collect()
      .exists(_.name.contains("graft_artifacts_sf")))
  }
}
