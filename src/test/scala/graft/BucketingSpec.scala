package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: pre-partitioning fact tables on their join key so
  * repeated fact⋈fact joins run shuffle-free — the co-located-join
  * strategy for the 100 TB deployment (orders ⋈ lineitem on orderkey
  * is the one join in this schema that can't be broadcast at scale).
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed orders ⋈ lineitem joins without an exchange") {
    val sf = "/root/testdata/sf0.001"
    spark.sql("CREATE DATABASE IF NOT EXISTS buckets")

    Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("buckets.orders_b")
    Tables.lineitem(spark, sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("buckets.lineitem_b")

    // disable broadcast so the join planner must pick a sort-merge
    // join — the strategy that exists at 100 TB where neither fact
    // side fits in memory; bucketing is what makes it exchange-free
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("buckets.lineitem_b")
      .join(spark.table("buckets.orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
    val rows =
      try joined.collect()
      // restore the session profile's value, not Spark's default
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert(rows.map(_.getLong(1)).sum === Tables.lineitem(spark, sf).count())

    // both sides report the same bucket layout, so the join itself
    // needs no shuffle: the only exchange in the plan belongs to the
    // post-join aggregation, not the join
    // inspect only the finalized plan (AQE appends the pre-adaptive
    // "Initial Plan" dump after it)
    val full = joined.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==")(0)
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0)
    assert(!plan.substring(joinIdx).contains("Exchange"),
      "join subtree must be exchange-free (bucket-co-located)")
  }

  test("groupBy on the bucket key aggregates without an exchange (Bench ingest shape)") {
    // the layout graft.Bench ingests events into: bucketed by user_id,
    // so the whole p11 aggregation family satisfies its clustered
    // distribution straight off the scan
    val sf = "/root/testdata/sf0.001"
    spark.sql("CREATE DATABASE IF NOT EXISTS buckets")
    Tables.events(spark, sf)
      .write.bucketBy(4, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("buckets.events_b")
    val agg = spark.table("buckets.events_b")
      .filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("count_of_clicks"), max(col("ts")).as("updated_at"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"),
      "bucket-key aggregation must be exchange-free")
  }
}
