package graft

import graft.sources.IO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The co-located-join promise of IO.writeBucketed, asserted on the
  * physical plan: joining two tables bucketed on the same keys must not
  * shuffle either side.
  */
class BucketSpec extends AnyFunSuite with SparkSuite {

  test("joining two same-bucketed tables plans zero Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    // the tables live in a private temp location, not the shared warehouse
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.sql(s"CREATE DATABASE bucketspec LOCATION '$dir/bucketspec'")
    val s = TSSchema(keys = Seq("event_type"))
    val hourly = Tables.hourlyEvents(spark, "/root/testdata/sf0.001").drop("n")
    IO.writeBucketed(hourly, "bucketspec.b_left", s, buckets = 4)
    IO.writeBucketed(hourly.withColumn("value", col("value") * 2), "bucketspec.b_right", s, buckets = 4)
    val l = spark.table("bucketspec.b_left")
    // per-series daily rollups on each side, then a join on the bucket key:
    // every stage is keyed by event_type, so nothing may shuffle
    val r = spark.table("bucketspec.b_right")
      .groupBy("event_type").agg(sum("value").as("value2"))
    val joined = l.groupBy("event_type").agg(sum("value").as("value1"))
      .join(r, Seq("event_type"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    assert(joined.count() === 5)
    // keyed aggregation on the bucket keys also skips the shuffle
    val agg = l.groupBy("event_type").agg(sum("value"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), s"bucketed aggregation still shuffles:\n$aggPlan")
    assert(agg.count() === 5)
  }
}
