package graft

import graft.sources.IO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class IOSpec extends AnyFunSuite with SparkSuite {

  private val s = TSSchema(keys = Seq("k"))

  test("epoch-seconds and string ts both normalize to timestamps") {
    import spark.implicits._
    val fromLong = IO.timeSeries(Seq(("a", 1704067200L, 1.5)).toDF("k", "ts", "value"), s)
    assert(fromLong.schema("ts").dataType.typeName === "timestamp")
    val fromStr = IO.timeSeries(Seq(("a", "2024-01-01 00:00:00", "2")).toDF("k", "ts", "value"), s)
    assert(fromStr.schema("ts").dataType.typeName === "timestamp")
    assert(fromStr.select("value").head.getDouble(0) === 2.0)
  }

  test("epoch-millis integers normalize by magnitude to the same instant") {
    import spark.implicits._
    val secs = IO.timeSeries(Seq(("a", 1704067200L, 1.0)).toDF("k", "ts", "value"), s)
    val millis = IO.timeSeries(Seq(("a", 1704067200000L, 1.0)).toDF("k", "ts", "value"), s)
    assert(secs.select("ts").head.getTimestamp(0) === millis.select("ts").head.getTimestamp(0))
  }

  test("missing columns fail fast with the offending names") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      IO.timeSeries(Seq(("a", 1L)).toDF("k", "ts"), s)
    }
    assert(e.getMessage.contains("value"))
  }

  test("partitioned sink round-trips and prunes by key") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_io").toString
    val df = (0 until 48).map(i => (if (i % 2 == 0) "a" else "b", 1704067200L + i * 3600L, i.toDouble))
      .toDF("k", "ts", "value")
    IO.writePartitioned(IO.timeSeries(df, s), dir, s)
    val back = IO.readParquet(spark, dir, s)
    assert(back.count() === 48)
    val pruned = back.where(col("k") === "a")
    assert(pruned.count() === 24)
    // partition pruning: the k=a predicate must reach the scan's
    // PartitionFilters so only the k=a directory is read
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(k"), s"no partition filter in plan:\n$scan")
    assert(back.select(sum("value")).head.getDouble(0) === (0 until 48).sum.toDouble)
  }
}
