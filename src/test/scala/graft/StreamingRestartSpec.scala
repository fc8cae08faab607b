package graft

import graft.streaming.StreamingDetectors
import graft.streaming.StreamingDetectors.{Doc, Point}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Checkpoint durability: kill a stateful streaming query mid-feed and
  * restart it from its checkpoint — the keyed state (EWMA recurrence,
  * dedup fingerprints) must survive the restart, so the combined output
  * still equals the batch operator. This is the part of the streaming
  * story MemoryStream replay can't cover: state-store persistence and
  * recovery, which is what makes the operators production-restartable.
  * (The memory sink refuses checkpoint recovery, so output goes through
  * the fault-tolerant parquet file sink — the production shape anyway.)
  */
class StreamingRestartSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val S = TSSchema(keys = Seq("event_type"))

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  test("EWMA tracker state survives a query restart from checkpoint") {
    import spark.implicits._
    val pts = Tables.hourlyEvents(spark, dir).drop("n").orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val batch = TS.ewma(Tables.hourlyEvents(spark, dir).drop("n"), S, alpha = 0.2)
      .select("event_type", "ts", "ewma").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2)).toMap

    val srcDir = tmp("restart_src")
    val outDir = tmp("restart_out")
    val ckpt = tmp("restart_ckpt")
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def writeChunk(chunk: Seq[Point]): Unit =
      chunk.toDF().select(col("event_type"), col("ts"), col("value"))
        .coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    def runToCompletion(): Unit = {
      val q = StreamingDetectors.ewmaTracker(
          spark.readStream.schema(schema).parquet(srcDir).as[Point], alpha = 0.2)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    val half = pts.length / 2
    writeChunk(pts.take(half))
    runToCompletion() // phase 1, then the query is KILLED
    val phase1 = spark.read.parquet(outDir).count()
    writeChunk(pts.drop(half))
    runToCompletion() // phase 2: fresh query, same checkpoint

    val all = spark.read.parquet(outDir)
      .select("event_type", "ts", "ewma").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2))
    assert(phase1 > 0 && phase1 < batch.size, "the kill must land mid-feed")
    // restart must resume the recurrence: every point emitted exactly once,
    // every level equal to the batch operator's
    assert(all.length === batch.size, s"combined emissions ${all.length} != batch ${batch.size}")
    all.foreach { case (k, v) =>
      assert(math.abs(v - batch(k)) <= 5.001e-7, s"ewma mismatch after restart at $k")
    }
  }

  test("Kalman tracker state survives a restart: resumed filter equals the uninterrupted replay") {
    import spark.implicits._
    val pts = Tables.hourlyEvents(spark, dir).drop("n").orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val srcDir = tmp("kal_src"); val outDir = tmp("kal_out"); val ckpt = tmp("kal_ckpt")
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def runToCompletion(): Unit = {
      val q = StreamingDetectors.kalmanTracker(
          spark.readStream.schema(schema).parquet(srcDir).as[Point])
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }
    val half = pts.length / 2
    pts.take(half).toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion() // killed mid-feed: level/variance/SSE live only in the state store
    pts.drop(half).toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion() // resumed from checkpoint

    // the uninterrupted reference: the oracle-certified MemoryStream replay
    val expected = graft.queries.StreamQueries.defs("q_stream_kalman")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4))).toSet
    val restarted = spark.read.parquet(outDir)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
        round(col("level"), 6).as("level"), round(col("pvar"), 6).as("pvar"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(restarted.nonEmpty && restarted === expected,
      s"restarted points ${restarted.size} != uninterrupted ${expected.size}")
  }

  test("dedup fingerprint state survives a restart: duplicates across the boundary are dropped") {
    import spark.implicits._
    val srcDir = tmp("dedup_src")
    val outDir = tmp("dedup_out")
    val ckpt = tmp("dedup_ckpt")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    def ts(i: Int) = new Timestamp(1704067200000L + i * 60000L)
    def runToCompletion(): Unit = {
      val q = StreamingDetectors.dedupExact(spark.readStream.schema(schema).parquet(srcDir))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }

    Seq(Doc(1L, ts(0), "alpha"), Doc(2L, ts(1), "beta"), Doc(3L, ts(2), "gamma"))
      .toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion() // phase 1: originals, then kill
    // phase 2 after restart: dups of phase-1 docs (inside the watermark
    // horizon) plus one genuinely new doc
    Seq(Doc(4L, ts(3), "alpha"), Doc(5L, ts(4), "beta"), Doc(6L, ts(5), "delta"))
      .toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion()

    val kept = spark.read.parquet(outDir).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L, 6L),
      s"restart must remember phase-1 fingerprints and drop cross-boundary dups, kept $kept")
  }

  test("CUSUM alarm state survives a restart: combined alarms equal the uninterrupted replay") {
    import spark.implicits._
    val pts = Tables.hourlyEvents(spark, dir).drop("n").orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val srcDir = tmp("cusum_src"); val outDir = tmp("cusum_out"); val ckpt = tmp("cusum_ckpt")
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def runToCompletion(): Unit = {
      val q = StreamingDetectors.cusum(
          spark.readStream.schema(schema).parquet(srcDir).as[Point], k = 1.0)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }
    val half = pts.length / 2
    pts.take(half).toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion() // killed mid-feed
    pts.drop(half).toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion() // resumed from checkpoint

    // the uninterrupted reference: the oracle-certified MemoryStream replay
    val expected = graft.queries.StreamQueries.defs("q_stream_cusum")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val restarted = spark.read.parquet(outDir)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(restarted.nonEmpty && restarted === expected,
      s"restarted alarms ${restarted.size} != uninterrupted ${expected.size}")
  }

  test("windowed histogram state survives a restart: one window's counters span the kill") {
    import spark.implicits._
    val t0 = 1704067200000L
    def ts(i: Int) = new Timestamp(t0 + i * 1000L) // all 200 points inside ONE hour window
    val pts = (0 until 200).map(i => Point("a", ts(i), (i % 100).toDouble))
    val ranges = Seq(("a", 0.0, 99.0)).toDF("event_type", "lo", "hi")
    val srcDir = tmp("qm_src"); val outDir = tmp("qm_out"); val ckpt = tmp("qm_ckpt")
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def runToCompletion(): Unit = {
      val q = StreamingDetectors.quantileMeter(
          spark.readStream.schema(schema).parquet(srcDir), ranges, buckets = 512)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }
    pts.take(120).toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion() // killed with the window OPEN: its counters live only in the state store
    assert(spark.read.parquet(outDir).count() == 0, "window must still be open at the kill")
    val sentinel = Point("zz_watermark_sentinel", new Timestamp(t0 + 365L * 24 * 3600 * 1000), 0.0)
    (pts.drop(120) :+ sentinel).toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion() // restart: the window closes with pre- AND post-kill mass

    // expected: the operator's own estimator math on the full 200 points
    def estOf(q: Double): Double = {
      val counts = Array.fill(512)(0L)
      pts.foreach(p => counts(math.min(math.floor(p.value * 512.0 / 99.0), 511.0).toInt) += 1)
      var cum = 0L
      val b = counts.indices.find { i => cum += counts(i); cum.toDouble >= q * 200L }.get
      BigDecimal(0.0 + (b + 0.5) * (99.0 / 512.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = spark.read.parquet(outDir).collect()
    assert(rows.length == 1, s"exactly one closed window expected, got ${rows.length}")
    val r = rows.head
    assert(r.getAs[Long]("n") == 200L, s"restart lost window mass: n=${r.getAs[Long]("n")}")
    assert(r.getAs[Double]("p50_est") == estOf(0.5), "p50 mismatch after restart")
    assert(r.getAs[Double]("p90_est") == estOf(0.9), "p90 mismatch after restart")
    assert(r.getAs[Double]("p99_est") == estOf(0.99), "p99 mismatch after restart")
  }

  test("SPC ring-buffer state survives a restart: run rules fire across the kill boundary") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type").orderBy("ts")
    val wk = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val base = Tables.hourlyEvents(spark, dir).drop("n")
      .withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(wk))
    val mo = base.where(col("rn") <= expr("nn div 2"))
      .groupBy("event_type")
      .agg(round(avg("value"), 6).as("mu"),
        round(greatest(stddev_pop(col("value")), lit(1e-6)), 6).as("sigma"))
    val serve = base.where(col("rn") > expr("nn div 2"))
      .select("event_type", "ts", "value").orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq

    val srcDir = tmp("spc_src"); val outDir = tmp("spc_out"); val ckpt = tmp("spc_ckpt")
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def runToCompletion(): Unit = {
      val q = StreamingDetectors.spcRules(
          spark.readStream.schema(schema).parquet(srcDir), mo)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }
    val half = serve.length / 2
    serve.take(half).toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion()
    serve.drop(half).toDF().coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    runToCompletion()

    val expected = graft.queries.StreamQueries.defs("q_stream_spc")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSet
    val restarted = spark.read.parquet(outDir)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), round(col("z"), 6))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(restarted.nonEmpty && restarted === expected,
      s"restarted SPC alarms ${restarted.size} != uninterrupted ${expected.size}")
  }
}
