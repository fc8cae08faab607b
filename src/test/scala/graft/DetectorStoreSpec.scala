package graft

import graft.detectors.{Bocpd, DetectorStore}
import graft.models.ModelStore
import graft.streaming.StreamingDetectors
import graft.streaming.StreamingDetectors.Point
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DetectorStore: the distributed baseline fit must agree with the
  * sequential kernel estimators, survive the params round trip, and —
  * the point of the store — drive the streaming detectors: a stream
  * served from LOADED baselines must reproduce the batch kernel.
  */
class DetectorStoreSpec extends AnyFunSuite with SparkSuite {

  private val S = TSSchema(keys = Seq("event_type"))
  private def hourly = Tables.hourlyEvents(spark, "/root/testdata/sf0.001").drop("n")

  private def relDiff(a: Double, b: Double) = math.abs(a - b) / math.max(1.0, math.abs(b))

  test("distributed baseline fit agrees with the sequential kernel estimators") {
    val params = DetectorStore.fitBaselines(hourly, S)
    val fromStore = DetectorStore.bocpdPriorsTable(params, Seq("event_type")).collect()
      .map(r => r.getString(0) -> Bocpd.Priors(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val series = hourly.orderBy("ts").collect()
      .map(r => (r.getString(0), r.getDouble(2))).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    assert(fromStore.keySet === series.keySet)
    series.foreach { case (k, xs) =>
      val want = Bocpd.priorsOf(xs.toArray)
      val got = fromStore(k)
      assert(relDiff(got.mu0, want.mu0) < 1e-9, s"$k mu0")
      assert(relDiff(got.v0, want.v0) < 1e-9, s"$k v0")
      assert(relDiff(got.sigma2, want.sigma2) < 1e-9, s"$k sigma2")
    }
  }

  test("a stream served from saved+loaded baselines reproduces the batch BOCPD kernel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("detstore").toString
    ModelStore.save(DetectorStore.fitBaselines(hourly, S), path)
    val priorsTable = DetectorStore.bocpdPriorsTable(ModelStore.load(spark, path), Seq("event_type"))
    val priors = priorsTable.collect()
      .map(r => r.getString(0) -> Bocpd.Priors(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap

    val pts = hourly.orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val lagN = 10
    val expected = pts.groupBy(_.event_type).flatMap { case (k, ps) =>
      val sorted = ps.sortBy(_.ts.getTime)
      val probs = Bocpd.changeProbWithPriors(sorted.map(_.value).toArray, priors(k), lagN = lagN)
      (0 until sorted.length - lagN).map(i => (k, sorted(i).ts.getTime) -> probs(i))
    }

    val mem = MemoryStream[Point]
    val q = StreamingDetectors.bocpd(mem.toDS(), priorsTable, lagN = lagN)
      .writeStream.format("memory").queryName("ds_bocpd").outputMode("append").start()
    mem.addData(pts: _*)
    q.processAllAvailable()
    val stream = spark.sql("select event_type, ts, change_prob from ds_bocpd").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2))
    q.stop()
    assert(stream.length === expected.size)
    stream.foreach { case (k, v) => assert(math.abs(v - expected(k)) <= 1e-12, s"mismatch at $k") }
  }

  test("loaded z-score baseline drives the streaming detector to the batch flag set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("detstore_z").toString
    ModelStore.save(DetectorStore.fitBaselines(hourly, S), path)
    val baseline = DetectorStore.zscoreBaseline(ModelStore.load(spark, path), Seq("event_type"))

    val batchFlags = hourly.join(baseline, "event_type")
      .where(abs((col("value") - col("mu")) / col("sigma")) > 2.0)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSet

    val pts = hourly.orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val mem = MemoryStream[Point]
    val q = StreamingDetectors.zscoreAgainstBaseline(mem.toDF(), baseline, z = 2.0)
      .writeStream.format("memory").queryName("ds_z").outputMode("append").start()
    mem.addData(pts: _*)
    q.processAllAvailable()
    val streamFlags = spark.sql("select event_type, ts from ds_z").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSet
    q.stop()
    assert(batchFlags.nonEmpty, "expect some |z|>2 points on real data")
    assert(streamFlags === batchFlags)
  }
}
