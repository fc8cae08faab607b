package graft

import graft.detectors.Bocpd
import graft.streaming.StreamingDetectors
import graft.streaming.StreamingDetectors.{Doc, Point}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Replay equivalence: feed the REAL testdata through the streaming
  * operators in several chronological microbatches and assert the final
  * output equals the batch operator on the same rows. This is the
  * streaming correctness gate the batch oracle can't provide — it pins
  * the stateful recurrences to their batch twins across microbatch
  * boundaries, where state handoff bugs live.
  */
class StreamingReplaySpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val S = TSSchema(keys = Seq("event_type"))

  /** The dense-enough hourly series, globally time-ordered (so chunked
    * feeds are chronological per series too). */
  private lazy val hourlyPoints: Seq[Point] =
    Tables.hourlyEvents(spark, dir).drop("n").orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq

  private def chunks[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
    val size = math.max(1, math.ceil(xs.length / n.toDouble).toInt)
    xs.grouped(size).toSeq
  }

  test("streaming exact dedup replays the batch keep set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // sf0.001 documents are all distinct — re-add every 7th text under a
    // fresh id so the feed genuinely contains duplicates to drop
    val base = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val docs = base.unionAll(
      base.where(col("doc_id") % 7 === 0).select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val batchKept = graft.dedup.Dedup.exact(docs).where(col("keep") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // batch keeps min(doc_id) per fingerprint; a doc_id-ordered feed makes
    // first-arrival == min-id, so the stream must keep the same set
    val feed = docs.orderBy("doc_id").collect()
      .map(r => Doc(r.getLong(0), new Timestamp(1704067200000L + r.getLong(0) * 1000L), r.getString(1))).toSeq
    val mem = MemoryStream[Doc]
    val q = StreamingDetectors.dedupExact(mem.toDF())
      .writeStream.format("memory").queryName("rp_dedup").outputMode("append").start()
    chunks(feed, 4).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val streamKept = spark.sql("select doc_id from rp_dedup").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(streamKept === batchKept)
    assert(streamKept.size < feed.size, "testdata should contain at least one duplicate")
  }

  test("streaming EWMA tracker replays the batch adjusted-EWMA levels across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val batch = TS.ewma(Tables.hourlyEvents(spark, dir).drop("n"), S, alpha = 0.2)
      .select("event_type", "ts", "ewma").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2)).toMap

    val mem = MemoryStream[Point]
    val q = StreamingDetectors.ewmaTracker(mem.toDS(), alpha = 0.2)
      .writeStream.format("memory").queryName("rp_ewma").outputMode("append").start()
    chunks(hourlyPoints, 5).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.sql("select event_type, ts, ewma from rp_ewma").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2))
    q.stop()
    assert(stream.length === batch.size)
    stream.foreach { case (k, v) =>
      // the batch operator emits round(ewma, 6); match it at that precision
      assert(math.abs(v - batch(k)) <= 5.001e-7,
        s"ewma mismatch at $k: stream=$v batch=${batch(k)}")
    }
  }

  test("streaming CUSUM output is invariant to microbatch partitioning") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def run(nChunks: Int, name: String): Set[(String, Long, Long)] = {
      val mem = MemoryStream[Point]
      val q = StreamingDetectors.cusum(mem.toDS(), k = 1.0)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      chunks(hourlyPoints, nChunks).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      val out = spark.sql(s"select event_type, ts, n from $name").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
      q.stop()
      out
    }
    val oneShot = run(1, "rp_cusum1")
    val chunked = run(7, "rp_cusum7")
    assert(oneShot.nonEmpty, "expected changepoints at k=1 on real data")
    assert(chunked === oneShot)
  }

  test("streaming session windows replay the batch gap-islands session set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables.events(spark, dir).select("user_id", "ts", "value")
    val batch = TS.sessionize(ev, TSSchema(keys = Seq("user_id")), gapSeconds = 1800)
      .groupBy("user_id", "session")
      .agg(min(unix_timestamp(col("ts"))).as("start_s"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet

    val pts = ev.orderBy("ts", "user_id").collect()
      .map(r => StreamingDetectors.UPoint(r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val mem = MemoryStream[StreamingDetectors.UPoint]
    val q = StreamingDetectors.sessionWindows(mem.toDF())
      .writeStream.format("memory").queryName("rp_sess").outputMode("append").start()
    chunks(pts, 5).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    // sentinel far past the data advances the watermark so every real
    // session closes and is emitted
    mem.addData(StreamingDetectors.UPoint(-1L,
      new Timestamp(pts.last.ts.getTime + 365L * 24 * 3600 * 1000), 0.0))
    q.processAllAvailable()
    val stream = spark.sql("select user_id, start, n_events from rp_sess where user_id >= 0")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000, r.getLong(2))).toSet
    q.stop()
    assert(stream.nonEmpty && stream === batch,
      s"stream ${stream.size} sessions vs batch ${batch.size}")
  }

  test("streaming BOCPD replays the batch posterior probabilities across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val lagN = 10
    // the real series plus one synthetic shifted series, so the
    // confident-changepoint assertion has something to find
    val rnd = new scala.util.Random(11)
    val shifted = (0 until 120).map(i =>
      Point("synthetic_shift", new Timestamp(1704067200000L + i * 3600000L),
        (if (i < 60) 5.0 else 40.0) + rnd.nextGaussian()))
    val allPoints = (hourlyPoints ++ shifted).sortBy(p => (p.ts.getTime, p.event_type))
    val bySeries = allPoints.groupBy(_.event_type).map { case (k, pts) =>
      k -> pts.sortBy(_.ts.getTime)
    }
    val priors = bySeries.map { case (k, pts) => k -> Bocpd.priorsOf(pts.map(_.value).toArray) }
    // expected: the batch recurrence under the same priors; only indices
    // [0, n-lagN) are confirmable and hence emitted by the stream
    val expected = bySeries.flatMap { case (k, pts) =>
      val probs = Bocpd.changeProbWithPriors(pts.map(_.value).toArray, priors(k), lagN = lagN)
      (0 until pts.length - lagN).map(i => (k, pts(i).ts.getTime) -> probs(i))
    }

    val priorsDf = priors.toSeq.map { case (k, p) => (k, p.mu0, p.v0, p.sigma2) }
      .toDF("event_type", "mu0", "v0", "sigma2")
    val mem = MemoryStream[Point]
    val q = StreamingDetectors.bocpd(mem.toDS(), priorsDf, lagN = lagN)
      .writeStream.format("memory").queryName("rp_bocpd").outputMode("append").start()
    chunks(allPoints, 6).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.sql("select event_type, ts, change_prob from rp_bocpd").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2))
    q.stop()
    assert(stream.length === expected.size,
      s"stream emitted ${stream.length} probs, batch confirms ${expected.size}")
    stream.foreach { case (k, v) =>
      assert(math.abs(v - expected(k)) <= 1e-12, s"bocpd mismatch at $k: stream=$v batch=${expected(k)}")
    }
    assert(expected.values.exists(_ > 0.5), "expected at least one confident changepoint on real data")
  }

  test("streaming burn monitor windows equal a batch recount of the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = Tables.events(spark, dir).select("event_type", "ts").orderBy("ts").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), 0.0)).toSeq
    val mem = MemoryStream[Point]
    val q = StreamingDetectors.burnMonitor(mem.toDS().toDF())
      .writeStream.format("memory").queryName("rp_burn").outputMode("append").start()
    chunks(evs, 4).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.sql("select ts_hour_end, n_err, n_tot from rp_burn").collect()
      .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getLong(2))).toMap
    q.stop()
    assert(stream.nonEmpty, "no closed burn windows emitted")
    // batch recount: for each emitted window end E, the rows in [E-6h, E)
    stream.foreach { case (end, (ne, nt)) =>
      val lo = end - 6L * 3600 * 1000
      val rows = evs.filter(p => p.ts.getTime >= lo && p.ts.getTime < end)
      assert(rows.length == nt, s"window $end total ${rows.length} != $nt")
      assert(rows.count(_.event_type == "error") == ne, s"window $end errors != $ne")
    }
  }

  test("streaming Page-Hinkley replays the batch alarm point exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // dense series + the batch kernel's snapped-moment thresholds
    val dense = TS.fillGaps(Tables.hourlyEvents(spark, dir).drop("n"), S, 3600L, Some(0.0))
      .orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    def snap4(x: Double) = math.signum(x) * math.floor(math.abs(x) * 1e4 + 0.5) / 1e4
    val th = dense.groupBy(_.event_type).map { case (k, ps) =>
      val xs = ps.map(_.value)
      val n = xs.length
      var s1 = 0.0; xs.foreach(s1 += _)
      var s2 = 0.0; xs.foreach(x => s2 += x * x)
      s1 = snap4(s1); s2 = snap4(s2)
      val sd = math.sqrt((s2 - s1 * s1 / n) / (n - 1))
      k -> (0.005 * sd, 20.0 * sd)
    }
    val feed = dense.map(p =>
      StreamingDetectors.PhPoint(p.event_type, p.ts, p.value, th(p.event_type)._1, th(p.event_type)._2))
    val mem = MemoryStream[StreamingDetectors.PhPoint]
    val q = StreamingDetectors.pageHinkley(mem.toDS())
      .writeStream.format("memory").queryName("rp_ph").outputMode("append").start()
    chunks(feed, 5).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.sql("select event_type, ts, n from rp_ph").collect()
      .map(r => r.getString(0) -> (r.getTimestamp(1).getTime / 1000L, r.getLong(2))).toMap
    q.stop()
    val batch = SparkEntry.queries("q_page_hinkley")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    val batchAlarmed = batch.filter(_._2._1 >= 0)
    assert(stream.keySet == batchAlarmed.keySet,
      s"alarmed series differ: stream=${stream.keySet} batch=${batchAlarmed.keySet}")
    batchAlarmed.foreach { case (k, (idx, ts)) =>
      assert(stream(k)._1 == ts, s"$k alarm ts: stream=${stream(k)._1} batch=$ts")
      assert(stream(k)._2 == idx + 1, s"$k alarm n: stream=${stream(k)._2} batch idx=$idx")
    }
  }
}
