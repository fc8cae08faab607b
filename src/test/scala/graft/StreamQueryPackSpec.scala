package graft

import graft.queries.{AnalysisQueries, DriftQueries, StreamQueries}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The q_stream_* pack embeds a real Structured-Streaming replay inside a
  * batch query so the DuckDB gate certifies streaming results. These
  * tests pin the pack to the batch twins on testdata — the stream side
  * must reproduce the batch operators' rows, not merely run.
  */
class StreamQueryPackSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  test("q_stream_spc equals the batch q_spc_rules alarm rows") {
    val stream = StreamQueries.defs("q_stream_spc")(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = AnalysisQueries.defs("q_spc_rules")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty, "expected SPC alarms on testdata")
    assert(stream === batch)
  }

  test("the replay baseline split equals the two-chain form: store bits and feed order") {
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.StreamingDetectors.Point
    val w = Window.partitionBy("event_type").orderBy("ts")
    val wk = Window.partitionBy("event_type")
    val base = Tables.hourlyEvents(spark, dir).drop("n")
      .withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(wk))
    val mo = base.where(col("rn") <= expr("nn div 2"))
      .groupBy("event_type")
      .agg(round(avg("value"), 6).as("mu"),
        round(greatest(stddev_pop(col("value")), lit(1e-6)), 6).as("sigma"))
    val feed = base.where(col("rn") > expr("nn div 2"))
      .select("event_type", "ts", "value").orderBy("ts", "event_type").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val (store, got) = StreamQueries.baselineSplit(spark, dir)
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.getString(0),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    assert(store.schema === mo.schema)
    assert(bits(store).nonEmpty && bits(store) === bits(mo))
    assert(got.nonEmpty && got === feed)
  }

  test("q_stream_page_hinkley matches the batch q_page_hinkley alarm points") {
    val stream = StreamQueries.defs("q_stream_page_hinkley")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSet
    // batch twin: alarmed series with 0-based alarm_idx and the same λ
    val batch = DriftQueries.defs("q_page_hinkley")(spark, dir)
      .where(col("alarmed") === 1)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getInt(1) + 1L, r.getDouble(4))).toSet
    assert(stream.nonEmpty, "expected Page-Hinkley alarms on testdata")
    assert(stream === batch)
    // the emitted gap is the gap AT the crossing: above λ, at most max_gap
    StreamQueries.defs("q_stream_page_hinkley")(spark, dir).collect().foreach { r =>
      assert(r.getDouble(3) > r.getDouble(4) - 1e-9, s"gap must exceed lambda: $r")
    }
  }

  test("q_stream_mosum equals the batch hopping-window MOSUM algebra") {
    import spark.implicits._
    val stream = StreamQueries.defs("q_stream_mosum")(spark, dir)
      .collect().map(_.toSeq).toSet
    // batch twin: explode each present hourly row into its 24 member
    // windows and recompute the identical statistic
    val hourly = Tables.hourlyEvents(spark, dir).drop("n")
    val dense = TS.fillGaps(hourly, TSSchema(keys = Seq("event_type")), 3600L, Some(0.0))
    val store = dense.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      round(sum("value"), 4).as("sv"),
      round(sum(col("value") * col("value")), 2).as("svv"),
      min("ts").as("t0"))
      .withColumn("mu", expr("sv / n"))
      .withColumn("sd", expr("sqrt((svv - sv * sv / n) / (n - 1))"))
    val wins = hourly.crossJoin(broadcast((1 to 24).toDF("k")))
      .withColumn("wend", col("ts") + expr("make_interval(0, 0, 0, 0, k, 0, 0)"))
      .groupBy("event_type", "wend").agg(sum("value").as("ws"))
    val batch = wins.join(store, "event_type")
      .where(col("wend") >= col("t0") + expr("INTERVAL 24 HOURS"))
      .withColumn("m", (col("ws") - lit(24.0) * col("mu")) / (col("sd") * sqrt(lit(24.0))))
      .where(abs(col("m")) > 3.0)
      .select(col("event_type"), unix_timestamp(col("wend")).as("ts_end_s"),
        round(col("ws"), 6).as("window_sum"), round(col("m"), 6).as("mosum"))
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty, "expected MOSUM alarms on testdata")
    assert(stream === batch)
  }

  test("q_stream_psi windows cover the serve half and PSI is finite") {
    val out = StreamQueries.defs("q_stream_psi")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(out.nonEmpty)
    assert(!out.exists(_._1 == "zz_watermark_sentinel"), "sentinel must not leak into output")
    // every window's n > 0, PSI finite, drift consistent with the 0.2 rule
    out.foreach { case (_, tsS, n, psi, drift) =>
      assert(tsS % 86400 == 0, "windows must align to day boundaries")
      assert(n > 0 && !psi.isNaN && !psi.isInfinite)
      assert(drift == (if (psi > 0.2) 1 else 0))
    }
    // the total windowed row count equals the serve half of events
    val total = out.map(_._3).sum
    val nEvents = Tables.events(spark, dir).count()
    val serveRows = spark.range(1).select(lit(nEvents)).head().getLong(0) -
      Tables.events(spark, dir)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")
            .orderBy("ts", "event_id")))
        .withColumn("nn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
        .where(col("rn") <= expr("nn div 2")).count()
    assert(total === serveRows)
  }

  test("q_stream_ewma equals the batch adjusted-EWMA levels at 6 dp") {
    val stream = StreamQueries.defs("q_stream_ewma")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val batch = TS.ewma(Tables.hourlyEvents(spark, dir).drop("n"),
        TSSchema(keys = Seq("event_type")), alpha = 0.2)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("ewma"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(stream.keySet === batch.keySet)
    stream.foreach { case (k, v) =>
      // batch computes the closed weighted-sum form; the stream runs the
      // num/den recursion — same quantity, different float op order
      assert(math.abs(v - batch(k)) <= 5.001e-7, s"$k stream=$v batch=${batch(k)}")
    }
  }

  test("q_stream_dedup keeps exactly the unique-text originals and drops every injected duplicate") {
    val kept = StreamQueries.defs("q_stream_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty)
    assert(!kept.exists(_ >= 1000000L), "an injected duplicate survived the stream")
    val uniq = Tables.documents(spark, dir)
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("text")))
      .where(col("cnt") === 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === uniq)
  }

  test("q_stream_resample equals the batch hourly aggregate") {
    val stream = StreamQueries.defs("q_stream_resample")(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = Tables.hourlyEvents(spark, dir)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
        col("value"), col("n"))
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty && stream === batch)
  }

  test("q_stream_cusum alarms respect the burn-in and restart: per-series n counts back from each reset") {
    val out = StreamQueries.defs("q_stream_cusum")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty, "expected CUSUM changepoints at k=1 on real data")
    assert(out.forall(_._3 > 10), "every alarm must clear the 10-point burn-in")
    // within a series, consecutive alarm times must be ordered and each
    // alarm's n can't exceed the points elapsed since the previous alarm
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2).toSeq
      sorted.sliding(2).foreach { pair =>
        if (pair.size == 2) {
          val (_, t1, _) = pair(0); val (_, t2, n2) = pair(1)
          assert(t2 > t1)
          assert(n2 <= (t2 - t1) / 3600 + 1, s"n=$n2 exceeds points since previous alarm")
        }
      }
    }
  }

  test("q_stream_session equals the batch gap-islands session aggregate") {
    val stream = StreamQueries.defs("q_stream_session")(spark, dir)
      .collect().map(_.toSeq).toSet
    val ev = Tables.events(spark, dir).select("user_id", "ts", "value")
    val batch = TS.sessionize(ev, TSSchema(keys = Seq("user_id")), gapSeconds = 1800)
      .groupBy("user_id", "session")
      .agg(min(unix_timestamp(col("ts"))).as("start_s"),
        unix_timestamp(max(col("ts")) + expr("INTERVAL 30 MINUTE")).as("end_s"),
        count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
      .drop("session")
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty && stream === batch)
  }

  test("q_stream_neardedup flags every injected exact copy in all 16 bands") {
    val out = StreamQueries.defs("q_stream_neardedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.nonEmpty)
    val injected = out.filter(_._1 >= 1000000L)
    assert(injected.nonEmpty, "expected injected duplicates in the feed")
    injected.groupBy(i => (i._1, i._2)).foreach { case ((sid, cid), rows) =>
      if (cid == sid - 1000000L)
        assert(rows.map(_._3).toSet.size == 16, s"copy $sid vs $cid collided in ${rows.size} bands, want 16")
    }
  }

  test("q_stream_bloom emits exactly the cross-split exact duplicates") {
    val out = StreamQueries.defs("q_stream_bloom")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty)
    // every injected copy (+1e6 of an even id) must be confirmed against its original
    val d = Tables.documents(spark, dir).select("doc_id")
      .where(col("doc_id") % 2 === 0 && col("doc_id") % 20 === 0)
      .collect().map(_.getLong(0))
    d.foreach { id => assert(out.contains((id + 1000000L, id)), s"missing confirm for copy of $id") }
  }

  test("q_stream_bocpd equals the batch kernel on the confirmable prefix") {
    val stream = StreamQueries.defs("q_stream_bocpd")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val S = TSSchema(keys = Seq("event_type"))
    val dense = TS.fillGaps(Tables.hourlyEvents(spark, dir).drop("n"), S, 3600L, Some(0.0))
      .orderBy("ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getDouble(2)))
    val expected = dense.groupBy(_._1).flatMap { case (k, pts) =>
      val sorted = pts.sortBy(_._2)
      val probs = graft.detectors.Bocpd.changeProb(sorted.map(_._3).toArray)
      (0 until sorted.length - 10).map(i => (k, sorted(i)._2) -> probs(i))
    }
    assert(stream.keySet === expected.keySet)
    stream.foreach { case (k, v) =>
      // the query emits round(prob, 6); compare at that precision
      assert(math.abs(v - expected(k)) <= 5.001e-7, s"$k stream=$v batch=${expected(k)}")
    }
  }

  test("q_stream_ingest: the composed pipeline drops every injected duplicate and all quality failures") {
    val kept = StreamQueries.defs("q_stream_ingest")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty)
    assert(kept.forall(id => id % 2 == 1 && id < 1000000L),
      "only first-arrival odd-id originals may survive the composed pipeline")
    // every survivor passes the quality gate; at least one doc was
    // quality-dropped (the gate is load-bearing, not a no-op)
    val quality = StreamQueries.defs("q_stream_quality")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getInt(6) == 1)).toMap
    assert(kept.forall(quality(_)), "a quality-failing doc survived")
    // the synthetic corpus is quality-clean (no doc fails the cascade),
    // so the gate's load-bearing evidence is q_stream_quality's own
    // oracle; here assert agreement: every quality-passing unique-text
    // odd doc must survive (nothing over-dropped either)
    val uniqOddPassing = Tables.documents(spark, dir)
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("text")))
      .where(col("cnt") === 1 && col("doc_id") % 2 === 1)
      .collect().map(_.getAs[Long]("doc_id")).filter(quality(_)).toSet
    assert(kept === uniqOddPassing)
  }

  test("q_stream_token_meter sums reconcile with the batch corpus totals") {
    val out = StreamQueries.defs("q_stream_token_meter")(spark, dir).collect()
    assert(out.nonEmpty)
    val nDocs = out.map(_.getLong(2)).sum
    val nChars = out.map(_.getLong(4)).sum
    val batch = Tables.documents(spark, dir)
      .agg(count(lit(1)), sum(length(col("text")).cast("long"))).head()
    assert(nDocs === batch.getLong(0))
    assert(nChars === batch.getLong(1))
  }
}
