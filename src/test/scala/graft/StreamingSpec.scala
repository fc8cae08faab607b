package graft

import graft.streaming.StreamingDetectors
import graft.streaming.StreamingDetectors.Point
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite with SparkSuite {

  private def ts(hour: Int) = new Timestamp(1704067200000L + hour * 3600000L)

  test("streaming windowed resample emits per-window sums") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Point]
    val q = StreamingDetectors.windowedResample(mem.toDF(), every = "1 hour")
      .writeStream.format("memory").queryName("resampled").outputMode("append").start()
    mem.addData(
      Point("click", ts(0), 1.0), Point("click", ts(0), 2.0),
      Point("click", ts(1), 5.0),
      Point("click", ts(10), 1.0)) // advances watermark past hours 0-1
    q.processAllAvailable()
    val rows = spark.sql("select * from resampled where ts < timestamp'2024-01-01 02:00:00' order by ts").collect()
    assert(rows.length === 2, rows.mkString(";"))
    assert(rows(0).getAs[Double]("value") === 3.0 && rows(0).getAs[Long]("n") === 2)
    assert(rows(1).getAs[Double]("value") === 5.0)
    q.stop()
  }

  test("streaming z-score flags points far from the static baseline") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val baseline = Seq(("click", 10.0, 2.0)).toDF("event_type", "mu", "sigma")
    val mem = MemoryStream[Point]
    val q = StreamingDetectors.zscoreAgainstBaseline(mem.toDF(), baseline, z = 3.0)
      .writeStream.format("memory").queryName("anoms").outputMode("append").start()
    mem.addData(Point("click", ts(0), 11.0), Point("click", ts(1), 40.0), Point("click", ts(2), 9.5))
    q.processAllAvailable()
    val rows = spark.sql("select value from anoms").collect().map(_.getDouble(0))
    assert(rows.toSeq === Seq(40.0))
    q.stop()
  }

  test("streaming exact dedup keeps one row per fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[StreamingDetectors.Doc]
    val q = StreamingDetectors.dedupExact(mem.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    mem.addData(
      StreamingDetectors.Doc(1L, ts(0), "hello world"),
      StreamingDetectors.Doc(2L, ts(0), "hello world"),
      StreamingDetectors.Doc(3L, ts(1), "something else"))
    q.processAllAvailable()
    val texts = spark.sql("select text from dedup").collect().map(_.getString(0)).sorted
    assert(texts.toSeq === Seq("hello world", "something else"))
    q.stop()
  }

  test("streaming near-dedup flags band collisions against the corpus store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "completely different corpus content with unrelated vocabulary throughout entirely")
    ).toDF("doc_id", "text")
    val store = graft.dedup.Dedup.bandStore(corpus, numPerms = 64, bands = 16)
    val mem = MemoryStream[StreamingDetectors.Doc]
    val q = StreamingDetectors.nearDedupAgainstStore(mem.toDF(), store)
      .writeStream.format("memory").queryName("neardedup").outputMode("append").start()
    mem.addData(
      // byte-identical to corpus doc 100: identical shingle set -> every band collides
      StreamingDetectors.Doc(1L, ts(0), "the quick brown fox jumps over the lazy dog again and again today"),
      // vocabulary disjoint from the corpus: no shingle overlap, no collisions
      StreamingDetectors.Doc(2L, ts(0), "zebra xylophone quartz vortex jigsaw plumber keynote stadium"))
    q.processAllAvailable()
    val hits = spark.sql("select doc_id, corpus_id, band from neardedup").collect()
    assert(hits.forall(_.getLong(0) == 1L), s"disjoint doc collided: ${hits.mkString(";")}")
    assert(hits.forall(_.getLong(1) == 100L))
    assert(hits.map(_.getInt(2)).distinct.length === 16, s"expected all 16 bands, got ${hits.length}")
    q.stop()
  }

  test("streaming bloom gate: true dups always flagged, fresh docs mostly pass map-side") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq.tabulate(200)(i => s"corpus document number $i with some shared words")
      .toDF("text").select(md5(col("text")).as("fp"))
    val bloom = StreamingDetectors.corpusBloom(corpus, expectedItems = 1000L, numBits = 8192L)
    val mem = MemoryStream[StreamingDetectors.Doc]
    val q = StreamingDetectors.bloomGate(mem.toDF(), bloom)
      .writeStream.format("memory").queryName("bloomgate").outputMode("append").start()
    mem.addData(
      // byte-identical to corpus doc 7 -> MUST be flagged (no false negatives)
      StreamingDetectors.Doc(1L, ts(0), "corpus document number 7 with some shared words"),
      StreamingDetectors.Doc(2L, ts(0), "corpus document number 42 with some shared words"),
      StreamingDetectors.Doc(3L, ts(0), "entirely novel text never seen in the corpus at all"))
    q.processAllAvailable()
    val rows = spark.sql("select doc_id, maybe_dup from bloomgate").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rows(1L) && rows(2L), "true duplicates must probe positive")
    // doc 3 is bloom-negative with overwhelming probability at this sizing;
    // a positive would only mean an unlucky false positive, so don't assert
    assert(rows.size === 3)
    q.stop()
  }

  test("streaming bloom gate: empty corpus probes constant-false, not NULL") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emptyBloom = StreamingDetectors.corpusBloom(
      Seq.empty[String].toDF("fp"), expectedItems = 100L, numBits = 1024L)
    assert(emptyBloom == null, "bloom_filter_agg over zero rows should be NULL")
    val mem = MemoryStream[StreamingDetectors.Doc]
    val q = StreamingDetectors.bloomGate(mem.toDF(), emptyBloom)
      .writeStream.format("memory").queryName("bloomempty").outputMode("append").start()
    mem.addData(StreamingDetectors.Doc(1L, ts(0), "first ever document"))
    q.processAllAvailable()
    val rows = spark.sql("select maybe_dup from bloomempty").collect()
    assert(rows.length === 1 && !rows.head.getBoolean(0),
      "empty-corpus gate must emit false (doc routes to the fresh path), never NULL")
    q.stop()
  }

  test("streaming quality gate routes docs with the first failing rule") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[StreamingDetectors.Doc]
    val q = StreamingDetectors.qualityGate(mem.toDF())
      .writeStream.format("memory").queryName("gate").outputMode("append").start()
    mem.addData(
      StreamingDetectors.Doc(1L, ts(0), "the quick brown fox jumps over the lazy dog and runs far away home"),
      StreamingDetectors.Doc(2L, ts(0), "too short"),
      StreamingDetectors.Doc(3L, ts(0), "spam spam spam spam spam spam spam spam spam spam spam spam"))
    q.processAllAvailable()
    val rows = spark.sql("select doc_id, keep, fail_reason from gate order by doc_id").collect()
    assert(rows(0).getBoolean(1) === true)
    assert(rows(0).getString(2) === "ok")
    assert(rows(1).getString(2) === "too_short")
    assert(rows(2).getBoolean(1) === false)
    assert(rows(2).getString(2) === "repetitive")
    q.stop()
  }

  test("streaming token meter: per-(source, window) accounting matches the batch sums") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[StreamingDetectors.SourcedDoc]
    val q = StreamingDetectors.tokenMeter(mem.toDF(), every = "1 hour")
      .writeStream.format("memory").queryName("meter").outputMode("append").start()
    val docs = Seq(
      StreamingDetectors.SourcedDoc(1L, ts(0), "web", "one two three"),
      StreamingDetectors.SourcedDoc(2L, ts(0), "web", "four five"),
      StreamingDetectors.SourcedDoc(3L, ts(0), "books", "a b c d"),
      StreamingDetectors.SourcedDoc(4L, ts(1), "web", "six"))
    mem.addData(docs: _*)
    mem.addData(StreamingDetectors.SourcedDoc(9L, ts(10), "web", "late")) // advance watermark
    q.processAllAvailable()
    val rows = spark.sql(
      "select * from meter where ts < timestamp'2024-01-01 02:00:00' order by source, ts").collect()
    assert(rows.length === 3)
    // streamed sums must equal the batch aggregate over the same docs
    val batch = docs.toDF()
      .groupBy(col("source"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_docs"), sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .select(col("source"), col("window.start").as("ts"), col("n_docs"), col("n_tokens"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows.map(r => (r.getString(0), r.getTimestamp(1),
      r.getLong(2), r.getLong(3))).toSet === batch)
    q.stop()
  }

  test("streaming distinct meter: closed-window HLL estimates equal the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[StreamingDetectors.UserEvent]
    val q = StreamingDetectors.distinctMeter(mem.toDF(), every = "1 hour")
      .writeStream.format("memory").queryName("dmeter").outputMode("append").start()
    // 120 events from 40 distinct users in hour 0, split across batches so
    // the state-store serialize/merge path of the sketch buffer runs
    val evs = (0 until 120).map(i =>
      StreamingDetectors.UserEvent("click", ts(0), (i % 40).toLong))
    mem.addData(evs.take(50): _*)
    mem.addData(evs.drop(50): _*)
    mem.addData(StreamingDetectors.UserEvent("click", ts(10), 999L)) // close hour 0
    q.processAllAvailable()
    val rows = spark.sql(
      "select * from dmeter where ts < timestamp'2024-01-01 01:00:00'").collect()
    assert(rows.length === 1, rows.mkString(";"))
    assert(rows.head.getAs[Long]("n_events") === 120L)
    val batch = evs.toDF()
      .agg(round(graft.expressions.hll_sketch(
        graft.text.TextFunctions.hash60(col("user_id").cast("string"))), 6))
      .head.getDouble(0)
    assert(rows.head.getAs[Double]("approx_users") === batch,
      "streamed closed-window estimate must equal the batch sketch exactly")
    // 40 distinct: HLL m=64 linear-counting regime is near-exact
    assert(math.abs(batch - 40.0) / 40.0 < 0.25, s"estimate $batch far from 40")
    q.stop()
  }

  test("streaming A/B monitor: closed-window z equals the batch sketch math, planted effect fires") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // deterministic arms: recover each user's md5-parity arm first, then
    // plant a purchase-rate difference ONLY in arm 1
    val armOf = spark.range(0, 200).toDF("user_id")
      .withColumn("arm",
        conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))), 1, 1), 16, 10)
          .cast("int") % 2)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("arm")).toMap
    val evs = (0L until 200L).flatMap { u =>
      val base = Seq(StreamingDetectors.UserEvent("view", ts(0), u))
      if (armOf(u) == 1 && u % 2 == 0) base :+ StreamingDetectors.UserEvent("purchase", ts(0), u)
      else base
    }
    val mem = MemoryStream[StreamingDetectors.UserEvent]
    val q = StreamingDetectors.abMonitor(mem.toDF(), every = "1 hour")
      .writeStream.format("memory").queryName("abmon").outputMode("append").start()
    mem.addData(evs.take(150): _*)
    mem.addData(evs.drop(150): _*)
    mem.addData(StreamingDetectors.UserEvent("view", ts(10), 9999L)) // close hour 0
    q.processAllAvailable()
    val rows = spark.sql("select * from abmon where ts < timestamp'2024-01-01 01:00:00'").collect()
    assert(rows.length === 1, rows.mkString(";"))
    val r = rows.head
    // ~50% of arm-1 users purchase vs 0% of arm 0: the monitor must fire
    assert(r.getAs[Int]("reject") === 1, s"z=${r.getAs[Double]("z")}")
    assert(r.getAs[Double]("p_a") < 0.1 && r.getAs[Double]("p_b") > 0.2)
    // the streamed closed-window estimates equal the batch sketch math
    val idh = graft.text.TextFunctions.hash60(col("user_id").cast("string"))
    val batch = evs.toDF()
      .withColumn("arm",
        conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))), 1, 1), 16, 10)
          .cast("int") % 2)
      .agg(
        round(graft.expressions.hll_sketch(when(col("arm") === 0, idh)), 6).as("n_a"),
        round(graft.expressions.hll_sketch(
          when(col("arm") === 1 && col("event_type") === "purchase", idh)), 6).as("s_b"))
      .head
    assert(r.getAs[Double]("n_a") === batch.getAs[Double]("n_a"))
    assert(r.getAs[Double]("s_b") === batch.getAs[Double]("s_b"))
    q.stop()
  }

  test("streaming PSI monitor: closed-window PSI equals the batch math, planted shift drifts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // baseline around 10; the streamed window is shifted to ~16 -> drift
    val rnd = new scala.util.Random(11)
    val baseline = (0 until 400).map(i =>
      Point("click", ts(-500 + i), 10.0 + rnd.nextGaussian() * 2)).toDF()
    val edges = graft.detectors.Drift.fitEdges(
      baseline.select(col("event_type"), col("value")), TSSchema(keys = Seq("event_type")))
    assert(edges.count() === 1)
    val es = edges.select("es").head.getSeq[Double](0)
    assert(es.length === 9 && es.zip(es.tail).forall { case (a, b) => a <= b })

    val cur = (0 until 120).map(i => Point("click", ts(0), 16.0 + rnd.nextGaussian() * 2))
    val mem = MemoryStream[Point]
    val q = StreamingDetectors.psiMonitor(mem.toDF(), edges, every = "1 hour")
      .writeStream.format("memory").queryName("psimon").outputMode("append").start()
    mem.addData(cur.take(60): _*)
    mem.addData(cur.drop(60): _*)
    mem.addData(Point("click", ts(10), 0.0)) // close hour 0
    q.processAllAvailable()
    val rows = spark.sql("select * from psimon where ts < timestamp'2024-01-01 01:00:00'").collect()
    assert(rows.length === 1, rows.mkString(";"))
    val r = rows.head
    assert(r.getAs[Long]("n") === 120L)
    assert(r.getAs[Int]("drift") === 1, s"psi=${r.getAs[Double]("psi")}")
    // batch replica of the same window through the same fold + share math
    val batchPsi = cur.toDF().join(edges, Seq("event_type"))
      .withColumn("bin", graft.detectors.Drift.binOf("value"))
      .groupBy("event_type")
      .agg((0 to 9).map(b => sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b")).head,
        (0 to 9).map(b => sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b")).tail :+ first(col("p")).as("p"): _*)
      .withColumn("n", (0 to 9).map(b => col(s"c$b")).reduce(_ + _))
      .withColumn("qs", array((0 to 9).map(b => (col(s"c$b") + 0.5) / (col("n").cast("double") + 5.0)): _*))
      .withColumn("psi", round(expr(
        "aggregate(zip_with(p, qs, (a, b) -> (a - b) * ln(a / b)), 0.0D, (acc, x) -> acc + x)"), 6))
      .select("psi").head.getDouble(0)
    assert(r.getAs[Double]("psi") === batchPsi,
      "streamed closed-window PSI must equal the batch computation exactly")
    q.stop()
  }

  test("streaming SPC rules: run-rule state survives microbatch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val baseline = Seq(("m", 10.0, 1.0)).toDF("event_type", "mu", "sigma")
    // 7 mildly-positive points then an 8th: rule 4 (8 same side) must fire
    // exactly at the 8th even though the run is split across batches;
    // a 14.0 point (z=4) fires rule 1 immediately
    val pts = (0 until 7).map(i => StreamingDetectors.Point("m", ts(i), 10.5)) ++
      Seq(StreamingDetectors.Point("m", ts(7), 10.5),
          StreamingDetectors.Point("m", ts(8), 14.0))
    val mem = MemoryStream[StreamingDetectors.Point]
    val q = StreamingDetectors.spcRules(mem.toDF(), baseline)
      .writeStream.format("memory").queryName("spcmon").outputMode("append").start()
    mem.addData(pts.take(5): _*)
    q.processAllAvailable()
    mem.addData(pts.drop(5): _*)
    q.processAllAvailable()
    val rows = spark.sql("select * from spcmon order by ts").collect()
    // the 8th same-side point fires r4; the 9th fires r1 (and keeps r4: 8
    // of the last 8 including z=4 are positive)
    assert(rows.length === 2, rows.mkString(";"))
    assert(rows(0).getAs[Int]("r4") === 1 && rows(0).getAs[Int]("r1") === 0)
    assert(rows(0).getAs[java.sql.Timestamp]("ts") === ts(7))
    assert(rows(1).getAs[Int]("r1") === 1)
    assert(math.abs(rows(1).getAs[Double]("z") - 4.0) < 1e-9)
    q.stop()
  }

  test("streaming ingest chain: quality gate -> exact dedup composes in one stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[StreamingDetectors.Doc]
    val chained = StreamingDetectors.dedupExact(
      StreamingDetectors.qualityGate(mem.toDF()).where(col("keep"))
        .select(col("doc_id"), col("ts"), col("text")))
    val q = chained.writeStream.format("memory").queryName("chain").outputMode("append").start()
    mem.addData(
      StreamingDetectors.Doc(1L, ts(0), "the quick brown fox jumps over the lazy dog and runs far away home"),
      StreamingDetectors.Doc(2L, ts(0), "the quick brown fox jumps over the lazy dog and runs far away home"), // dup of 1
      StreamingDetectors.Doc(3L, ts(0), "too short"), // gated out before dedup
      StreamingDetectors.Doc(4L, ts(0), "a completely different acceptable document with plenty of distinct words inside it"))
    q.processAllAvailable()
    val ids = spark.sql("select doc_id from chain order by doc_id").collect().map(_.getLong(0))
    assert(ids.length === 2, s"ids=${ids.toSeq}")
    assert(ids.contains(4L))
    assert(!ids.contains(3L), "gated doc leaked through")
    assert(ids.count(i => i == 1L || i == 2L) === 1, "dup survived")
    q.stop()
  }

  test("streaming PIT enrichment serves only CLOSED feature buckets, matching the batch as-of") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // static history: user 1 clicks at hours 0 and 2 (buckets close at
    // hours 1 and 3); user 2 has no clicks
    val static = Seq(
      (1L, "click", ts(0), 2.0), (1L, "click", ts(0), 3.0), (1L, "click", ts(2), 7.0),
      (2L, "view", ts(0), 1.0)
    ).toDF("user_id", "event_type", "ts", "value")
    val idx = StreamingDetectors.pitFeatureIndex(static, "click")
    val mem = MemoryStream[StreamingDetectors.UPoint]
    val q = StreamingDetectors.pitEnrich(mem.toDF(), idx)
      .writeStream.format("memory").queryName("pit").outputMode("append").start()
    mem.addData(
      StreamingDetectors.UPoint(1L, ts(0), 9.0),  // hour-0 bucket NOT closed yet -> null
      StreamingDetectors.UPoint(1L, ts(1), 9.0),  // hour-0 bucket closed: n=2, sum=5
      StreamingDetectors.UPoint(1L, ts(5), 9.0),  // hour-2 bucket closed: n=1, sum=7
      StreamingDetectors.UPoint(2L, ts(1), 9.0))  // no click history at all
    q.processAllAvailable()
    val rows = spark.sql("select user_id, ts, feat_n, feat_sum from pit order by user_id, ts").collect()
    assert(rows.length === 4)
    assert(rows(0).isNullAt(2), "same-bucket future leaked into the first event")
    assert(rows(1).getLong(2) === 2 && rows(1).getDouble(3) === 5.0)
    assert(rows(2).getLong(2) === 1 && rows(2).getDouble(3) === 7.0)
    assert(rows(3).isNullAt(2))
    q.stop()
  }

  test("streaming EWMA tracker flags a spike and tracks the level") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Point]
    val q = StreamingDetectors.ewmaTracker(mem.toDS(), alpha = 0.2, k = 0.5)
      .writeStream.format("memory").queryName("ewmas").outputMode("append").start()
    val pts = (0 until 20).map(i => Point("click", ts(i), if (i == 15) 100.0 else 10.0))
    mem.addData(pts: _*)
    q.processAllAvailable()
    // the spike is flagged; the points right after may flag too while the
    // inflated level decays back — but nothing BEFORE the spike may flag
    val flaggedTs = spark.sql("select ts from ewmas where flagged order by ts").collect()
      .map(_.getTimestamp(0))
    assert(flaggedTs.nonEmpty && flaggedTs.head === ts(15), s"flagged=${flaggedTs.toSeq}")
    val lastLevel = spark.sql("select ewma from ewmas order by ts desc limit 1").collect()(0).getDouble(0)
    assert(lastLevel > 10.0 && lastLevel < 25.0, s"level=$lastLevel")
    q.stop()
  }

  test("streaming CUSUM emits a changepoint after a level shift") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val mem = MemoryStream[Point]
    val q = StreamingDetectors.cusum(mem.toDS(), k = 3.0)
      .writeStream.format("memory").queryName("cps").outputMode("append").start()
    val pts = (0 until 60).map(i => Point("click", ts(i), (if (i < 30) 0.0 else 50.0) + rnd.nextGaussian()))
    mem.addData(pts: _*)
    q.processAllAvailable()
    val cps = spark.sql("select * from cps").as[StreamingDetectors.Changepoint].collect()
    assert(cps.nonEmpty, "expected at least one changepoint")
    val hour = (cps.head.ts.getTime - ts(0).getTime) / 3600000L
    assert(hour >= 30 && hour <= 43, s"changepoint at hour $hour")
    q.stop()
  }
}
