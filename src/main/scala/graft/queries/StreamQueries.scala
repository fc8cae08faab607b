package graft.queries

import graft._
import graft.streaming.StreamingDetectors
import graft.streaming.StreamingDetectors.{PhPoint, Point}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Batch-replay certification of the Structured-Streaming detectors.
  *
  * The 17 streaming operators are spec-proven equal to their batch twins
  * (StreamingSpec / StreamingReplaySpec), but the driver's DuckDB gate
  * never saw them: specs assert, oracles certify. Each query here runs
  * the REAL streaming operator — MemoryStream source, chronological
  * microbatch feed, memory sink — inside a batch query, so the final
  * emitted state lands in CORRECTNESS like any other operator and the
  * independent DuckDB replay certifies the streaming recurrence itself
  * (state handoff across microbatch boundaries included; five chunks
  * means four boundary crossings per series).
  *
  * The driver-side `collect` builds the FEED, not the result — it is the
  * test-harness stand-in for the Kafka/file source a deployment reads
  * (bounded by the test SF: ≤720 hourly rows per series, ≤50k events at
  * sf0.1). The operators themselves keep their production state bounds:
  * spcRules 8 floats/series, pageHinkley 33 B/series, psiMonitor 10
  * counters per open (series, window).
  *
  * Reference: kats/detectors/cusum_detection.py + stat_sig_detector.py
  * establish the batch semantics; the streaming forms are this repo's
  * scale path (SURVEY §2.11).
  */
object StreamQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private val H = Tables.hourlySql
  private val sinkId = new AtomicLong(0L)
  private def sink(base: String): String = s"gsq_${base}_${sinkId.incrementAndGet()}"

  // ── feed caps (VERDICT r9 #7) ────────────────────────────────────────
  // Every replay feed that streams RAW events/documents is bounded to the
  // cap-lowest md5-rank rows of its source relation, so the certification
  // harness' driver memory and gate cost stay FLAT at any driver SF (the
  // hourly-grid feeds are already SF-flat: ≤720 rows/series regardless of
  // corpus size). The selection is a deterministic uniform sample —
  // ORDER BY (md5(id), id) — and the IDENTICAL rank filter rides each
  // oracle's feed CTE, so the cap plumbing itself is hash-certified:
  // binding at sf0.1 (100k events → 50k, 5k docs → 2k), a no-op below.
  private[graft] val EventFeedCap = 50000
  private[graft] val DocFeedCap = 2000

  /** Deterministic md5-rank cap of a feed relation (generic for specs).
    *
    * `spread` re-partitions after the limit: GlobalLimit leaves the
    * capped rows in ONE partition, and SinglePartition satisfies every
    * downstream window/aggregate's ClusteredDistribution, so the whole
    * feed-prep chain runs in one task. r12 respread EVERY feed; the r13
    * controlled warm p50s show that only pays when the prep chain is
    * genuinely CPU-dense — q_stream_psi's rank windows + PSI edge fit
    * (8.7 s spread vs 10.5 s not) — while the other 12 replays' preps
    * are light and the extra exchange is pure tax (family geomean 1.12×
    * faster WITHOUT it; q_stream_pit 1.33×, q_stream_ingest 1.30×). So
    * the default is the plain capped feed and the heavy-prep caller
    * opts in. Repartition-by-NUM (never AQE-coalesced — the capped feed
    * is ~2 MB at any corpus size, so by-col would coalesce back to ~1
    * partition); hash-by-id is deterministic; the row SET is unchanged
    * either way, so results and the oracle CTE are untouched.
    */
  private[graft] def capFeed(df: DataFrame, id: String, cap: Int,
                             spread: Boolean = false): DataFrame = {
    val capped = df.orderBy(md5(col(id).cast("string")), col(id)).limit(cap)
    if (spread)
      capped.repartition(df.sparkSession.sparkContext.defaultParallelism, col(id))
    else capped
  }

  private def fEvents(s: SparkSession, dir: String,
                      spread: Boolean = false): DataFrame =
    capFeed(Tables.events(s, dir), "event_id", EventFeedCap, spread)
  private def fDocs(s: SparkSession, dir: String): DataFrame =
    capFeed(Tables.documents(s, dir), "doc_id", DocFeedCap)

  /** Oracle twins: CTEs `fev` / `fdoc` with the identical rank filter. */
  private val FevCte =
    s"fev AS (SELECT * FROM events QUALIFY row_number() OVER (ORDER BY md5(event_id::VARCHAR), event_id) <= $EventFeedCap)"
  private val FdocCte =
    s"fdoc AS (SELECT * FROM documents QUALIFY row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) <= $DocFeedCap)"

  /** Page-Hinkley thresholds as σ multiples — MUST track DriftQueries'
    * constants so the stream twin replays the batch recursion exactly. */
  private val PhDeltaSd = 0.005
  private val PhLambdaSd = 20.0

  private def chunks[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
    val size = math.max(1, math.ceil(xs.length / n.toDouble).toInt)
    xs.grouped(size).toSeq
  }

  /** Materialize a SMALL static store as a LocalRelation. A stream-static
    * join re-evaluates the static plan EVERY microbatch — for the fitted
    * baseline stores here (a few window functions over the full table)
    * that multiplied the fit cost by the batch count. Collecting the
    * #series-row result once makes the static side free per batch; a
    * production deployment reads the store from a materialized table and
    * gets the same property.
    */
  private def localize(s: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** Throwaway checkpoint for the replay queries. The replay certifies
    * the FINAL EMITTED STATE through the memory sink — its checkpoint is
    * never restarted from, so the per-microbatch offset/commit/state-delta
    * fsyncs it pays on a disk are pure harness latency. The root is the
    * session's checkpoint directory when one is set, so every write stays
    * inside the session's own directories; else tmpfs when the host has
    * one; else `java.io.tmpdir`. The directory is
    * made and removed through the Hadoop FileSystem, so a checkpoint
    * directory that is not local works too. A production deployment keeps
    * a durable checkpoint store (the restart spec exercises that path
    * explicitly with its own on-disk checkpoint).
    */
  private[graft] def throwawayCkpt(s: SparkSession): org.apache.hadoop.fs.Path = {
    val shm = new java.io.File("/dev/shm")
    val root = s.sparkContext.getCheckpointDir.getOrElse {
      val local = if (shm.isDirectory && shm.canWrite) shm else new java.io.File(System.getProperty("java.io.tmpdir"))
      local.toURI.toString
    }
    val dir = new org.apache.hadoop.fs.Path(root.stripSuffix("/") + "/graft_ckpt_" + java.util.UUID.randomUUID())
    dir.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(dir)
    dir
  }
  /** Start a memory-sink stream on a throwaway checkpoint; the caller
    * must stop the query, then [[dropCkpt]]. */
  private[queries] def startMem(out: DataFrame, name: String): (org.apache.spark.sql.streaming.StreamingQuery, org.apache.hadoop.fs.Path) = {
    val ck = throwawayCkpt(out.sparkSession)
    (out.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ck.toString).start(), ck)
  }
  private[graft] def dropCkpt(s: SparkSession, ck: org.apache.hadoop.fs.Path): Unit =
    ck.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ck, true)

  /** The replay-baseline split of q_stream_spc and q_stream_zscore: per
    * series, the first half of the hourly rows (rn ≤ nn div 2) fits the
    * served store (event_type, mu, sigma), and the second half is the
    * chronological feed. ONE grouped job on the window's partitioning
    * computes both — the store's avg/stddev_pop over `when(first half,
    * value)` (nulls are skipped, so the sums run in the same row order as
    * a filter-then-group would), and the feed as a `collect_list` of the
    * second half. The store is built straight from the collected rows (no
    * second collect through [[localize]]), and only series that have a
    * first half get one, as a filtered group-by would. The feed is sorted
    * on the driver by (ts, event_type) with Spark's ordering: nulls first,
    * strings by UTF-8 bytes.
    */
  private[graft] def baselineSplit(s: SparkSession, dir: String): (DataFrame, Seq[Point]) = {
    import scala.jdk.CollectionConverters._
    val w = Window.partitionBy("event_type").orderBy("ts")
    val wk = Window.partitionBy("event_type")
    val first = col("rn") <= expr("nn div 2")
    val split = Tables.hourlyEvents(s, dir).drop("n")
      .withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(wk))
      .groupBy("event_type")
      .agg(round(avg(when(first, col("value"))), 6).as("mu"),
        round(greatest(stddev_pop(when(first, col("value"))), lit(1e-6)), 6).as("sigma"),
        count(when(first, lit(1))).as("n_first"),
        collect_list(when(!first, struct(col("ts"), col("value")))).as("feed"))
    val rows = split.collect()
    val storeSchema = org.apache.spark.sql.types.StructType(split.schema.fields.take(3))
    val store = s.createDataFrame(
      rows.filter(_.getLong(3) > 0)
        .map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2))).toSeq.asJava,
      storeSchema)
    val feed = rows.toSeq.flatMap { r =>
      r.getSeq[org.apache.spark.sql.Row](4).map(p => Point(r.getString(0), p.getTimestamp(0), p.getDouble(1)))
    }.sorted(feedOrder)
    (store, feed)
  }
  private val feedOrder: Ordering[Point] = (a, b) => {
    val c = a.ts.compareTo(b.ts)
    if (c != 0) c
    else if (a.event_type == null) { if (b.event_type == null) 0 else -1 }
    else if (b.event_type == null) 1
    else org.apache.spark.unsafe.types.UTF8String.fromString(a.event_type)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.event_type))
  }

  /** Run a streaming query over a chunked feed and return the memory
    * sink's rows as a local relation. The sink's temp view is dropped, so
    * neither the view nor its buffered rows outlive the replay. Each
    * non-empty `tail` is one more microbatch after the feed: a
    * watermark-advancing sentinel, or late duplicates.
    *
    * The state store inherits spark.sql.shuffle.partitions at query
    * start; at replay feed sizes (≤100k rows) 32 state partitions × 6+
    * microbatches is pure per-task overhead, so the replay pins 4 for
    * the stream's lifetime (results are partitioning-invariant — the
    * replay specs prove microbatch/partition invariance) and restores
    * the session value after. A production deployment keeps the real
    * setting.
    */
  private def replay[T](s: SparkSession, mem: MemoryStream[T], out: DataFrame,
                        name: String, feed: Seq[T], tail: Seq[T]*): DataFrame = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val (q, ck) = startMem(out, name)
      try {
        (chunks(feed, 5) ++ tail.filter(_.nonEmpty)).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      } finally { q.stop(); dropCkpt(s, ck) }
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    try localize(s, s.table(name)) finally s.catalog.dropTempView(name)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Western Electric run rules as a stream: the q_spc_rules serve half
    // replayed through StreamingDetectors.spcRules against the batch-fit
    // baseline store. The keyed state is the trailing 8 z-scores; the
    // oracle is the batch operator's SQL verbatim — stream alarms must
    // equal the batch alarm rows exactly.
    "q_stream_spc" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val (mo, feed) = baselineSplit(s, dir)
      val mem = MemoryStream[Point]
      val t = replay(s, mem, StreamingDetectors.spcRules(mem.toDF(), mo).toDF(),
        sink("spc"), feed)
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("value"),
        round(col("z"), 6).as("z"), col("r1"), col("r2"), col("r3"), col("r4"))
    }),

    // Page-Hinkley drift monitor as a stream: per-series (δ, λ) trained
    // batch-side from the dense series' 4-dp-snapped moments (the store
    // shape a deployment broadcast-joins), the dense hourly rows replayed
    // chronologically; one alarm row per series at the FIRST λ crossing.
    // The oracle replays the identical recursion and keeps the gap AT the
    // crossing (not the batch twin's max_gap).
    // Streaming MOSUM level-shift monitor: hopping 24h/1h windows of the
    // PRESENT hourly rows vs a dense-grid (μ, σ, t0) store — gap hours
    // contribute nothing, so the streamed window sum equals the dense
    // batch math without materializing gap rows; only full-span windows
    // score. The oracle enumerates the identical hopping-window algebra
    // by exploding each row's 24 member windows.
    "q_stream_mosum" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val dense = Tables.denseHourly(s, dir)
      val store = dense.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"),
        min("ts").as("t0"))
        .withColumn("mu", expr("sv / n"))
        .withColumn("sd", expr("sqrt((svv - sv * sv / n) / (n - 1))"))
        .select("event_type", "mu", "sd", "t0")
      val feed = Tables.hourlyEvents(s, dir).drop("n")
        .select("event_type", "ts", "value").orderBy("ts", "event_type").collect()
        .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      val sentinel = Point("zz_watermark_sentinel",
        new java.sql.Timestamp(feed.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000), 0.0)
      val mem = MemoryStream[Point]
      val t = replay(s, mem,
        StreamingDetectors.mosum(mem.toDF(), localize(s, store)),
        sink("mosum"), feed, tail = Seq(sentinel))
      t.select(col("event_type"), unix_timestamp(col("ts_end")).as("ts_end_s"),
        round(col("ws"), 6).as("window_sum"), round(col("m"), 6).as("mosum"))
    }),

    "q_stream_page_hinkley" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val dense = Tables.denseHourly(s, dir)
      val th = dense.groupBy("event_type")
        .agg(round(sum("value"), 4).as("s1"),
          round(sum(col("value") * col("value")), 4).as("s2"),
          count(lit(1)).as("n"))
        .withColumn("sd", sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)))
        .select(col("event_type"), (col("sd") * PhDeltaSd).as("delta"),
          (col("sd") * PhLambdaSd).as("lambda"))
      val feed = dense.join(broadcast(th), "event_type")
        .select("event_type", "ts", "value", "delta", "lambda")
        .orderBy("ts", "event_type").collect()
        .map(r => PhPoint(r.getString(0), r.getTimestamp(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSeq
      val mem = MemoryStream[PhPoint]
      val t = replay(s, mem, StreamingDetectors.pageHinkley(mem.toDS()).toDF(),
        sink("ph"), feed)
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("n"),
        round(col("gap"), 6).as("gap"), round(col("lambda"), 6).as("lambda"))
    }),

    // PSI drift monitor as a stream: decile edges + baseline shares fit
    // on each series' first half of RAW events (Drift.fitEdges — the
    // persistable store), the second half replayed through psiMonitor in
    // 1-day tumbling windows. A far-future sentinel advances the
    // watermark so every real window closes; the sentinel's series is
    // absent from the store, so the stream-static join drops it.
    "q_stream_psi" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      val wk = Window.partitionBy("event_type")
      // spread = true: psi's feed prep (rank windows + PSI edge fit) is
      // the one replay prep heavy enough to need parallelism — see capFeed
      val ev = fEvents(s, dir, spread = true)
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
      val edges = graft.detectors.Drift.fitEdges(
        ev.where(col("rn") <= expr("nn div 2")).select("event_type", "ts", "value"), S)
      val cur = ev.where(col("rn") > expr("nn div 2"))
        .select("event_type", "ts", "value").orderBy("ts", "event_id").collect()
        .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      val sentinel = Point("zz_watermark_sentinel",
        new java.sql.Timestamp(cur.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000), 0.0)
      val mem = MemoryStream[Point]
      val t = replay(s, mem,
        StreamingDetectors.psiMonitor(mem.toDF(), localize(s, edges), every = "1 day"),
        sink("psi"), cur, tail = Seq(sentinel))
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
        col("n"), col("psi"), col("drift"))
    }),

    // Streaming windowed quantiles: raw events replayed through
    // quantileMeter — per-(event_type, hour) p50/p90/p99 from a 512-long
    // histogram-counter state against the batch-fit (lo, hi) range store
    // (the q_sketch_quantiles two-pass shape with pass 1 served from the
    // store). Exact integer bucket counts make the replay bit-exact; the
    // oracle recomputes every window's bucketed quantiles relationally.
    "q_stream_quantiles" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = fEvents(s, dir)
        .select("event_type", "ts", "value").orderBy("ts", "event_id").collect()
        .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      // the (lo, hi) range store is min/max PER SERIES of the same capped
      // feed — fold it from the already-collected rows instead of a second
      // full distributed pass over the feed relation (orderBy(md5)+limit
      // ran twice before; r13). Order-free min/max on identical doubles:
      // bit-identical store, and the localize() collect disappears too.
      val rng = feed.groupBy(_.event_type).map { case (k, ps) =>
        (k, ps.map(_.value).min, ps.map(_.value).max)
      }.toSeq.sortBy(_._1).toDF("event_type", "lo", "hi")
      val sentinel = Point("zz_watermark_sentinel",
        new java.sql.Timestamp(feed.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000), 0.0)
      val mem = MemoryStream[Point]
      val t = replay(s, mem,
        StreamingDetectors.quantileMeter(mem.toDF(), rng, buckets = 512),
        sink("quant"), feed, tail = Seq(sentinel))
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
        col("n"), col("p50_est"), col("p90_est"), col("p99_est"))
    }),

    // Adjusted-EWMA tracker as a stream: the hourly series replayed
    // through ewmaTracker (num/den recursion in 16 B of keyed state);
    // every point's level, deviation and flag is emitted, and the oracle
    // replays the IDENTICAL recursion in a recursive CTE — sequential
    // IEEE ops on both engines, so the compare is bit-exact, not
    // closed-form-approximate.
    "q_stream_ewma" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = Tables.hourlyEvents(s, dir).drop("n")
        .orderBy("ts", "event_type").collect()
        .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      val mem = MemoryStream[Point]
      val t = replay(s, mem,
        StreamingDetectors.ewmaTracker(mem.toDS(), alpha = 0.2, k = 0.5).toDF(),
        sink("ewma"), feed)
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("value"),
        round(col("ewma"), 6).as("ewma"), round(col("deviation"), 6).as("dev"),
        col("flagged").cast("int").as("flagged"))
    }),

    // Local-level Kalman filter as a stream: the hourly series replayed
    // through kalmanTracker (level/variance/SSE recursion in 32 B of
    // keyed state) — the streaming twin of q_kalman_level, emitting
    // every point's filtered level, posterior variance and scale-free
    // anomaly flag. The oracle replays the IDENTICAL recursion in a
    // recursive CTE; five feed chunks mean four state handoffs across
    // microbatch boundaries are inside the certified surface.
    "q_stream_kalman" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = Tables.hourlyEvents(s, dir).drop("n")
        .orderBy("ts", "event_type").collect()
        .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      val mem = MemoryStream[Point]
      val t = replay(s, mem,
        StreamingDetectors.kalmanTracker(mem.toDS()).toDF(),
        sink("kalman"), feed)
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("value"),
        round(col("level"), 6).as("level"), round(col("pvar"), 6).as("pvar"),
        col("flagged").cast("int").as("flagged"))
    }),

    // Ingest token meter as a stream: per-(source, hour) doc/token/byte
    // telemetry over the documents corpus with a deterministic synthetic
    // arrival clock (one doc per minute by doc_id — documents carry no
    // timestamp). Watermarked tumbling windows, map-side partial
    // aggregation; a sentinel closes the tail windows.
    "q_stream_token_meter" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val t0 = 1704067200L // 2024-01-01 UTC
      val feed = fDocs(s, dir).select("doc_id", "source", "text")
        .orderBy("doc_id").collect()
        .map(r => StreamingDetectors.SourcedDoc(r.getLong(0),
          new java.sql.Timestamp((t0 + r.getLong(0) * 60L) * 1000L),
          r.getString(1), r.getString(2))).toSeq
      val sentinel = StreamingDetectors.SourcedDoc(-1L,
        new java.sql.Timestamp((t0 + 400L * 24 * 3600) * 1000L), "zz_sentinel", "")
      val mem = MemoryStream[StreamingDetectors.SourcedDoc]
      val t = replay(s, mem, StreamingDetectors.tokenMeter(mem.toDF(), every = "1 hour"),
        sink("tok"), feed, tail = Seq(sentinel))
      t.where(col("source") =!= "zz_sentinel")
        .select(col("source"), unix_timestamp(col("ts")).as("ts_s"),
          col("n_docs"), col("n_tokens"), col("n_chars"))
    }),

    // Streaming heavy hitters: per-hour Misra–Gries candidate summaries
    // (256 keys of state per open window) over the token stream with the
    // q_stream_token_meter arrival clock, then the exact confirm pass
    // restricted to candidates — per-window tokens with share > 1%. The
    // MG guarantee (1/257 < 1/100) makes the final set deterministic
    // despite partition- and microbatch-dependent candidate slack, so
    // the DuckDB oracle is the exact per-hour GROUP BY the sketch
    // avoids: this certifies the MisraGriesAgg state-store path end to
    // end (serialize/merge across microbatches included).
    "q_stream_topk" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val t0 = 1704067200L // 2024-01-01 UTC
      val feed = fDocs(s, dir).select("doc_id", "source", "text")
        .orderBy("doc_id").collect()
        .map(r => StreamingDetectors.SourcedDoc(r.getLong(0),
          new java.sql.Timestamp((t0 + r.getLong(0) * 60L) * 1000L),
          r.getString(1), r.getString(2))).toSeq
      val sentinelTs = t0 + 400L * 24 * 3600
      val sentinel = StreamingDetectors.SourcedDoc(-1L,
        new java.sql.Timestamp(sentinelTs * 1000L), "zz_sentinel", "")
      val mem = MemoryStream[StreamingDetectors.SourcedDoc]
      val t = replay(s, mem,
        StreamingDetectors.topkMeter(mem.toDF(), capacity = 256, every = "1 hour"),
        sink("topk"), feed, tail = Seq(sentinel))
      val cands = t.where(unix_timestamp(col("ts")) < sentinelTs)
        .select(unix_timestamp(col("ts")).as("ts_s"), col("n_tokens"),
          explode(col("cands")).as("tok"))
      // exact confirm over the batch corpus with the identical clock
      val exact = fDocs(s, dir)
        .select((floor((lit(t0) + col("doc_id") * 60L) / 3600L) * 3600L).as("ts_s"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy("ts_s", "tok").agg(count(lit(1)).as("n_tok"))
      cands.join(exact, Seq("ts_s", "tok"))
        .where(col("n_tok") * 100L > col("n_tokens"))
        .select(col("ts_s"), col("tok"), col("n_tok"),
          round(col("n_tok").cast("double") / col("n_tokens").cast("double"), 6).as("share"))
    }),

    // Exact dedup as a stream: unique-text originals arrive first in
    // doc_id order, then TWO later microbatches of injected duplicates
    // (+1e6: every 7th text; +2e6: every 14th) — the stream must drop
    // every injected row against fingerprint state written batches
    // earlier. The handful of duplicate texts already in the corpus at
    // sf0.1 are excluded from the feed: two same-text rows in one
    // microbatch would make "which id survives" an intra-batch ordering
    // artifact, and the certification wants a deterministic keep set.
    "q_stream_dedup" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val t0 = 1704067200000L
      val uniq = fDocs(s, dir)
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("text")))
        .where(col("cnt") === 1).select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => StreamingDetectors.Doc(r.getLong(0),
          new java.sql.Timestamp(t0 + r.getLong(0)), r.getString(1))).toSeq
      val dupA = uniq.zipWithIndex.collect { case (d, i) if i % 7 == 0 =>
        d.copy(doc_id = d.doc_id + 1000000L) }
      val dupB = uniq.zipWithIndex.collect { case (d, i) if i % 14 == 0 =>
        d.copy(doc_id = d.doc_id + 2000000L) }
      val mem = MemoryStream[StreamingDetectors.Doc]
      replay(s, mem, StreamingDetectors.dedupExact(mem.toDF()), sink("dedup"), uniq, dupA, dupB)
        .select("doc_id")
    }),

    // Watermarked tumbling-window resample as a stream: every raw event
    // replayed, per-(series, hour) sum + count emitted once per closed
    // window — the first aggregation of every streaming pipeline,
    // certified against the plain batch GROUP BY.
    // OHLC bars as a stream: raw events through watermarked tumbling
    // windows with min_by/max_by open/close on the (ts, event_id) order —
    // bar building in flight (a NEW streaming shape: order-sensitive
    // aggregates inside a windowed agg, no keyed state function). The
    // oracle is the batch bar builder grouped on the same epoch-hour
    // windows; the sentinel closes the tail bars.
    "q_stream_ohlc" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = fEvents(s, dir).select("event_type", "ts", "event_id", "value")
        .orderBy("ts", "event_id").collect()
        .map(r => StreamingDetectors.BarPoint(r.getString(0), r.getTimestamp(1),
          r.getLong(2), r.getDouble(3))).toSeq
      val mem = MemoryStream[StreamingDetectors.BarPoint]
      val sentinel = Seq(StreamingDetectors.BarPoint(Sentinel,
        new java.sql.Timestamp(feed.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000), 0L, 0.0))
      val t = replay(s, mem, StreamingDetectors.ohlcBars(mem.toDF(), every = "1 hour"),
        sink("ohlc"), feed, tail = sentinel)
      t.where(col("event_type") =!= Sentinel)
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
          round(col("open"), 6).as("open"), round(col("close"), 6).as("close"),
          round(col("high"), 6).as("high"), round(col("low"), 6).as("low"),
          col("n_events"), round(col("v_sum"), 6).as("v_sum"))
    }),

    "q_stream_resample" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = rawPoints(s, dir)
      val mem = MemoryStream[Point]
      val t = replay(s, mem, StreamingDetectors.windowedResample(mem.toDF(), every = "1 hour"),
        sink("rs"), feed, tail = sentinelFor(feed))
      t.where(col("event_type") =!= Sentinel)
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
          round(col("value"), 6).as("value"), col("n"))
    }),

    // Stream-static z-score against a served baseline: per-series μ/σ fit
    // on the first half of the hourly series (the DetectorStore shape),
    // the second half replayed; only |z| > 3 rows emit. Stateless — the
    // certification is the broadcast-join serve path itself.
    "q_stream_zscore" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val (mo, feed) = baselineSplit(s, dir)
      val mem = MemoryStream[Point]
      val t = replay(s, mem,
        StreamingDetectors.zscoreAgainstBaseline(mem.toDF(), mo, z = 3.0),
        sink("z"), feed)
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
        col("value"), round(col("z"), 6).as("z"))
    }),

    // Native session windows as a stream: every user event replayed
    // through session_window(30 min); start/end/count/sum per session
    // certified against the gap-islands batch semantics (break at
    // gap >= 30 min — the same strict-overlap merge convention
    // session_window uses, shared with TS.sessionize).
    "q_stream_session" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = fEvents(s, dir).select("user_id", "ts", "value")
        .orderBy("ts", "event_id").collect()
        .map(r => StreamingDetectors.UPoint(r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      val sentinel = StreamingDetectors.UPoint(-1L,
        new java.sql.Timestamp(feed.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000), 0.0)
      val mem = MemoryStream[StreamingDetectors.UPoint]
      val t = replay(s, mem, StreamingDetectors.sessionWindows(mem.toDF()),
        sink("sess"), feed, tail = Seq(sentinel))
      t.where(col("user_id") >= 0)
        .select(col("user_id"), unix_timestamp(col("start")).as("start_s"),
          unix_timestamp(col("end")).as("end_s"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))
    }),

    // Online CUSUM with restart-after-alarm as a stream: Welford moments
    // + cumulative deviation in keyed state, alarm at |cum| > σ√n past a
    // 10-point burn-in, state resets after each confirmed change. The
    // oracle replays the IDENTICAL recursion (reset branch included) in a
    // recursive CTE — every alarm row is certified, not just the first.
    "q_stream_cusum" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = Tables.hourlyEvents(s, dir).drop("n")
        .orderBy("ts", "event_type").collect()
        .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      val mem = MemoryStream[Point]
      val t = replay(s, mem, StreamingDetectors.cusum(mem.toDS(), k = 1.0).toDF(),
        sink("cusum"), feed)
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("n"),
        round(col("cum"), 6).as("cum"), round(col("zscore"), 6).as("zscore"))
    }),

    // Error-budget burn monitor as a stream: ONE 6h/1h sliding-window
    // aggregation over every raw event (each event lands in six open
    // windows, two counters each); per closed window the 6h error share,
    // burn rate vs the 20% SLO and the 1.5× alert.
    "q_stream_burn" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = rawPoints(s, dir)
      val maxS = feed.map(_.ts.getTime).max / 1000L
      val mem = MemoryStream[Point]
      val t = replay(s, mem, StreamingDetectors.burnMonitor(mem.toDF()),
        sink("burn"), feed, tail = sentinelFor(feed))
      t.select(unix_timestamp(col("ts_hour_end")).as("ts_s"), col("n_err"), col("n_tot"),
          col("share_6h"), col("burn_6h"), col("alert"))
        .where(col("ts_s") <= (maxS / 3600 + 6) * 3600)
    }),

    // Ingest quality gate as a stream: the stateless Gopher-style cascade
    // (length / token-length / alpha-ratio / duplicated-bigram checks)
    // over every incoming doc — per-row codegen'd column math, zero
    // state; the oracle recomputes every signal and the first-failing
    // rule in plain SQL.
    "q_stream_quality" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val t0 = 1704067200L
      val feed = fDocs(s, dir).select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => StreamingDetectors.Doc(r.getLong(0),
          new java.sql.Timestamp((t0 + r.getLong(0)) * 1000L), r.getString(1))).toSeq
      val mem = MemoryStream[StreamingDetectors.Doc]
      val t = replay(s, mem, StreamingDetectors.qualityGate(mem.toDF()),
        sink("qg"), feed)
      t.select(col("doc_id"), unix_timestamp(col("ts")).as("ts_s"), col("n_words"),
        col("mean_token_len"), col("alpha_ratio"), col("dup2_frac"),
        col("keep").cast("int").as("keep"), col("fail_reason"))
    }),

    // Live classifier-calibration monitor as a stream: every arriving
    // doc scored with the trained five-double q_quality_logreg model,
    // per hourly window the ECE bin counters (≤10 counters of state per
    // open window, scaled-integer p-sums order-free across state-store
    // merges), ECE derived per closed window. The oracle refits the
    // identical IRLS chain and recomputes every window's bins — the
    // DuckDB gate certifies the streamed ECE end to end.
    "q_stream_calibration" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val t0 = 1704067200L
      val b = SelectQueries.logregBeta(s, SelectQueries.logregFeats(s, dir)).head()
      val docs = fDocs(s, dir).select("doc_id", "lang", "text")
        .orderBy("doc_id").collect()
      val feed = docs.map(r => StreamingDetectors.LangDoc(r.getLong(0),
        new java.sql.Timestamp((t0 + r.getLong(0) * 60) * 1000L),
        r.getString(1), r.getString(2))).toSeq
      val sentinel = StreamingDetectors.LangDoc(-1L,
        new java.sql.Timestamp((t0 + feed.map(_.doc_id).max * 60 + 365L * 24 * 3600) * 1000L),
        "xx", "sentinel")
      val mem = MemoryStream[StreamingDetectors.LangDoc]
      val t = replay(s, mem,
        StreamingDetectors.calibMonitor(mem.toDF(), b.getDouble(0), b.getDouble(1),
          b.getDouble(2), b.getDouble(3), b.getDouble(4), SelectQueries.EnStop),
        sink("calib"), feed, tail = Seq(sentinel))
      val wW = Window.partitionBy("win")
      t.withColumn("mean_pred", col("sum_p6").cast("double") / (col("n_docs") * lit(1e6)))
        .withColumn("obs", col("n_pos").cast("double") / col("n_docs").cast("double"))
        .withColumn("gap", abs(col("obs") - col("mean_pred")))
        .withColumn("nn", sum("n_docs").over(wW))
        .withColumn("ece6", sum(round(col("n_docs") * col("gap") * 1e6).cast("long")).over(wW))
        .select(unix_timestamp(col("win")).as("win_s"), col("bin"),
          col("n_docs"), col("n_pos"),
          round(col("mean_pred"), 6).as("mean_pred"), round(col("obs"), 6).as("obs_rate"),
          round(col("gap"), 6).as("gap"),
          round(col("ece6").cast("double") / (col("nn").cast("double") * 1e6), 6).as("ece"))
    }),

    // Point-in-time enrichment as a stream: the per-user CLOSED-bucket
    // click-feature index (pitFeatureIndex — the serving-store shape)
    // broadcast-joins every arriving event statelessly; each event picks
    // up the latest bucket with avail ≤ event time. The oracle is a
    // DuckDB ASOF join — the leakage guarantee (same-bucket futures
    // invisible) is exactly what the avail-stamp comparison certifies.
    "q_stream_pit" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val ev = fEvents(s, dir)
      val idx = StreamingDetectors.pitFeatureIndex(ev, eventType = "click")
      val feed = ev.select("user_id", "ts", "value").orderBy("ts", "event_id").collect()
        .map(r => StreamingDetectors.UPoint(r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      val mem = MemoryStream[StreamingDetectors.UPoint]
      val t = replay(s, mem, StreamingDetectors.pitEnrich(mem.toDF(), localize(s, idx)),
        sink("pit"), feed)
      t.select(col("user_id"), unix_timestamp(col("ts")).as("ts_s"), col("value"),
        col("feat_avail_s"), col("feat_n"), round(col("feat_sum"), 6).as("feat_sum"))
    }),

    // A/B experiment monitor as a stream: per hourly window, each arm's
    // active / purchasing user counts as HyperLogLog estimates (4×64 B of
    // window state), binomial-approximation proportion z, one-sided 95%
    // rejection. The oracle replays all four HLL register sets per window
    // bit-exactly and re-derives the z chain; md5-parity arms shared with
    // q_ab_test.
    "q_stream_ab" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = fEvents(s, dir).select("event_type", "ts", "user_id")
        .orderBy("ts", "event_id").collect()
        .map(r => StreamingDetectors.UserEvent(r.getString(0), r.getTimestamp(1), r.getLong(2))).toSeq
      val maxS = feed.map(_.ts.getTime).max / 1000L
      val sentinel = StreamingDetectors.UserEvent(Sentinel,
        new java.sql.Timestamp(feed.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000), -1L)
      val mem = MemoryStream[StreamingDetectors.UserEvent]
      val t = replay(s, mem, StreamingDetectors.abMonitor(mem.toDF(), every = "1 hour"),
        sink("ab"), feed, tail = Seq(sentinel))
      t.select(unix_timestamp(col("ts")).as("ts_s"), col("n_a"), col("s_a"),
          col("n_b"), col("s_b"), col("p_a"), col("p_b"), col("z"), col("reject"))
        .where(col("ts_s") <= (maxS / 3600) * 3600)
    }),

    // The composed streaming ingest pipeline — qualityGate → corpus
    // bloom probe → exact dedup — run as ONE streaming query (the
    // q_ingest_e2e streaming twin): every arriving doc passes the
    // stateless quality cascade, probes the corpus bloom map-side, and
    // the survivors dedup against fingerprint state. Certifies the
    // COMPOSITION: a doc emerges iff it clears quality AND is not a
    // corpus duplicate AND is first-of-its-text in the stream. The
    // corpus is the even-id docs; the feed is unique-text odd-id docs
    // plus later-arriving injected copies of both corpus docs (must die
    // at the bloom+confirm... here at the fp state) and earlier stream
    // docs (must die at the dedup state).
    "q_stream_ingest" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val t0 = 1704067200000L
      val d = fDocs(s, dir).select("doc_id", "text")
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("text")))
        .where(col("cnt") === 1).drop("cnt")
      val corpus = d.where(col("doc_id") % 2 === 0)
      val corpusFps = localize(s, corpus.select(md5(col("text")).as("fp")))
      val bits = StreamingDetectors.corpusBloom(corpusFps, expectedItems = 10000L, numBits = 65536L)
      val odd = d.where(col("doc_id") % 2 === 1)
      val feed = odd
        .orderBy("doc_id").collect()
        .map(r => StreamingDetectors.Doc(r.getLong(0),
          new java.sql.Timestamp(t0 + r.getLong(0)), r.getString(1))).toSeq
      // late duplicates: copies of corpus docs (+1e6) and of already-
      // streamed odd docs (+2e6) — neither may survive
      // orderBy: deterministic feed order regardless of partitioning (the
      // rows are all corpus duplicates and never survive, but in-batch
      // arrival order should not depend on hash partitioning — ADVICE r12)
      val dupC = corpus.where(col("doc_id") % 20 === 0).orderBy("doc_id").collect()
        .map(r => StreamingDetectors.Doc(r.getLong(0) + 1000000L,
          new java.sql.Timestamp(t0 + 1000000L + r.getLong(0)), r.getString(1))).toSeq
      val dupS = feed.zipWithIndex.collect { case (doc, i) if i % 10 == 0 =>
        doc.copy(doc_id = doc.doc_id + 2000000L,
          ts = new java.sql.Timestamp(doc.ts.getTime + 2000000L)) }
      val mem = MemoryStream[StreamingDetectors.Doc]
      val gated = StreamingDetectors.qualityGate(mem.toDF())
        .where(col("keep"))
        .select(col("doc_id"), col("ts"), col("text"))
      val probed = StreamingDetectors.bloomGate(gated, bits)
      // bloom-positive docs join the corpus fp store (inner = confirmed
      // duplicate, dropped); bloom-negative pass straight through; then
      // exact in-stream dedup over the survivors
      val survivors = probed
        .join(corpusFps.withColumn("in_corpus", lit(1)), Seq("fp"), "left")
        .where(!col("maybe_dup") || col("in_corpus").isNull)
        .select("doc_id", "ts", "text")
      val deduped = StreamingDetectors.dedupExact(survivors)
      replay(s, mem, deduped.select("doc_id"), sink("ingest"), feed, dupC, dupS)
    }),

    // Bloom-gated exact dedup as a stream: the corpus fingerprint bloom
    // (even-id docs) probes every incoming doc MAP-SIDE; only
    // bloom-positive docs reach the exact confirm join, whose inner
    // semantics squeeze the false positives back out — so the emitted
    // (doc, corpus) duplicate set is EXACT and deterministic with the
    // bloom genuinely load-bearing in the path (a false negative would
    // drop a row and fail the oracle).
    "q_stream_bloom" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val t0 = 1704067200000L
      val d = fDocs(s, dir).select("doc_id", "text")
      val store = localize(s, d.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("corpus_id"), md5(col("text")).as("fp")))
      val bits = StreamingDetectors.corpusBloom(store, expectedItems = 10000L, numBits = 65536L)
      val feed = d.where(col("doc_id") % 2 === 1)
        .unionAll(d.where(col("doc_id") % 2 === 0 && col("doc_id") % 20 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .orderBy("doc_id").collect()
        .map(r => StreamingDetectors.Doc(r.getLong(0),
          new java.sql.Timestamp(t0 + r.getLong(0)), r.getString(1))).toSeq
      val mem = MemoryStream[StreamingDetectors.Doc]
      val out = StreamingDetectors.bloomGate(mem.toDF(), bits)
        .where(col("maybe_dup"))
        .join(store, "fp")
        .select(col("doc_id"), col("corpus_id"))
      val t = replay(s, mem, out, sink("bloom"), feed)
      t.select("doc_id", "corpus_id")
    }),

    // Bayesian Online Changepoint Detection as a stream: the dense hourly
    // series replayed through the keyed run-length posterior with priors
    // served as a trained per-series table (the DetectorStore shape);
    // emission follows the batch lag-10 convention, so the stream output
    // equals the batch kernel element-for-element on the confirmable
    // prefix. maxRun is raised above the series length so the Adams-
    // MacKay pruning never fires and the recurrence stays EXACT — the
    // oracle is the full list-recursion replay (bocpdProbsSql) cut to
    // the confirmed points.
    "q_stream_bocpd" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = Tables.denseHourly(s, dir)
        .orderBy("ts", "event_type").collect()
        .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
      val priorsDf = feed.groupBy(_.event_type).toSeq.map { case (k, pts) =>
        val p = graft.detectors.Bocpd.priorsOf(pts.sortBy(_.ts.getTime).map(_.value).toArray)
        (k, p.mu0, p.v0, p.sigma2)
      }.toDF("event_type", "mu0", "v0", "sigma2")
      val mem = MemoryStream[Point]
      val t = replay(s, mem,
        StreamingDetectors.bocpd(mem.toDS(), priorsDf, lagN = 10, maxRun = 2048).toDF(),
        sink("bocpd"), feed)
      t.select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
        round(col("change_prob"), 6).as("cp_prob"))
    }),

    // Near-dedup against a corpus band store as a stream: even-id docs
    // form the corpus (Dedup.bandStore — the persistable band-key table),
    // odd-id docs plus injected exact copies of every 10th corpus doc
    // (+1e6 ids) stream through the MinHash band join. Injected copies
    // must collide in ALL 16 bands with their originals; the oracle
    // replays the identical md5-derived signatures and band keys.
    "q_stream_neardedup" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val t0 = 1704067200000L
      val d = fDocs(s, dir).select("doc_id", "text")
      val corpus = d.where(col("doc_id") % 2 === 0)
      val store = graft.dedup.Dedup.bandStore(corpus)
      val feed = d.where(col("doc_id") % 2 === 1)
        .unionAll(corpus.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .orderBy("doc_id").collect()
        .map(r => StreamingDetectors.Doc(r.getLong(0),
          new java.sql.Timestamp(t0 + r.getLong(0)), r.getString(1))).toSeq
      val mem = MemoryStream[StreamingDetectors.Doc]
      val t = replay(s, mem, StreamingDetectors.nearDedupAgainstStore(mem.toDF(), localize(s, store)),
        sink("nd"), feed)
      t.select(col("doc_id"), col("corpus_id"), col("band"))
    }),

    // Distinct-user meter as a stream: per-(series, hour) HyperLogLog
    // user estimates — 64 B of sketch state per open window where exact
    // streaming distinct would hold every id. The oracle replays the
    // HLL register math bit-exactly (the q_sketch_distinct discipline)
    // per window.
    "q_stream_distinct" -> ((s, dir) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val feed = fEvents(s, dir).select("event_type", "ts", "user_id")
        .orderBy("ts", "event_id").collect()
        .map(r => StreamingDetectors.UserEvent(r.getString(0), r.getTimestamp(1), r.getLong(2))).toSeq
      val sentinel = StreamingDetectors.UserEvent(Sentinel,
        new java.sql.Timestamp(feed.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000), -1L)
      val mem = MemoryStream[StreamingDetectors.UserEvent]
      val t = replay(s, mem, StreamingDetectors.distinctMeter(mem.toDF(), every = "1 hour"),
        sink("dm"), feed, tail = Seq(sentinel))
      t.where(col("event_type") =!= Sentinel)
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
          col("n_events"), col("approx_users"))
    })
  )

  private val Sentinel = "zz_watermark_sentinel"

  private def rawPoints(s: SparkSession, dir: String): Seq[Point] =
    fEvents(s, dir).select("event_type", "ts", "value")
      .orderBy("ts", "event_id").collect()
      .map(r => Point(r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq

  private def sentinelFor(feed: Seq[Point]): Seq[Point] =
    Seq(Point(Sentinel,
      new java.sql.Timestamp(feed.map(_.ts.getTime).max + 365L * 24 * 3600 * 1000), 0.0))

  val sql: Map[String, String] = Map(

    "q_stream_spc" ->
      s"""WITH hourly AS ($H),
         |base AS (SELECT event_type, ts, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM hourly),
         |mo AS (SELECT event_type, round(avg(value), 6) AS mu,
         |    round(greatest(stddev_pop(value), 1e-6), 6) AS sigma
         |  FROM base WHERE rn <= nn // 2 GROUP BY 1),
         |serve AS (SELECT b.event_type, b.ts, b.value, b.rn, (b.value - m.mu) / m.sigma AS z
         |  FROM base b JOIN mo m USING (event_type) WHERE b.rn > b.nn // 2),
         |r AS (SELECT *,
         |    CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END AS r1,
         |    CASE WHEN (sum(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 AND z > 2.0)
         |           OR (sum(CASE WHEN z < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 AND z < -2.0)
         |         THEN 1 ELSE 0 END AS r2,
         |    CASE WHEN (sum(CASE WHEN z > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 AND z > 1.0)
         |           OR (sum(CASE WHEN z < -1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 AND z < -1.0)
         |         THEN 1 ELSE 0 END AS r3,
         |    CASE WHEN sum(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) OVER w8 = 8
         |           OR sum(CASE WHEN z < 0.0 THEN 1 ELSE 0 END) OVER w8 = 8
         |         THEN 1 ELSE 0 END AS r4
         |  FROM serve
         |  WINDOW w3 AS (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         |         w5 AS (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |         w8 AS (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, round(z, 6) AS z, r1, r2, r3, r4
         |FROM r WHERE r1 + r2 + r3 + r4 > 0""".stripMargin,

    "q_stream_mosum" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv,
         |    min(ts) AS t0
         |  FROM dense GROUP BY 1),
         |store AS (SELECT event_type, sv / n AS mu,
         |    sqrt((svv - sv * sv / n) / (n - 1)) AS sd, t0 FROM mom),
         |wins AS (SELECT h.event_type, h.ts + INTERVAL 1 HOUR * k.k AS wend, h.value
         |  FROM hourly h CROSS JOIN (SELECT unnest(range(1, 25)) AS k) k),
         |ws AS (SELECT event_type, wend, sum(value) AS ws
         |       FROM wins GROUP BY 1, 2),
         |st AS (SELECT w.event_type, w.wend, w.ws,
         |    (w.ws - 24.0E0 * s.mu) / (s.sd * sqrt(24.0E0)) AS m
         |  FROM ws w JOIN store s USING (event_type)
         |  WHERE w.wend >= s.t0 + INTERVAL 24 HOUR)
         |SELECT event_type, epoch_us(wend) // 1000000 AS ts_end_s,
         |  round(ws, 6) AS window_sum, round(m, 6) AS mosum
         |FROM st WHERE abs(m) > 3.0""".stripMargin,

    "q_stream_page_hinkley" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, epoch(ts)::BIGINT AS ts, value,
         |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS n
         |        FROM dense),
         |mo AS (SELECT event_type, round(sum(value), 4) AS s1, round(sum(value * value), 4) AS s2,
         |          max(n) AS n
         |       FROM ord GROUP BY 1),
         |th AS (SELECT event_type,
         |         $PhDeltaSd * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS delta,
         |         $PhLambdaSd * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS lam
         |       FROM mo),
         |rec AS (
         |  SELECT o.event_type, 1 AS i, o.n, t.delta, t.lam,
         |    o.value AS mean,
         |    o.value - o.value - t.delta AS cum,
         |    least(o.value - o.value - t.delta, 0.0) AS mn,
         |    CASE WHEN (o.value - o.value - t.delta) - least(o.value - o.value - t.delta, 0.0) > t.lam
         |         THEN 1 ELSE -1 END AS alarm_n,
         |    CASE WHEN (o.value - o.value - t.delta) - least(o.value - o.value - t.delta, 0.0) > t.lam
         |         THEN o.ts ELSE -1 END AS alarm_ts,
         |    CASE WHEN (o.value - o.value - t.delta) - least(o.value - o.value - t.delta, 0.0) > t.lam
         |         THEN (o.value - o.value - t.delta) - least(o.value - o.value - t.delta, 0.0)
         |         ELSE 0.0 END AS alarm_gap
         |  FROM ord o JOIN th t ON o.event_type = t.event_type WHERE o.rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1, r.n, r.delta, r.lam,
         |    r.mean + (o.value - r.mean) / (r.i + 1),
         |    r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta),
         |    least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn),
         |    CASE WHEN r.alarm_n >= 0 THEN r.alarm_n
         |         WHEN (r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta))
         |              - least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn) > r.lam
         |         THEN r.i + 1 ELSE -1 END,
         |    CASE WHEN r.alarm_n >= 0 THEN r.alarm_ts
         |         WHEN (r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta))
         |              - least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn) > r.lam
         |         THEN o.ts ELSE -1 END,
         |    CASE WHEN r.alarm_n >= 0 THEN r.alarm_gap
         |         WHEN (r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta))
         |              - least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn) > r.lam
         |         THEN (r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta))
         |              - least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn)
         |         ELSE 0.0 END
         |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.i + 1
         |  WHERE r.i + 1 <= r.n)
         |SELECT event_type, alarm_ts AS ts_s, alarm_n::BIGINT AS n,
         |  round(alarm_gap, 6) AS gap, round(lam, 6) AS lambda
         |FROM rec WHERE i = n AND alarm_n >= 0""".stripMargin,

    "q_stream_psi" ->
      s"""WITH $FevCte,
        |ev AS (SELECT event_type, ts, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nn
        |  FROM fev),
        |bv AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
        |    count(*) OVER (PARTITION BY event_type) AS nb
        |  FROM ev WHERE rn <= nn // 2),
        |edges AS (SELECT event_type, k, min(value) AS edge
        |  FROM bv CROSS JOIN (SELECT unnest(range(1, 10)) AS k) ks
        |  WHERE vr = greatest((k * nb) // 10, 1) GROUP BY 1, 2),
        |bbin AS (SELECT b.event_type,
        |    sum(CASE WHEN b.value > e.edge THEN 1 ELSE 0 END) AS bin
        |  FROM ev b JOIN edges e USING (event_type)
        |  WHERE b.rn <= b.nn // 2 GROUP BY b.event_type, b.rn),
        |btot AS (SELECT event_type, count(*) AS n_base FROM bbin GROUP BY 1),
        |pp AS (SELECT t.event_type, g.bin,
        |    (coalesce(c.c, 0) + 0.5) / (CAST(t.n_base AS DOUBLE) + 5.0) AS p
        |  FROM btot t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g
        |    LEFT JOIN (SELECT event_type, bin, count(*) AS c FROM bbin GROUP BY 1, 2) c
        |      ON t.event_type = c.event_type AND g.bin = c.bin),
        |cbin AS (SELECT b.event_type, (epoch_us(b.ts)//1000000 // 86400) * 86400 AS ts_s,
        |    sum(CASE WHEN b.value > e.edge THEN 1 ELSE 0 END) AS bin
        |  FROM ev b JOIN edges e USING (event_type)
        |  WHERE b.rn > b.nn // 2 GROUP BY b.event_type, b.rn, 2),
        |ctot AS (SELECT event_type, ts_s, count(*) AS n FROM cbin GROUP BY 1, 2),
        |qq AS (SELECT t.event_type, t.ts_s, t.n, g.bin,
        |    (coalesce(c.c, 0) + 0.5) / (CAST(t.n AS DOUBLE) + 5.0) AS q
        |  FROM ctot t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g
        |    LEFT JOIN (SELECT event_type, ts_s, bin, count(*) AS c FROM cbin GROUP BY 1, 2, 3) c
        |      ON t.event_type = c.event_type AND t.ts_s = c.ts_s AND g.bin = c.bin)
        |SELECT qq.event_type, qq.ts_s, max(qq.n) AS n,
        |  round(sum((p - q) * ln(p / q)), 6) AS psi,
        |  CASE WHEN round(sum((p - q) * ln(p / q)), 6) > 0.2 THEN 1 ELSE 0 END AS drift
        |FROM qq JOIN pp ON qq.event_type = pp.event_type AND qq.bin = pp.bin
        |GROUP BY 1, 2""".stripMargin,

    "q_stream_ewma" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS n
         |        FROM hourly),
         |rec AS (
         |  SELECT event_type, 1 AS i, n, ts_s, value,
         |    value AS num, 1.0E0 AS den
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1, r.n, o.ts_s, o.value,
         |    r.num * 0.8E0 + o.value, r.den * 0.8E0 + 1.0E0
         |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.i + 1
         |  WHERE r.i + 1 <= r.n)
         |SELECT event_type, ts_s, value, round(num / den, 6) AS ewma,
         |  round(CASE WHEN num / den <> 0 THEN abs(value - num / den) / abs(num / den)
         |             ELSE 0.0E0 END, 6) AS dev,
         |  CASE WHEN i >= 6 AND (CASE WHEN num / den <> 0
         |         THEN abs(value - num / den) / abs(num / den) ELSE 0.0E0 END) > 0.5E0
         |       THEN 1 ELSE 0 END AS flagged
         |FROM rec""".stripMargin,

    "q_stream_kalman" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS n
         |        FROM hourly),
         |rec AS (
         |  SELECT event_type, 1 AS i, n, ts_s, value,
         |    value AS l, 10.0::DOUBLE AS p, 0.0::DOUBLE AS ss, 0 AS fl
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1, r.n, o.ts_s, o.value,
         |    r.l + ((r.p + 1.0) / ((r.p + 1.0) + 10.0)) * (o.value - r.l),
         |    (1 - (r.p + 1.0) / ((r.p + 1.0) + 10.0)) * (r.p + 1.0),
         |    r.ss + (o.value - r.l) * (o.value - r.l),
         |    CASE WHEN r.i >= 2 AND (o.value - r.l) * (o.value - r.l) > 9.0 * (r.ss / (r.i - 1))
         |         THEN 1 ELSE 0 END
         |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.i + 1
         |  WHERE r.i + 1 <= r.n)
         |SELECT event_type, ts_s, value, round(l, 6) AS level, round(p, 6) AS pvar, fl AS flagged
         |FROM rec""".stripMargin,

    "q_stream_token_meter" ->
      s"""WITH $FdocCte,
        |clocked AS (SELECT source, (1704067200 + doc_id * 60) AS es, text FROM fdoc)
        |SELECT source, (es // 3600) * 3600 AS ts_s, count(*) AS n_docs,
        |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
        |  sum(length(text))::BIGINT AS n_chars
        |FROM clocked GROUP BY 1, 2""".stripMargin,

    "q_stream_quantiles" ->
      s"""WITH $FevCte,
        |rng AS (SELECT event_type, min(value) AS lo, max(value) AS hi FROM fev GROUP BY 1),
        |bk AS (SELECT e.event_type,
        |         (epoch_us(e.ts) // 1000000 // 3600) * 3600 AS ts_s,
        |         CASE WHEN hi = lo THEN 0
        |              ELSE least(floor((e.value - lo) * 512.0 / (hi - lo)), 511.0::DOUBLE)::BIGINT
        |         END AS bucket
        |       FROM fev e JOIN rng USING (event_type)),
        |bc AS (SELECT event_type, ts_s, bucket, count(*)::BIGINT AS c FROM bk GROUP BY 1, 2, 3),
        |nn AS (SELECT event_type, ts_s, sum(c)::BIGINT AS n FROM bc GROUP BY 1, 2),
        |cm AS (SELECT event_type, ts_s, bucket,
        |         (sum(c) OVER (PARTITION BY event_type, ts_s ORDER BY bucket))::BIGINT AS cum
        |       FROM bc),
        |qb AS (SELECT c.event_type, c.ts_s, max(nn.n) AS n, max(r.lo) AS lo, max(r.hi) AS hi,
        |         min(CASE WHEN cum >= 0.5::DOUBLE * nn.n THEN bucket END) AS b50,
        |         min(CASE WHEN cum >= 0.9::DOUBLE * nn.n THEN bucket END) AS b90,
        |         min(CASE WHEN cum >= 0.99::DOUBLE * nn.n THEN bucket END) AS b99
        |       FROM cm c
        |       JOIN nn ON c.event_type = nn.event_type AND c.ts_s = nn.ts_s
        |       JOIN rng r ON c.event_type = r.event_type
        |       GROUP BY 1, 2)
        |SELECT event_type, ts_s, n,
        |  round(lo + (b50 + 0.5::DOUBLE) * ((hi - lo) / 512.0), 6) AS p50_est,
        |  round(lo + (b90 + 0.5::DOUBLE) * ((hi - lo) / 512.0), 6) AS p90_est,
        |  round(lo + (b99 + 0.5::DOUBLE) * ((hi - lo) / 512.0), 6) AS p99_est
        |FROM qb""".stripMargin,

    "q_stream_topk" ->
      s"""WITH $FdocCte,
        |tok AS (SELECT ((1704067200 + doc_id * 60) // 3600) * 3600 AS ts_s,
        |              unnest(string_split(text, ' ')) AS tok
        |            FROM fdoc),
        |w AS (SELECT ts_s, count(*)::BIGINT AS n_tokens FROM tok GROUP BY 1),
        |c AS (SELECT ts_s, tok, count(*)::BIGINT AS n_tok FROM tok GROUP BY 1, 2)
        |SELECT c.ts_s, c.tok, c.n_tok,
        |  round(c.n_tok::DOUBLE / w.n_tokens::DOUBLE, 6) AS share
        |FROM c JOIN w USING (ts_s)
        |WHERE c.n_tok * 100 > w.n_tokens""".stripMargin,

    "q_stream_dedup" ->
      s"""WITH $FdocCte
        |SELECT doc_id FROM fdoc
        |WHERE text IN (SELECT text FROM fdoc GROUP BY text HAVING count(*) = 1)""".stripMargin,

    "q_stream_ohlc" ->
      s"""WITH $FevCte,
        |r AS (SELECT event_type, (epoch_us(ts)//1000000 // 3600) * 3600 AS ts_s,
        |    value,
        |    row_number() OVER (PARTITION BY event_type, epoch_us(ts)//1000000 // 3600
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type, epoch_us(ts)//1000000 // 3600) AS cnt
        |  FROM fev)
        |SELECT event_type, ts_s,
        |  round(max(CASE WHEN rn = 1 THEN value END), 6) AS open,
        |  round(max(CASE WHEN rn = cnt THEN value END), 6) AS close,
        |  round(max(value), 6) AS high, round(min(value), 6) AS low,
        |  count(*)::BIGINT AS n_events, round(sum(value), 6) AS v_sum
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q_stream_resample" ->
      s"""WITH $FevCte
        |SELECT event_type, (epoch_us(ts)//1000000 // 3600) * 3600 AS ts_s,
        |  round(sum(value), 6) AS value, count(*) AS n
        |FROM fev GROUP BY 1, 2""".stripMargin,

    "q_stream_zscore" ->
      s"""WITH hourly AS ($H),
         |base AS (SELECT event_type, ts, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM hourly),
         |mo AS (SELECT event_type, round(avg(value), 6) AS mu,
         |    round(greatest(stddev_pop(value), 1e-6), 6) AS sigma
         |  FROM base WHERE rn <= nn // 2 GROUP BY 1)
         |SELECT b.event_type, epoch_us(b.ts)//1000000 AS ts_s, b.value,
         |  round((b.value - m.mu) / m.sigma, 6) AS z
         |FROM base b JOIN mo m USING (event_type)
         |WHERE b.rn > b.nn // 2 AND abs((b.value - m.mu) / m.sigma) > 3.0E0""".stripMargin,

    "q_stream_session" ->
      s"""WITH $FevCte,
        |o AS (SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM fev),
        |fl AS (SELECT user_id, ts, value,
        |    CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) >= 1800 * 1000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM o),
        |se AS (SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM fl)
        |SELECT user_id, epoch_us(min(ts))//1000000 AS start_s,
        |  epoch_us(max(ts) + INTERVAL 30 MINUTE)//1000000 AS end_s,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM se GROUP BY user_id, sess""".stripMargin,

    "q_stream_cusum" -> {
      // the streaming kernel's per-step expressions, replayed verbatim:
      // pre-state (sn, smean, sm2, scum) → Welford update → alarm test
      val NP = "(r.sn + 1)"
      val MEANP = s"(r.smean + (o.value - r.smean) / $NP)"
      val M2P = s"(r.sm2 + (o.value - r.smean) * (o.value - $MEANP))"
      val CUMP = s"(r.scum + (o.value - $MEANP))"
      val SIG = s"sqrt(CASE WHEN $NP > 1 THEN $M2P / ($NP - 1) ELSE 0.0E0 END)"
      val ALRM = s"($NP > 10 AND $SIG > 0 AND abs($CUMP) > $SIG * sqrt($NP::DOUBLE))"
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS n
         |        FROM hourly),
         |rec AS (
         |  SELECT event_type, 1 AS i, n, ts_s,
         |    1::BIGINT AS sn, value AS smean, 0.0E0 AS sm2, 0.0E0 AS scum,
         |    FALSE AS alarmed, 0::BIGINT AS a_n, 0.0E0 AS a_cum, 0.0E0 AS a_z
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1, r.n, o.ts_s,
         |    CASE WHEN $ALRM THEN 0::BIGINT ELSE $NP::BIGINT END,
         |    CASE WHEN $ALRM THEN 0.0E0 ELSE $MEANP END,
         |    CASE WHEN $ALRM THEN 0.0E0 ELSE $M2P END,
         |    CASE WHEN $ALRM THEN 0.0E0 ELSE $CUMP END,
         |    $ALRM,
         |    CASE WHEN $ALRM THEN $NP::BIGINT ELSE 0::BIGINT END,
         |    CASE WHEN $ALRM THEN $CUMP ELSE 0.0E0 END,
         |    CASE WHEN $ALRM THEN $CUMP / ($SIG * sqrt($NP::DOUBLE)) ELSE 0.0E0 END
         |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.i + 1
         |  WHERE r.i + 1 <= r.n)
         |SELECT event_type, ts_s, a_n AS n, round(a_cum, 6) AS cum, round(a_z, 6) AS zscore
         |FROM rec WHERE alarmed""".stripMargin
    },

    "q_stream_burn" ->
      s"""WITH $FevCte,
        |he AS (SELECT (epoch_us(ts)//1000000 // 3600) AS hh, event_type FROM fev),
        |wins AS (SELECT (hh + 1 + k) * 3600 AS ts_s, event_type
        |         FROM he CROSS JOIN (SELECT unnest(range(0, 6)) AS k) ks),
        |agg AS (SELECT ts_s,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_err,
        |    count(*) AS n_tot
        |  FROM wins GROUP BY 1)
        |SELECT ts_s, n_err, n_tot,
        |  round(n_err::DOUBLE / n_tot, 6) AS share_6h,
        |  round(n_err::DOUBLE / n_tot / 0.2E0, 6) AS burn_6h,
        |  CASE WHEN n_err::DOUBLE / n_tot / 0.2E0 > 1.5E0 THEN 1 ELSE 0 END AS alert
        |FROM agg""".stripMargin,

    "q_stream_calibration" ->
      s"""WITH RECURSIVE ${SelectQueries.LogregChainSql},
         |$FdocCte,
         |ds AS (SELECT f.doc_id, f.y, 1.0E0 / (1.0E0 + exp(-f.eta)) AS p
         |       FROM fs f JOIN fdoc USING (doc_id)),
         |wb AS (SELECT ((1704067200 + doc_id * 60) // 3600) * 3600 AS win_s,
         |    least(floor(p * 10), 9.0E0)::INT AS bin, y,
         |    round(p * 1e6)::BIGINT AS p6
         |  FROM ds),
         |bins AS (SELECT win_s, bin, count(*)::BIGINT AS n_docs,
         |    sum(y)::BIGINT AS n_pos, sum(p6)::BIGINT AS sum_p6
         |  FROM wb GROUP BY 1, 2),
         |gp AS (SELECT *, sum_p6::DOUBLE / (n_docs * 1e6) AS mean_pred,
         |    n_pos::DOUBLE / n_docs::DOUBLE AS obs FROM bins),
         |g2 AS (SELECT *, abs(obs - mean_pred) AS gap FROM gp),
         |wn AS (SELECT *, sum(n_docs) OVER (PARTITION BY win_s) AS nn,
         |    sum(round(n_docs * gap * 1e6)::BIGINT) OVER (PARTITION BY win_s) AS ece6
         |  FROM g2)
         |SELECT win_s, bin, n_docs, n_pos,
         |  round(mean_pred, 6) AS mean_pred, round(obs, 6) AS obs_rate,
         |  round(gap, 6) AS gap,
         |  round(ece6::DOUBLE / (nn::DOUBLE * 1e6), 6) AS ece
         |FROM wn""".stripMargin,

    "q_stream_quality" ->
      s"""WITH $FdocCte,
        |base AS (SELECT doc_id, 1704067200 + doc_id AS ts_s, text,
        |    string_split(text, ' ') AS ws FROM fdoc),
        |f AS (SELECT doc_id, ts_s,
        |    len(ws)::BIGINT AS n_words,
        |    length(replace(text, ' ', ''))::DOUBLE / len(ws) AS mtl,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) AS alpha,
        |    CASE WHEN len(ws) >= 2
        |         THEN 1.0E0 - len(list_distinct(list_transform(range(1, len(ws)),
        |                i -> ws[i] || ' ' || ws[i+1])))::DOUBLE / (len(ws) - 1)
        |         ELSE 0.0E0 END AS rep
        |  FROM base),
        |r AS (SELECT *,
        |    CASE WHEN n_words < 10 THEN 'too_short'
        |         WHEN n_words > 1000 THEN 'too_long'
        |         WHEN mtl < 2.0 OR mtl > 12.0 THEN 'token_len'
        |         WHEN alpha < 0.5 THEN 'low_alpha'
        |         WHEN rep >= 0.5 THEN 'repetitive'
        |         ELSE 'ok' END AS fail_reason
        |  FROM f)
        |SELECT doc_id, ts_s, n_words, round(mtl, 6) AS mean_token_len,
        |  round(alpha, 6) AS alpha_ratio, round(rep, 6) AS dup2_frac,
        |  (fail_reason = 'ok')::INT AS keep, fail_reason
        |FROM r""".stripMargin,

    "q_stream_pit" ->
      s"""WITH $FevCte,
        |clk AS (SELECT user_id, date_trunc('hour', ts) + INTERVAL 1 HOUR AS ats,
        |          count(*) AS n, sum(value) AS s
        |        FROM fev WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT e.user_id, epoch_us(date_trunc('microsecond', e.ts))//1000000 AS ts_s, e.value,
        |  epoch_us(c.ats)//1000000 AS feat_avail_s, c.n AS feat_n, round(c.s, 6) AS feat_sum
        |FROM fev e ASOF LEFT JOIN clk c ON e.user_id = c.user_id AND e.ts >= c.ats""".stripMargin,

    "q_stream_ab" ->
      s"""WITH $FevCte,
        |ev AS (SELECT user_id, event_type, (epoch_us(ts)//1000000 // 3600) * 3600 AS ts_s,
        |    ('0x' || substr(md5(user_id::VARCHAR || ':ab1'), 1, 1))::BIGINT % 2 AS arm,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM fev),
        |combos AS (SELECT ts_s, arm, 0 AS pur, h FROM ev
        |  UNION ALL
        |  SELECT ts_s, arm, 1 AS pur, h FROM ev WHERE event_type = 'purchase'),
        |hv AS (SELECT DISTINCT ts_s, arm, pur, h FROM combos),
        |regs AS (SELECT ts_s, arm, pur, h & 63 AS reg,
        |    max(CASE WHEN (h >> 6) = 0 THEN 55
        |             ELSE 55 - length(format('{:b}', h >> 6)) END) AS mr
        |  FROM hv GROUP BY 1, 2, 3, 4),
        |hz AS (SELECT ts_s, arm, pur,
        |    (sum(1::BIGINT << (55 - mr))::BIGINT
        |     + (64 - count(*)) * (1::BIGINT << 55))::BIGINT AS zint,
        |    64 - count(*) AS zeros
        |  FROM regs GROUP BY 1, 2, 3),
        |est AS (SELECT ts_s, arm, pur,
        |    round(CASE WHEN 1.0462993238608057e+20 / zint::DOUBLE <= 160.0 AND zeros > 0
        |         THEN 64.0::DOUBLE * ln(64.0::DOUBLE / zeros)
        |         ELSE 1.0462993238608057e+20 / zint::DOUBLE END, 6) AS e
        |  FROM hz),
        |piv AS (SELECT w.ts_s,
        |    coalesce(a0.e, 0.0E0) AS n_a, coalesce(a1.e, 0.0E0) AS s_a,
        |    coalesce(b0.e, 0.0E0) AS n_b, coalesce(b1.e, 0.0E0) AS s_b
        |  FROM (SELECT DISTINCT ts_s FROM ev) w
        |    LEFT JOIN est a0 ON w.ts_s = a0.ts_s AND a0.arm = 0 AND a0.pur = 0
        |    LEFT JOIN est a1 ON w.ts_s = a1.ts_s AND a1.arm = 0 AND a1.pur = 1
        |    LEFT JOIN est b0 ON w.ts_s = b0.ts_s AND b0.arm = 1 AND b0.pur = 0
        |    LEFT JOIN est b1 ON w.ts_s = b1.ts_s AND b1.arm = 1 AND b1.pur = 1),
        |zc AS (SELECT *,
        |    CASE WHEN n_a <= 0.0 THEN 0.0E0 ELSE least(greatest(s_a / n_a, 0.0E0), 1.0E0) END AS p_a,
        |    CASE WHEN n_b <= 0.0 THEN 0.0E0 ELSE least(greatest(s_b / n_b, 0.0E0), 1.0E0) END AS p_b
        |  FROM piv),
        |se AS (SELECT *,
        |    CASE WHEN n_a <= 0.0 OR n_b <= 0.0 THEN 0.0E0
        |         ELSE sqrt(p_a * (1.0E0 - p_a) / n_a + p_b * (1.0E0 - p_b) / n_b) END AS sev
        |  FROM zc),
        |zf AS (SELECT *, CASE WHEN sev <= 0.0 THEN 0.0E0 ELSE (p_b - p_a) / sev END AS z FROM se)
        |SELECT ts_s, n_a, s_a, n_b, s_b,
        |  round(p_a, 6) AS p_a, round(p_b, 6) AS p_b, round(z, 6) AS z,
        |  CASE WHEN z > 1.6448536269514722E0 THEN 1 ELSE 0 END AS reject
        |FROM zf""".stripMargin,

    "q_stream_ingest" ->
      s"""WITH $FdocCte,
        |uniq AS (SELECT doc_id, text FROM fdoc
        |  WHERE text IN (SELECT text FROM fdoc GROUP BY text HAVING count(*) = 1)),
        |base AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM uniq WHERE doc_id % 2 = 1),
        |f AS (SELECT doc_id,
        |    len(ws)::BIGINT AS n_words,
        |    length(replace(text, ' ', ''))::DOUBLE / len(ws) AS mtl,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) AS alpha,
        |    CASE WHEN len(ws) >= 2
        |         THEN 1.0E0 - len(list_distinct(list_transform(range(1, len(ws)),
        |                i -> ws[i] || ' ' || ws[i+1])))::DOUBLE / (len(ws) - 1)
        |         ELSE 0.0E0 END AS rep
        |  FROM base)
        |SELECT doc_id FROM f
        |WHERE n_words >= 10 AND n_words <= 1000
        |  AND mtl >= 2.0 AND mtl <= 12.0
        |  AND alpha >= 0.5 AND rep < 0.5""".stripMargin,

    "q_stream_bloom" ->
      s"""WITH $FdocCte,
        |stream AS (SELECT doc_id, text FROM fdoc WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM fdoc WHERE doc_id % 2 = 0 AND doc_id % 20 = 0)
        |SELECT s.doc_id, c.doc_id AS corpus_id
        |FROM stream s JOIN fdoc c
        |  ON md5(s.text) = md5(c.text) AND c.doc_id % 2 = 0""".stripMargin,

    "q_stream_bocpd" ->
      s"""${DetectorQueries.bocpdProbsSql}
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, cp_prob
         |FROM (SELECT p.*, count(*) OVER (PARTITION BY event_type) AS nn FROM probs p)
         |WHERE t <= nn - 1 - 10""".stripMargin,

    "q_stream_neardedup" -> {
      val P = graft.text.TextFunctions.MinHashPrime
      val mins = graft.text.TextFunctions.permParams(64).zipWithIndex
        .map { case ((a, b), i) => s"min((h * $a + $b) % $P) AS mh$i" }.mkString(", ")
      val bandSelects = (0 until 16).map { b =>
        val cols = (0 until 4).map(r => s"mh${b * 4 + r}")
        s"SELECT doc_id, $b AS band, concat(${cols.mkString(", '_', ")}) AS bsig FROM sig"
      }.mkString("\nUNION ALL\n")
      s"""WITH $FdocCte,
         |aug AS (SELECT doc_id, text FROM fdoc
         |  UNION ALL SELECT doc_id + 1000000, text FROM fdoc WHERE doc_id % 20 = 0),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |         CASE WHEN len(t) >= 3
         |              THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |              ELSE []::VARCHAR[] END)) AS shingle FROM toks),
         |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $P AS h FROM sh),
         |sig AS (SELECT doc_id, $mins FROM hs GROUP BY 1),
         |banded AS ($bandSelects)
         |SELECT s.doc_id, c.doc_id AS corpus_id, s.band
         |FROM banded s JOIN banded c ON s.band = c.band AND s.bsig = c.bsig
         |WHERE (s.doc_id % 2 = 1 OR s.doc_id >= 1000000)
         |  AND c.doc_id % 2 = 0 AND c.doc_id < 1000000""".stripMargin
    },

    "q_stream_distinct" ->
      s"""WITH $FevCte,
        |hv AS (SELECT DISTINCT event_type, (epoch_us(ts)//1000000 // 3600) * 3600 AS ts_s,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM fev),
        |ne AS (SELECT event_type, (epoch_us(ts)//1000000 // 3600) * 3600 AS ts_s,
        |    count(*) AS n_events
        |  FROM fev GROUP BY 1, 2),
        |regs AS (SELECT event_type, ts_s, h & 63 AS reg,
        |    max(CASE WHEN (h >> 6) = 0 THEN 55
        |             ELSE 55 - length(format('{:b}', h >> 6)) END) AS mr
        |  FROM hv GROUP BY 1, 2, 3),
        |hz AS (SELECT event_type, ts_s,
        |    (sum(1::BIGINT << (55 - mr))::BIGINT
        |     + (64 - count(*)) * (1::BIGINT << 55))::BIGINT AS zint,
        |    64 - count(*) AS zeros
        |  FROM regs GROUP BY 1, 2),
        |hll AS (SELECT event_type, ts_s,
        |    CASE WHEN 1.0462993238608057e+20 / zint::DOUBLE <= 160.0 AND zeros > 0
        |         THEN 64.0::DOUBLE * ln(64.0::DOUBLE / zeros)
        |         ELSE 1.0462993238608057e+20 / zint::DOUBLE END AS hll_est
        |  FROM hz)
        |SELECT n.event_type, n.ts_s, n.n_events, round(h.hll_est, 6) AS approx_users
        |FROM ne n JOIN hll h ON n.event_type = h.event_type AND n.ts_s = h.ts_s""".stripMargin
  )
}
