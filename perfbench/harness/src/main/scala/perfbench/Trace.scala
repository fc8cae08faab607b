package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SeriesOps, TS, TSSchema, Tables}
import graft.ann.{Ann, KMeansDet}
import graft.dedup.Dedup
import graft.detectors.{Bocpd, Pelt}
import graft.features.FeatureKernels
import graft.models.{Arima, Smoothers}

/** Counters of one span: a timed operation or one direct call into a layer. */
final class Span(val name: String, val startMs: Long) {
  var endMs = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputB = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var resultB = 0L
  var outputB = 0L
  var lastStageId = -1
  var lastStageTasks = 0
  val stageSpans = ArrayBuffer[(Long, Long)]()
  // streaming progress
  val triggerMs = ArrayBuffer[Long]()
  var addBatchMs = 0L
  var planningMs = 0L
  var commitMs = 0L
  val stateRows = scala.collection.mutable.Map[String, Long]()
  var stateBytes = 0L

  def wallMs: Double = (endMs - startMs).toDouble
  /** Wall time during which no stage of the span was running. */
  def gapMs: Double = {
    val iv = stageSpans.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    wallMs - covered
  }
}

/** The traced run's recorder: a SparkListener and a StreamingQueryListener
  * attribute every job, stage, task and microbatch to the span open when it
  * ran (the harness runs one span at a time and drains the listener bus
  * before closing it); each span is also tagged as the job description.
  * Spans stay in memory and are reduced to per-layer metrics at the end. */
final class Trace(spark: SparkSession, cpus: Int) {
  @volatile private var current: Span = _
  private val sc = spark.sparkContext

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Option(current).foreach(_.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Option(current).foreach { s =>
      val i = e.stageInfo
      s.stages += 1
      s.stageSpans += ((i.submissionTime.getOrElse(s.startMs), i.completionTime.getOrElse(System.currentTimeMillis())))
      if (i.stageId > s.lastStageId) { s.lastStageId = i.stageId; s.lastStageTasks = i.numTasks }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(current).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputB += m.inputMetrics.bytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.resultB += m.resultSize
        s.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Option(current).foreach { s =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      s.triggerMs += d.getOrElse("triggerExecution", 0L)
      s.addBatchMs += d.getOrElse("addBatch", 0L)
      s.planningMs += d.getOrElse("queryPlanning", 0L)
      s.commitMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
      if (p.stateOperators.nonEmpty) {
        s.stateRows(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
        s.stateBytes = math.max(s.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  private val opSpans = ArrayBuffer[Span]()

  def install(): Unit = { sc.addSparkListener(listener); spark.streams.addListener(streams) }
  def uninstall(): Unit = { sc.removeSparkListener(listener); spark.streams.removeListener(streams) }

  def begin(name: String): Unit = {
    current = new Span(name, System.currentTimeMillis())
    sc.setJobDescription(s"perfbench:$name")
  }
  def end(e: Harness.Exec): Unit = {
    org.apache.spark.BusDrain(sc)
    val s = current
    current = null
    sc.setJobDescription(null)
    // the op's own wall clock, so lifecycle and gap exclude the drain
    s.endMs = s.startMs + e.wallMs.toLong
    if (e.ok) opSpans += s
  }

  /** Open a span around a direct layer call; returns its wall ms and span. */
  private def span[T](name: String)(f: => T): (Double, Span, T) = {
    val s = new Span(name, System.currentTimeMillis())
    current = s
    sc.setJobDescription(s"perfbench:$name")
    val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    org.apache.spark.BusDrain(sc)
    current = null
    sc.setJobDescription(null)
    s.endMs = s.startMs + ms.toLong
    (ms, s, r)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0 else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }
  /** Median wall ms of three forced calls, with the last call's span. */
  private def probe(name: String)(df: => DataFrame): (Double, Span) = {
    val runs = (1 to 3).map { _ =>
      val (ms, s, _) = span(name)(noop(df))
      spark.sqlContext.clearCache()
      graft.Scratch.sweep()
      (ms, s)
    }
    (median(runs.map(_._1)), runs.last._2)
  }

  /** Results of the kernels, kept so the JIT cannot drop the calls. */
  @volatile var sink = 0
  /** Single-threaded kernel time over `series`: 0.5 s of untimed passes so
    * the kernel is compiled, then whole passes until at least three passes
    * and 300 ms; returns the median pass in microseconds. */
  private def kernelUs(series: Seq[Array[Double]])(f: Array[Double] => Any): Double = {
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < 500000000L) series.foreach(xs => sink += f(xs).##)
    val passes = ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (passes.size < 3 || (System.nanoTime() - t0) < 300000000L) {
      val a = System.nanoTime()
      series.foreach(xs => sink += f(xs).##)
      passes += (System.nanoTime() - a) / 1e3
    }
    median(passes.toSeq)
  }

  def layers(execs: Seq[Harness.Exec], dir: String): String = {
    val MB = 1048576.0
    val ops = opSpans.toSeq
    val n = math.max(ops.size, 1).toDouble
    val okExecs = execs.filter(_.ok)
    val items = math.max(okExecs.map(_.items).sum, 1L).toDouble
    def sumL(f: Span => Long) = ops.map(f).sum.toDouble
    val batches = ops.flatMap(_.triggerMs)
    // streaming counters are per replay: per op that ran microbatches
    val replays = ops.filter(_.triggerMs.nonEmpty)
    val nr = math.max(replays.size, 1).toDouble

    val S = TSSchema(keys = Seq("event_type"))
    val scanTotal = Seq(
      probe("tables.events")(Tables.events(spark, dir))._1,
      probe("tables.documents")(Tables.documents(spark, dir))._1,
      probe("tables.embeddings")(Tables.embeddings(spark, dir))._1).sum
    val raw = Tables.events(spark, dir).select(col("event_type"), col("ts"), col("value"))
    val (gridMs, _) = probe("ts.grid")(TS.fillGaps(TS.resample(raw, S).drop("n"), S, 3600L, Some(0.0)))
    val hourly = Tables.hourlyEvents(spark, dir).drop("n")
    val (collectMs, collectSpan) = probe("seriesops.collect")(SeriesOps.collect(hourly, S))

    // the fleet's series, collected once, for the single-threaded kernels
    val dense = SeriesOps.collect(TS.fillGaps(hourly, S, 3600L, Some(0.0)), S)
      .orderBy("event_type").limit(64).select("xs").collect()
      .map(_.getSeq[Double](0).toArray).toSeq
    val points = math.max(dense.map(_.length).sum, 1).toDouble
    val nSeries = math.max(dense.size, 1).toDouble
    val bocpd = kernelUs(dense)(xs => Bocpd.changeProb(xs)) / points
    val pelt = kernelUs(dense)(xs => Pelt.segment(xs)) / points
    val hw = kernelUs(dense)(xs => Smoothers.holtWinters(xs, 24, 0.3, 0.05, 0.1)) / points
    val arima = kernelUs(dense)(xs => Arima.fit(xs, 2, 1, 1)) / nSeries
    val feats = kernelUs(dense) { xs =>
      FeatureKernels.pacf(xs, 24); FeatureKernels.spectralEntropy(xs)
    } / nSeries

    val docs = Tables.documents(spark, dir)
    val nDocs = math.max(docs.count(), 1L).toDouble
    val (sigMs, _) = probe("dedup.signatures")(Dedup.minhashSignatures(docs, 64))
    val (lshMs, _) = probe("dedup.lsh_pairs")(Dedup.minhashLshPairs(docs, 64, 16))
    val cand = Dedup.minhashLshPairs(docs, 64, 16).select("i", "j", "est_jaccard").collect()
    spark.sqlContext.clearCache()
    val verified = cand.count(_.getDouble(2) >= 0.5)
    val edges = spark.createDataFrame(
      cand.filter(_.getDouble(2) >= 0.5).map(r => (r.getLong(0), r.getLong(1))).toSeq).toDF("i", "j")
    val (ccMs, ccSpan) = probe("dedup.cc")(Dedup.connectedComponents(edges))

    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")).persist()
    e.count()
    val fits = (1 to 3).map(_ => span("ann.kmeans_fit")(KMeansDet.fit(e, 8, 3).collect()))
    val fitMs = median(fits.map(_._1))
    val fitJobs = fits.last._2.jobs.toDouble
    val cents = KMeansDet.fit(e, 8, 3)
    val assigned = KMeansDet.assign(e, cents).select(col("vec_id"), col("embedding"), col("cell")).persist()
    val probes = Ann.probeSample(assigned).persist()
    val nProbes = math.max(probes.count(), 1L).toDouble
    val (ivfMs, _) = probe("ann.ivf")(
      Ann.knnIvf(assigned, probes, cents, cell = "cell", k = 3, nprobe = 2, id = "vec_id", vec = "embedding"))
    // vectors scored per probe: members of the probe's two nearest cells, itself excluded
    val cellSize = assigned.groupBy("cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val centVecs = cents.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val scored = probes.select("embedding", "cell").collect().map { r =>
      val v = r.getSeq[Float](0).map(_.toDouble).toArray
      val top = centVecs.map { case (c, cv) => (c, cos(v, cv)) }.sortBy { case (c, s) => (-s, c) }.take(2).map(_._1)
      top.map(c => cellSize.getOrElse(c, 0L)).sum - (if (top.contains(r.getInt(1))) 1 else 0)
    }
    Seq(e, assigned, probes).foreach(_.unpersist())
    spark.sqlContext.clearCache()

    Json.obj(Seq(
      "tables.scan_ms" -> scanTotal,
      "tables.input_mb" -> sumL(_.inputB) / MB / n,
      "ts.grid_ms" -> gridMs,
      "seriesops.collect_ms" -> collectMs,
      "seriesops.kernel_tasks" -> collectSpan.lastStageTasks.toDouble,
      "detectors.bocpd_us_per_point" -> bocpd,
      "detectors.pelt_us_per_point" -> pelt,
      "models.holtwinters_us_per_point" -> hw,
      "models.arima_us_per_series" -> arima,
      "features.kernels_us_per_series" -> feats,
      "dedup.signatures_ms" -> sigMs,
      "dedup.lsh_pairs_ms" -> lshMs,
      "dedup.candidates_per_doc" -> cand.length / nDocs,
      "dedup.candidate_yield" -> (if (cand.isEmpty) 0.0 else verified.toDouble / cand.length),
      "dedup.cc_ms" -> ccMs,
      "dedup.cc_written_mb" -> ccSpan.outputB / MB,
      "ann.kmeans_fit_ms" -> fitMs,
      "ann.kmeans_jobs" -> fitJobs,
      "ann.probe_ms" -> ivfMs / nProbes,
      "ann.candidates_per_probe" -> (if (scored.isEmpty) 0.0 else scored.sum.toDouble / scored.length),
      "streaming.batches_per_op" -> batches.size / nr,
      "streaming.batch_p50_ms" -> median(batches.map(_.toDouble)),
      "streaming.add_batch_ms_per_op" -> replays.map(_.addBatchMs).sum / nr,
      "streaming.planning_ms_per_op" -> replays.map(_.planningMs).sum / nr,
      "streaming.commit_ms_per_op" -> replays.map(_.commitMs).sum / nr,
      "streaming.lifecycle_ms_per_op" -> replays.map(s => s.wallMs - s.triggerMs.sum).sum / nr,
      "streaming.state_rows_per_op" -> replays.map(_.stateRows.values.sum).sum.toDouble / nr,
      "streaming.state_mb" -> (if (replays.isEmpty) 0.0 else replays.map(_.stateBytes).max / MB),
      "queries.build_ms_per_op" -> okExecs.map(_.buildMs).sum / n,
      "queries.jobs_per_op" -> sumL(_.jobs) / n,
      "queries.stages_per_op" -> sumL(_.stages) / n,
      "queries.tasks_per_op" -> sumL(_.tasks) / n,
      "queries.gap_ms_per_op" -> ops.map(_.gapMs).sum / n,
      "queries.executor_cpu_ms_per_item" -> sumL(_.cpuNs) / 1e6 / items,
      "queries.gc_ms_per_op" -> sumL(_.gcMs) / n,
      "queries.shuffle_write_mb_per_item" -> sumL(_.shuffleWriteB) / MB / items,
      "queries.shuffle_read_mb_per_item" -> sumL(_.shuffleReadB) / MB / items,
      "queries.result_mb_per_op" -> sumL(_.resultB) / MB / n,
      "queries.core_utilization" -> sumL(_.runMs) / (ops.map(_.wallMs).sum * cpus),
      "scratch.written_mb_per_op" -> sumL(_.outputB) / MB / n))
  }
}
