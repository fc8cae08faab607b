package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkEntry}

/** One benchmark run in one JVM: start a session with graft.Bench's
  * settings, warm up, run a given number of whole rounds of a workload's
  * fixed operation list, and write a raw result record. Every
  * operation's output is written once, in the warm-up round, for the
  * checks made outside the JVM.
  *
  * An operation is built and forced the same way every time: the DataFrame
  * is built (query function call, including any eager collects), then an
  * aggregate of its row count and an xxhash64 of every column forces all
  * columns, which a bare count() would let the optimizer prune.
  */
object Harness {
  final case class Op(name: String, items: Long, build: SparkSession => DataFrame)

  final case class Exec(op: String, round: Int, buildMs: Double, wallMs: Double, cpuMs: Double,
                        items: Long, rows: Long, err: Option[String]) {
    def ok: Boolean = err.isEmpty
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val in = a("inputs")
    val out = a("out")
    val work = a("work")
    val rounds = a("rounds").toInt
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val launched = a("launched").toDouble

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")

    val ops = Workloads.ops(workload, in, a("series").toLong)

    // One warm-up round, untimed: it writes every operation's output for the
    // checks made outside the JVM.
    val outRows = ops.map { op =>
      val dir = s"$out/outputs/${op.name}"
      val w0 = System.nanoTime()
      val n =
        try {
          op.build(spark).write.mode("overwrite").parquet(dir)
          spark.read.parquet(dir).count()
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] output of ${op.name} not written: ${e.getMessage}")
            -1L
        } finally { spark.sqlContext.clearCache(); Scratch.sweep() }
      System.err.println(f"[perfbench] warm-up ${op.name} ${(System.nanoTime() - w0) / 1e6}%.0f ms")
      op.name -> n
    }.toMap

    val recorder = if (trace) Some(new Trace(spark, cpus)) else None
    recorder.foreach(_.install())

    val heap = new HeapSampler
    val now = java.time.Instant.now()
    val setupS = now.getEpochSecond + now.getNano / 1e9 - launched
    heap.start()
    val t0 = System.nanoTime()
    val execs = ArrayBuffer[Exec]()
    for (round <- 1 to rounds) {
      for (op <- ops) {
        recorder.foreach(_.begin(op.name))
        val e = exec(spark, op, round)
        recorder.foreach(_.end(e))
        execs += e
        if (!e.ok) System.err.println(s"[perfbench] ${op.name} (round $round) failed: ${e.err.get}")
      }
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    heap.finish()

    val layers = recorder.map { t =>
      try t.layers(execs.toSeq, in) finally t.uninstall()
    }

    // every timed execution must return the checked output's row count
    val checked = execs.toSeq.map { e =>
      if (e.ok && e.rows != outRows(e.op))
        e.copy(err = Some(s"returned ${e.rows} rows, checked output has ${outRows(e.op)}"))
      else e
    }

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))

    val execJson = checked.map { e =>
      s"""{"op":${Json.str(e.op)},"round":${e.round},"wall_ms":${e.wallMs},"build_ms":${e.buildMs},""" +
        s""""cpu_ms":${e.cpuMs},""" +
        s""""items":${e.items},"rows":${e.rows},"err":${e.err.map(Json.str).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    val result =
      s"""{"workload":${Json.str(workload)},"setup_s":$setupS,"timed_s":$timedS,""" +
        s""""peak_heap_mb":${heap.peak / 1048576.0},"rounds":$rounds,"cpus":$cpus,""" +
        s""""executions":$execJson,"layers":${layers.getOrElse("null")}}"""
    Files.writeString(Paths.get(s"$out/result.json"), result)
    spark.stop()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Build and force one operation, timing its wall clock and the process
    * CPU it used. Afterwards, outside both: cache and scratch are dropped,
    * as graft.Bench does, and a full collection leaves the next operation
    * the same clean heap (and the peak-heap sampler the heap this one
    * retained). */
  def exec(spark: SparkSession, op: Op, round: Int): Exec = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    var t1 = t0
    val res =
      try {
        val df = op.build(spark)
        t1 = System.nanoTime()
        Right(force(df))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    val t2 = System.nanoTime()
    val c1 = os.getProcessCpuTime
    spark.sqlContext.clearCache()
    Scratch.sweep()
    System.gc()
    Exec(op.name, round, (t1 - t0) / 1e6, (t2 - t0) / 1e6, (c1 - c0) / 1e6, op.items,
      res.getOrElse(-1L), res.left.toOption)
  }

  def force(df: DataFrame): Long = {
    val cols = df.columns.map(c => col(s"`$c`"))
    df.agg(count(lit(1)), bit_xor(xxhash64(cols.toIndexedSeq: _*))).head().getLong(0)
  }

  /** Peak live heap: the largest heap occupancy left after a garbage
    * collection while the sampler is open. Occupancy before a collection
    * only says how far the collector let the heap fill; what survives a
    * collection is what the operations hold. */
  final class HeapSampler {
    @volatile private var open = false
    @volatile var peak = 0L
    private val listener = new javax.management.NotificationListener {
      override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
        if (open && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum
          peak = math.max(peak, used)
        }
    }
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: javax.management.NotificationEmitter => b }
    def start(): Unit = { beans.foreach(_.addNotificationListener(listener, null, null)); open = true }
    def finish(): Unit = {
      open = false
      beans.foreach(_.removeNotificationListener(listener))
      if (peak == 0L) peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }

}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def obj(kv: Seq[(String, Double)]): String = kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}

/** The fixed operation lists. An item is one series through one operator
  * on series_fleet and one query on query_floor. */
object Workloads {
  val fleet = Seq("q_fill_gaps", "q_bocpd", "q_pelt", "q_cusum", "q_holtwinters", "q_arima",
    "q_feat_pacf")

  val floor = Seq(
    "q_resample", "q_lag_diff", "q_rolling_stats", "q_time_features", "q_feat_basic", "q_srm",
    "q_text_quality", "q_dedup_exact", "q_knn_bruteforce", "q_heavy_hitters", "q_ann_ivf",
    "q_stream_zscore")

  def ops(workload: String, dir: String, series: Long): Seq[Harness.Op] = {
    val q = SparkEntry.queries
    def query(name: String, items: Long) = Harness.Op(name, items, s => q(name)(s, dir))
    workload match {
      case "series_fleet" => fleet.map(query(_, series))
      case "query_floor" => floor.map(query(_, 1L))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
