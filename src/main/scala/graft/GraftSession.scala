package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Bench, Verify, PlanDump,
  * ScaleGen and the test suites all start their session here, so the
  * conf a query is verified under is the conf it is benchmarked under:
  *
  *  - `local[n]` with `n` shuffle partitions, `n` from [[cpus]];
  *  - session time zone UTC (every oracle computes in UTC);
  *  - `parquet.nanosAsLong`, so TIMESTAMP(NANOS) testdata reads as long
  *    nanoseconds (see [[Tables.events]]);
  *  - no Spark UI;
  *  - [[GraftExtensions]] installed, so graft's SQL functions exist from
  *    the first query on;
  *  - log level WARN.
  *
  * There is no global AQE partition-size pin. r12's
  * `coalescePartitions.minPartitionSize=1k` protected a few CPU-dense
  * kernel stages from size-based coalescing but denied coalescing to all
  * 423 queries (+18% driver total, VERDICT r12 #4). The kernel stages pin
  * their own parallelism via `SeriesOps.spread` (REPARTITION_BY_NUM is
  * never coalesced); everything else coalesces normally.
  *
  * An event log for offline stage attribution needs no graft knob: pass
  * the standard `-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=…`
  * system properties, which the builder picks up.
  */
object GraftSession {
  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** The core count a `SPARK_GRAFT_CPUS` value asks for: a positive
    * integer, or all available processors when unset. Anything else
    * fails, naming the variable, instead of starting a session at some
    * other width. */
  def parseCpus(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$CpusVar must be a positive integer, got '$v'"))
  }

  /** The core count from the environment: see [[parseCpus]]. */
  def cpus: Int = parseCpus(sys.env.get(CpusVar))

  def start(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
