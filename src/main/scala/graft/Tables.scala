package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables.
  *
  * `events.ts` has been written two ways across driver generations:
  * TIMESTAMP(NANOS) (which Spark 4 refuses to read natively — we read it as
  * a long via nanosAsLong and truncate to microseconds, matching DuckDB's
  * cast-to-TIMESTAMP semantics) and plain TIMESTAMP(MICROS) without a UTC
  * marker (which Spark reads as TIMESTAMP_NTZ). Both normalize to the same
  * session-UTC TimestampType column here so every downstream operator and
  * oracle sees one schema.
  */
object Tables {
  /** Scan-parallelism floor for the driver's single-file testdata —
    * applied ONLY to the payload-heavy tables (documents, embeddings).
    *
    * Every test table ships as ONE parquet file with ONE row group, so
    * the scan is a single task and every scan-fused map runs
    * single-threaded. Parquet can only split at row-group boundaries, so
    * maxPartitionBytes cannot help — re-spread the rows instead. BUT the
    * exchange only pays for itself when the per-row work is heavy:
    * r12 applied it to EVERY 512 KB–128 MB table and the driver's bench
    * total rose 427.5 → 503.9 s (+17.9%) — the ~25 scan-CPU-bound
    * text/dedup/vector queries won 1.5–4×, while ~390 queries over
    * narrow numeric rows (events, orders, lineitem) paid a full-table
    * Exchange for nothing (VERDICT r12 #3). So the gate is CONTENT-
    * derived, not size-derived alone: documents rows carry text blobs
    * (tokenize/shingle/hash kernels downstream) and embeddings rows
    * carry 64-dim vectors (distance/signature kernels) — orders of
    * magnitude more CPU per row than the numeric tables, where the scan
    * is never the bottleneck.
    *
    * Still scale-adaptive, not a local[32] constant: the round-robin
    * exchange is added only when the table is a small unsplittable read
    * (bytes < maxPartitionBytes, i.e. Spark would plan ≤1 task per
    * file). A real corpus (many files / row groups ≫ cores) skips it
    * entirely. Row-to-partition assignment is deterministic
    * (spark.sql.execution.sortBeforeRepartition is on by default), and
    * every downstream result is partitioning-invariant by the repo's
    * order-free-reduction discipline — re-proven by the full 423-query
    * oracle gate at sf0.01 and sf0.1 in round 13 (GATE_r13).
    */
  private val RespreadMinBytes = 512L * 1024

  /** Per-JVM schema cache: without it every `spark.read.parquet` runs a
    * one-task footer-inference job, and a 423-query bench pays that ~2-3
    * times per query. The schema of a given file path is fixed for the
    * process lifetime (the driver never rewrites testdata mid-run), and
    * the cache holds METADATA only — recomputed from the file on every
    * JVM start, so no result or data is ever carried across runs. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def read(spark: SparkSession, dir: String, name: String,
                   spread: Boolean = false): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    val df = spark.read.schema(schema).parquet(path)
    val bytes =
      try new java.io.File(path).length()
      catch { case _: Throwable => Long.MaxValue }
    val maxSplit = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
      .stripSuffix("b").trim match { case s => try s.toLong catch { case _: Throwable => 134217728L } }
    if (spread && bytes >= RespreadMinBytes && bytes < maxSplit)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast(org.apache.spark.sql.types.TimestampType)
    }
    raw.withColumn("ts", ts)
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents", spread = true)
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings", spread = true)
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")

  /** Log (stderr) any drift between the driver-generated tables and the
    * schema this engine was built against. The round-7 breakage — the
    * driver silently regenerated events.ts as TIMESTAMP(MICROS) where all
    * prior rounds had TIMESTAMP(NANOS) — cost a full round of correctness
    * signal; this canary turns the next such change into one obvious log
    * line instead of 110 cryptic per-query failures. Purely advisory:
    * never throws, costs one footer read per table.
    */
  def warnOnSchemaDrift(spark: SparkSession, dir: String): Unit = {
    val expected = Map(
      "events" -> Map("event_id" -> "bigint", "ts" -> "timestamp|timestamp_ntz|bigint",
        "user_id" -> "bigint", "event_type" -> "string", "value" -> "double"),
      "documents" -> Map("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
        "source" -> "string", "n_chars" -> "bigint|int"),
      "embeddings" -> Map("vec_id" -> "bigint", "embedding" -> "array<float>|array<double>",
        "label" -> "int|bigint|string"))
    expected.foreach { case (table, cols) =>
      try {
        val actual = read(spark, dir, table).schema
          .map(f => f.name -> f.dataType.simpleString).toMap
        cols.foreach { case (name, accepted) =>
          actual.get(name) match {
            case None =>
              System.err.println(s"[graft][SCHEMA DRIFT] $table.$name is MISSING (have: ${actual.keys.mkString(", ")})")
            case Some(t) if !accepted.split('|').contains(t) =>
              System.err.println(s"[graft][SCHEMA DRIFT] $table.$name is $t, engine built against $accepted")
            case _ => ()
          }
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[graft][SCHEMA DRIFT] cannot read $table from $dir: ${e.getMessage}")
      }
    }
  }

  /** Canonical hourly-resampled event series: one series per `event_type`.
    *
    * Rounds the aggregated value to 6 dp so every downstream operator (here
    * and in the DuckDB oracle) computes on bit-identical inputs regardless
    * of float summation order.
    */
  def hourlyEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("ts"))
      .agg(round(sum("value"), 6).as("value"), count(lit(1)).as("n"))

  /** The oracle-side equivalent of [[hourlyEvents]], as a DuckDB CTE body. */
  val hourlySql: String =
    """SELECT event_type, date_trunc('hour', ts) AS ts,
      |       round(sum(value), 6) AS value, count(*) AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Pair-analysis series budget — the probe-cap discipline
    * (Ann.ProbeCap) applied to the SERIES axis. Queries whose cost is
    * #series² (cross-correlation, rank dependence, coherence, pairwise
    * DTW, Granger, panel moments, …) pair at most [[SeriesPairCap]]
    * series, selected by deterministic md5 rank so both engines keep
    * the identical set. At the driver SFs (5 series) every series
    * survives — results unchanged — while at 50 000 series the pair
    * count stays C(64,2) = 2 016 instead of 1.25 G. SHARED LITERAL:
    * [[hourlyEventsCapped]] and [[hourlyCappedSql]] both read this val.
    */
  val SeriesPairCap = 64

  /** [[hourlyEvents]] restricted to the [[SeriesPairCap]] md5-rank
    * series — the input every #series²-shaped query must pair from. */
  def hourlyEventsCapped(spark: SparkSession, dir: String): DataFrame = {
    val h = hourlyEvents(spark, dir)
    val keep = h.select(col("event_type")).distinct()
      .orderBy(md5(col("event_type")), col("event_type")).limit(SeriesPairCap)
    h.join(broadcast(keep), Seq("event_type"))
  }

  /** Oracle twin of [[hourlyEventsCapped]], as a DuckDB CTE body
    * (drop-in replacement for [[hourlySql]] in pair-query oracles). */
  val hourlyCappedSql: String =
    s"""SELECT h.* FROM ($hourlySql) h
       |JOIN (SELECT event_type FROM (SELECT DISTINCT event_type FROM events)
       |      QUALIFY row_number() OVER (ORDER BY md5(event_type), event_type) <= $SeriesPairCap) k
       |USING (event_type)""".stripMargin

  /** The dense zero-filled hourly grid: [[hourlyEvents]] without `n`,
    * every missing hour of each `event_type` series filled with 0.0. The
    * one Spark-side copy; [[denseHourlySql]] is its oracle twin. */
  def denseHourly(spark: SparkSession, dir: String): DataFrame =
    TS.fillGaps(hourlyEvents(spark, dir).drop("n"), TSSchema(keys = Seq("event_type")), 3600L, Some(0.0))

  /** Oracle-side twin of [[denseHourly]]:
    * the dense zero-filled hourly grid, as CTEs over a `hourly` CTE.
    * ONE definition — the query packs must not fork their own copies
    * (a gap-fill semantics change has to hit every oracle at once). */
  val denseHourlySql: String =
    """hb AS (SELECT event_type, min(ts) t0, max(ts) t1 FROM hourly GROUP BY 1),
      |hgrid AS (SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts FROM hb),
      |dense AS (SELECT g.event_type, g.ts, coalesce(h.value, 0.0) AS value
      |          FROM hgrid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.ts = h.ts)""".stripMargin
}
