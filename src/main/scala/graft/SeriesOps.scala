package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-series-per-row reduction for algorithms that need the whole ordered
  * series (Holt-Winters, BOCPD, PACF, spectral entropy, …).
  *
  * Pattern: `groupBy(keys).agg(sort_array(collect_list(struct(ts, value))))`
  * over a relation clustered by the series keys; each post-shuffle row
  * holds exactly one series' points. On a series that comes from
  * [[TS.resample]] (so from [[Tables.hourlyEvents]] and
  * [[Tables.denseHourly]]) the clustering is the resample's own exchange,
  * and the whole pipeline, collect included, pays that one shuffle; any
  * other input is clustered here by [[spread]]. The scale axis is the
  * NUMBER of series (millions at 100 TB), never total points, and a
  * series' own points are bounded (a year of hourly data is 8 760 doubles
  * ≈ 70 KB), so rows stay small. The scalar UDFs applied afterwards run
  * once per series, i.e. after a ~10³–10⁶× reduction — the non-codegen
  * cost is negligible relative to the scan.
  */
object SeriesOps {

  /** Cluster rows by the series keys at full-machine parallelism: a
    * repartition-by-num (shuffleOrigin REPARTITION_BY_NUM, which AQE never
    * coalesces) into 2 × defaultParallelism partitions.
    *
    * Why: AQE coalesces by post-shuffle BYTES, and a per-series kernel
    * stage carries few bytes but heavy CPU, so coalescing serializes it
    * (measured r12: a 500-series STOMP 47 s vs 4.9 s). A global
    * `coalescePartitions.minPartitionSize` pin denied coalescing to all
    * 423 queries (+18%, VERDICT r12 #4), so the pin is scoped to series
    * data.
    *
    * Where it sits: at the bottom of the series pipeline, in
    * [[TS.resample]] before the hourly aggregate, so the aggregate, the
    * windows by series, [[TS.fillGaps]] and [[collect]] share one exchange.
    * [[collect]] applies it again at the kernel boundary for inputs that do
    * not come from that source. On an input that is already spread,
    * EnsureRequirements elides that second exchange, because it asks for
    * the same keys at the same count: the kernel stage runs in the
    * resample's partitions, which AQE cannot coalesce either.
    *
    * Why 2 × defaultParallelism: (1) it never equals the session's
    * shuffle partition count (the core count), so a spread is never elided
    * behind an ordinary coalescible hashpartitioning(keys, n) exchange
    * (measured r13: q_matrix_profile's input arrived
    * hashpartitioned(event_type, 32), a spread at defaultParallelism
    * disappeared and the kernel stage fell back to the 47 s shape).
    * (2) Per-series kernel costs are uneven (series length skew); two
    * waves per core is straggler insurance for a compute-bound stage
    * (guide §2.5-2.6).
    */
  def spread(df: DataFrame, keys: Seq[Column]): DataFrame =
    if (keys.isEmpty) df
    else df.repartition(2 * df.sparkSession.sparkContext.defaultParallelism, keys: _*)

  /** keys…, tss: array<ts>, xs: array<double> — ordered by ts. */
  def collect(df: DataFrame, s: TSSchema): DataFrame =
    spread(df, s.keyCols).groupBy(s.keyCols: _*)
      .agg(sort_array(collect_list(struct(col(s.ts).as("t"), col(s.value).cast("double").as("x")))).as("_pts"))
      .withColumn("tss", col("_pts.t"))
      .withColumn("xs", col("_pts.x"))
      .drop("_pts")

  /** Apply an elementwise per-series transform f(xs) (|out| == |xs|) and
    * explode back to the tidy shape with the original timestamps.
    */
  def mapSeries(df: DataFrame, s: TSSchema, outName: String)(f: Array[Double] => Array[Double]): DataFrame = {
    val fn = udf { xs: Seq[Double] => f(xs.toArray).toSeq }
    mapSeriesCol(df, s, outName)(xs => fn(xs))
  }

  /** Like [[mapSeries]] but the transform is a Column expression (e.g. a
    * native Catalyst expression from [[graft.expressions]]) — stays inside
    * whole-stage codegen, no UDF boundary.
    */
  def mapSeriesCol(df: DataFrame, s: TSSchema, outName: String)(f: Column => Column): DataFrame =
    collect(df, s)
      .withColumn("_out", f(col("xs")))
      .withColumn("_z", explode(arrays_zip(col("tss"), col("xs"), col("_out"))))
      .select((s.keyCols :+ col("_z.tss").as(s.ts) :+ col("_z.xs").as(s.value) :+
        round(col(s"_z._out"), 6).as(outName)): _*)

  /** Per-series scalar summary: f(xs) -> fixed-length vector, one row per
    * series with the given output column names.
    */
  def aggSeries(df: DataFrame, s: TSSchema, outNames: Seq[String])(f: Array[Double] => Array[Double]): DataFrame = {
    val fn = udf { xs: Seq[Double] => f(xs.toArray).toSeq }
    val base = collect(df, s).withColumn("_out", fn(col("xs")))
    val outCols: Seq[Column] = outNames.zipWithIndex.map { case (n, i) => round(col("_out")(i), 6).as(n) }
    base.select((s.keyCols ++ outCols): _*)
  }
}
