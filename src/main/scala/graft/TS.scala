package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tidy time-series relation: one row per (key…, ts) observation.
  *
  * Mirrors the reference's TimeSeriesData (kats/consts.py:117) but as a
  * *distributed relation*: key columns identify a series, so a single
  * operator call processes every series in the table in parallel. All
  * core ops below are pure DataFrame transformations built from native
  * (codegen'd) functions — no UDFs — so Catalyst can push filters/prune
  * columns through them and whole-stage codegen spans the pipeline.
  */
final case class TSSchema(keys: Seq[String] = Seq("series"), ts: String = "ts", value: String = "value") {
  def keyCols: Seq[Column] = keys.map(col)
  def orderedWindow = Window.partitionBy(keyCols: _*).orderBy(col(ts))
}

object TS {

  /** Align an irregular event stream onto a fixed grid (kats consts.py
    * interpolate/resample): truncate ts to `unit` and aggregate values.
    *
    * The rows are spread by the series keys ([[SeriesOps.spread]]) before
    * the aggregate, so this is the one series-keyed exchange of a series
    * pipeline: the aggregate, every window partitioned by the keys, the
    * dense grid of [[fillGaps]] and [[SeriesOps.collect]] all run in its
    * partitions with no further shuffle. The price is that the sum is no
    * longer partially aggregated map-side: the raw rows cross the
    * exchange, not one partial per (key, bucket) and scan task.
    */
  def resample(df: DataFrame, s: TSSchema, unit: String = "hour"): DataFrame =
    SeriesOps.spread(df, s.keyCols)
      .groupBy((s.keyCols :+ date_trunc(unit, col(s.ts)).as(s.ts)): _*)
      .agg(round(sum(s.value), 6).as(s.value), count(lit(1)).as("n"))

  /** Densify: per series, every grid point from its first to its last ts,
    * holes filled with `fill` (null if None), in one window pass keyed by
    * series: each row expands to itself plus the missing points up to the
    * next row's ts. The observed row keeps its columns; a filled point has
    * `fill` as value and null in every other non-key column. Rows with a
    * null ts are dropped.
    *
    * Precondition: the ts of a series lie on one grid of `stepSeconds`
    * (e.g. `date_trunc`'d hours at 3600 s), as [[resample]]'s output does.
    * Off-grid points are kept as they are, not snapped onto the grid.
    */
  def fillGaps(df: DataFrame, s: TSSchema, stepSeconds: Long, fill: Option[Double] = Some(0.0)): DataFrame = {
    val step = expr(s"interval $stepSeconds seconds")
    val t = col(s.ts)
    val rest = df.columns.filterNot(c => s.keys.contains(c) || c == s.ts)
    // greatest skips the null `_next` of each series' last row, and keeps
    // `sequence` from running backwards on a repeated ts
    val points = sequence(t, greatest(t, col("_next") - step), step)
    val observed = col("_i") === 0
    val restCols = rest.map { c =>
      val v = when(observed, col(c))
      (if (c == s.value) fill.fold(v)(f => coalesce(v, lit(f))) else v).as(c)
    }
    df.withColumn("_next", lead(t, 1).over(s.orderedWindow))
      .select((s.keyCols ++ rest.map(col)) :+ posexplode(points).as(Seq("_i", s.ts)): _*)
      .select((s.keyCols :+ t) ++ restCols: _*)
  }

  /** Linear interpolation of missing grid values (kats TimeSeriesData
    * .interpolate(method='linear')): for each null run, blend the previous
    * and next non-null observations by time fraction. Implemented with two
    * bounded scans (last/first over unbounded frames) — still window-only.
    */
  def interpolateLinear(df: DataFrame, s: TSSchema): DataFrame = {
    val w = Window.partitionBy(s.keyCols: _*).orderBy(col(s.ts))
    val before = w.rowsBetween(Window.unboundedPreceding, 0)
    val after  = w.rowsBetween(0, Window.unboundedFollowing)
    val vTs = col(s.ts).cast("double")
    val prevV = last(col(s.value), ignoreNulls = true).over(before)
    val nextV = first(col(s.value), ignoreNulls = true).over(after)
    val prevT = last(when(col(s.value).isNotNull, vTs), ignoreNulls = true).over(before)
    val nextT = first(when(col(s.value).isNotNull, vTs), ignoreNulls = true).over(after)
    val frac = (vTs - prevT) / (nextT - prevT)
    val interp = when(col(s.value).isNotNull, col(s.value))
      .when(prevV.isNull, nextV)
      .when(nextV.isNull, prevV)
      .when(nextT === prevT, prevV)
      .otherwise(round(prevV + (nextV - prevV) * frac, 6))
    df.withColumn(s.value, interp)
  }

  /** lag/lead/diff/pct_change per series — single shuffle on the key. */
  def withLagDiff(df: DataFrame, s: TSSchema, k: Int = 1): DataFrame = {
    val w = s.orderedWindow
    df.withColumn("lag", lag(col(s.value), k).over(w))
      .withColumn("lead", lead(col(s.value), k).over(w))
      .withColumn("diff", round(col(s.value) - col("lag"), 6))
      .withColumn("pct_change",
        when(col("lag") =!= 0, round((col(s.value) - col("lag")) / col("lag"), 6)))
  }

  /** Rolling stats over the trailing `k` rows (kats rolling_stats_model). */
  def rolling(df: DataFrame, s: TSSchema, k: Int): DataFrame = {
    val w = s.orderedWindow.rowsBetween(-(k - 1), 0)
    df.withColumn("roll_mean", round(avg(s.value).over(w), 6))
      .withColumn("roll_std", round(stddev_samp(col(s.value)).over(w), 6))
      .withColumn("roll_min", min(s.value).over(w))
      .withColumn("roll_max", max(s.value).over(w))
      .withColumn("roll_n", count(lit(1)).over(w))
  }

  /** Adjusted exponentially-weighted mean (tsfeatures.py:_ewma, pandas
    * ewm(adjust=True)): y_t = Σ_j (1-α)^j x_{t-j} / Σ_j (1-α)^j.
    * One O(n) scan per collected series via the native codegen'd
    * [[graft.expressions.EwmaArray]] — no UDF boundary, parallel across
    * series.
    */
  def ewma(df: DataFrame, s: TSSchema, alpha: Double): DataFrame =
    SeriesOps.mapSeriesCol(df, s, "ewma")(xs => graft.expressions.ewma_array(xs, alpha))

  /** Calendar feature battery (kats/utils/feature_engineering.py). */
  def timeFeatures(df: DataFrame, s: TSSchema): DataFrame = {
    val t = col(s.ts)
    df.withColumn("year", year(t))
      .withColumn("month", month(t))
      .withColumn("day", dayofmonth(t))
      .withColumn("hour", hour(t))
      .withColumn("minute", minute(t))
      .withColumn("dow", dayofweek(t))         // 1 = Sunday (Spark semantics)
      .withColumn("doy", dayofyear(t))
      .withColumn("week", weekofyear(t))
      .withColumn("is_weekend", dayofweek(t).isin(1, 7).cast("int"))
  }

  /** Time-based train/test split (kats/utils/datapartition.py): rows with
    * ts < cutoff → train. Pure filterable predicate → parquet pushdown.
    */
  def dataPartition(df: DataFrame, s: TSSchema, cutoff: String): DataFrame =
    df.withColumn("fold", when(col(s.ts) < lit(cutoff).cast("timestamp"), lit("train")).otherwise(lit("test")))

  /** Backward as-of join: each left row picks up the latest right row with
    * right.ts ≤ left.ts within the same key — the canonical time-series
    * alignment (attach latest state/forecast/aggregate to events).
    *
    * Implemented as the scalable UNION + WINDOW shape rather than a range
    * join: tag both sides, sort per key by (ts, side) with right rows
    * first at ties, and carry the last non-null right values forward.
    * ONE key shuffle, no join blow-up, no custom plan node — this is the
    * form that survives a skewed 100 TB event stream (a range join would
    * re-scan the right side per left row).
    *
    * `rightCols` are the right-side value columns to attach; they must
    * not collide with left column names.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                       rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.filterNot(c => keys.contains(c) || c == ts)
    val lTagged = left
      .withColumn("_side", lit(1))
      .select((keys.map(col) :+ col(ts) :+ col("_side")) ++
        leftCols.map(col) ++ rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rTagged = right
      .withColumn("_side", lit(0))
      .select((keys.map(col) :+ col(ts) :+ col("_side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++ rightCols.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ts), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = rightCols.foldLeft(lTagged.unionByName(rTagged)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.where(col("_side") === 1).drop("_side")
  }

  /** Gap-based sessionization: a new session starts at each event whose
    * inactivity gap from the previous event is ≥ `gapSeconds` (the
    * convention of Spark's streaming `session_window`, whose windows end
    * at last-event + gap — so the batch and streaming session sets agree
    * exactly). Adds a per-key `session` ordinal; one key shuffle, gap
    * math in exact microseconds. Tied timestamps are safe: either tie
    * order yields the same session membership.
    */
  def sessionize(df: DataFrame, s: TSSchema, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(s.keyCols: _*).orderBy(col(s.ts))
    val gapUs = gapSeconds * 1000000L
    df.withColumn("_prev", lag(unix_micros(col(s.ts)), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || unix_micros(col(s.ts)) - col("_prev") >= gapUs, 1).otherwise(0))
      .withColumn("session", sum("_new").over(w))
      .drop("_prev", "_new")
  }
}
