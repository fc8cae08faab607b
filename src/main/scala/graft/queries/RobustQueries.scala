package graft.queries

import graft._
import graft.detectors.MannKendall
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 robustness pack:
  *
  *  - q_rolling_mod_z — the RollingStatsModel score family
  *    (kats/detectors/rolling_stats_model.py:68/:99/:118 — z-score and the
  *    modified z-scores (x−median)/MAD and (x−median)/IQR over a trailing
  *    window that EXCLUDES the current point, rolling_stats_model.py:279
  *    "rolling window will be extended by 1").
  *  - q_mk_deseason — the MKDetector preprocessing chain
  *    (kats/detectors/trend_mk.py:187 `_remove_seasonality` trailing
  *    moving average, :198 `_smoothing` SES(0.2) fitted values, :266
  *    `MKtest`), i.e. the Mann-Kendall test on the deseasonalized,
  *    noise-smoothed series rather than the raw one.
  *  - q_residual_prob — KDEResidualTranslator
  *    (kats/detectors/residual_translation.py:96): residual = y − rolling
  *    7-mean one-step forecast, Gaussian-KDE density of each residual.
  *    Deviation (documented): the reference picks the bandwidth by sklearn
  *    RandomizedSearchCV over [extent/1000, extent/10]; we pin the
  *    deterministic top of that grid, h = (q95−q05)/10 — no CV in a
  *    declarative plan, and any fixed h in the grid is a valid member of
  *    the reference's search space.
  *
  * Scale shape: everything is per-series window math or a one-shuffle
  * series collect (SeriesOps) — the scale axis is the number of series.
  * The KDE scoring is O(n²) per series by definition (exact KDE); n is a
  * single series' length (bounded), never the corpus.
  */
object RobustQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private def hourly(s: SparkSession, dir: String) = Tables.hourlyEvents(s, dir).drop("n")
  private val H = Tables.hourlySql
  private def epochS(c: String, as: String = "ts_s") = unix_timestamp(col(c)).as(as)

  private val W = 10 // rolling_stats_model window (reference default example :209)
  private val Alpha = 0.2 // trend_mk.py:210 smoothing_level

  /** Linear-interpolated quantile of a sorted array (numpy/duckdb
    * `quantile_cont` convention: pos = (n−1)·p). */
  private def qCont(sorted: Column, p: Double): Column = {
    val n = size(sorted)
    val pos = (n - lit(1)).cast("double") * lit(p)
    val lo = floor(pos).cast("int")
    val hi = least(lo + lit(1), n - lit(1))
    val frac = pos - lo.cast("double")
    element_at(sorted, lo + lit(1)) * (lit(1.0) - frac) + element_at(sorted, hi + lit(1)) * frac
  }

  private def div0(num: Column, den: Column): Column =
    when(den === 0.0, 0.0).otherwise(num / den)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── RollingStatsModel scores: window = prior W points, current excluded ──
    "q_rolling_mod_z" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val prev = w.rowsBetween(-W, -1)
      val sorted = array_sort(collect_list(col("value")).over(prev))
      val df = hourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("arr", sorted)
        .withColumn("m", avg("value").over(prev))
        .withColumn("sd", stddev_pop("value").over(prev))
        .where(col("rn") > W)
        .withColumn("med", qCont(col("arr"), 0.5))
        .withColumn("iqr", qCont(col("arr"), 0.75) - qCont(col("arr"), 0.25))
        .withColumn("dev", array_sort(transform(col("arr"), x => abs(x - col("med")))))
        .withColumn("mad", qCont(col("dev"), 0.5))
      df.select(
        col("event_type"), epochS("ts"), col("value"),
        round(div0(col("value") - col("m"), col("sd")), 6).as("z"),
        round(div0(col("value") - col("med"), col("mad")), 6).as("mz_mad"),
        round(div0(col("value") - col("med"), col("iqr")), 6).as("mz_iqr"),
        round(col("iqr"), 6).as("iqr"))
    }),

    // ── MKDetector chain: trailing MA(7) → SES(0.2) fitted → MK test ──
    "q_mk_deseason" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val ma = Tables.denseHourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("ma", round(avg("value").over(w.rowsBetween(-6, 0)), 6))
        .where(col("rn") >= 7)
        .select(col("event_type"), col("ts"), col("ma").as("value"))
      SeriesOps.aggSeries(ma, S, Seq("s", "tau", "z", "trend")) { xs =>
        // SES fitted values: l_0 = x_0, l_t = α·x_t + (1−α)·l_{t−1}
        val sm = new Array[Double](xs.length)
        sm(0) = xs(0)
        var i = 1
        while (i < xs.length) { sm(i) = Alpha * xs(i) + (1 - Alpha) * sm(i - 1); i += 1 }
        val (sv, tau, z, tr) = MannKendall.mkStats(sm)
        Array(sv.toDouble, tau, z, tr.toDouble)
      }.withColumn("s", col("s").cast("long"))
        .withColumn("trend", col("trend").cast("int"))
    }),

    // ── Hirsch-Slack multivariate MK (trend_mk.py:296): per-metric S and
    // Var summed before the z; metrics = the hourly (value, n) pair ──
    "q_mk_multivariate" -> ((s, dir) => {
      def perMetric(valueCol: String, suffix: String) = {
        val df = Tables.hourlyEvents(s, dir)
          .select(col("event_type"), col("ts"), col(valueCol).cast("double").as("value"))
        SeriesOps.aggSeries(df, S, Seq(s"s_$suffix", s"var_$suffix", s"tau_$suffix", s"denom_$suffix")) { xs =>
          val (sv, varS) = MannKendall.mkCore(xs)
          val n = xs.length.toLong
          val denom = n * (n - 1) / 2.0
          Array(sv.toDouble, varS, sv / denom, denom)
        }
      }
      perMetric("value", "value").join(perMetric("n", "n"), "event_type")
        .withColumn("s_total", (col("s_value") + col("s_n")).cast("long"))
        .withColumn("var_total", col("var_value") + col("var_n"))
        .withColumn("z_overall",
          when(col("s_total") > 0, (col("s_total") - 1) / sqrt(col("var_total")))
            .when(col("s_total") < 0, (col("s_total") + 1) / sqrt(col("var_total")))
            .otherwise(0.0))
        .select(col("event_type"),
          col("s_value").cast("long").as("s_value"), col("tau_value"),
          col("s_n").cast("long").as("s_n"), col("tau_n"),
          col("s_total"),
          round((col("s_value") + col("s_n")) / (col("denom_value") + col("denom_n")), 6).as("tau_overall"),
          round(col("z_overall"), 6).as("z_overall"),
          when(col("z_overall") > 1.96, 1).when(col("z_overall") < -1.96, -1).otherwise(0).as("trend"))
    }),

    // ── KDE residual translation: density of each 1-step-forecast residual ──
    "q_residual_prob" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val res = hourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("yhat", avg("value").over(w.rowsBetween(-7, -1)))
        .where(col("rn") > 7)
        .withColumn("r", round(col("value") - col("yhat"), 6))
        .select(col("event_type"), col("ts"), col("r"))
      val par = res.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sort_array(collect_list(col("r"))).as("arr"),
        ((percentile(col("r"), lit(0.95)) - percentile(col("r"), lit(0.05))) / 10.0).as("h"))
      res.join(broadcast(par), "event_type")
        // h = 0 (constant residuals, e.g. a perfectly periodic series
        // under the lag forecast) makes the kernel degenerate — emit 0
        // rather than divide by zero, identically to the oracle
        .withColumn("dens",
          when(col("h") === 0, lit(0.0)).otherwise(
            aggregate(col("arr"), lit(0.0),
              (acc, v) => acc + exp(lit(-0.5) * pow((col("r") - v) / col("h"), 2)))
              / (col("n") * col("h") * math.sqrt(2 * math.Pi))))
        .select(col("event_type"), epochS("ts"), col("r").as("resid"),
          round(col("dens"), 6).as("proba"))
    })
  )

  val sql: Map[String, String] = Map(
    "q_rolling_mod_z" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, ts, value,
         |        row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn FROM hourly),
         |pairs AS (SELECT a.event_type, a.rn, a.ts, a.value AS x, b.value AS v
         |          FROM ord a JOIN ord b ON a.event_type = b.event_type
         |            AND b.rn BETWEEN a.rn - $W AND a.rn - 1
         |          WHERE a.rn > $W),
         |st AS (SELECT event_type, rn, max(ts) AS ts, max(x) AS x,
         |         avg(v) AS m, stddev_pop(v) AS sd,
         |         quantile_cont(v, 0.5) AS med,
         |         quantile_cont(v, 0.75) - quantile_cont(v, 0.25) AS iqr
         |       FROM pairs GROUP BY 1, 2),
         |md AS (SELECT p.event_type, p.rn, quantile_cont(abs(p.v - st.med), 0.5) AS mad
         |       FROM pairs p JOIN st ON p.event_type = st.event_type AND p.rn = st.rn
         |       GROUP BY 1, 2)
         |SELECT st.event_type, epoch_us(st.ts)//1000000 AS ts_s, st.x AS value,
         |  round(CASE WHEN sd = 0 THEN 0.0 ELSE (x - m) / sd END, 6) AS z,
         |  round(CASE WHEN mad = 0 THEN 0.0 ELSE (x - med) / mad END, 6) AS mz_mad,
         |  round(CASE WHEN iqr = 0 THEN 0.0 ELSE (x - med) / iqr END, 6) AS mz_iqr,
         |  round(iqr, 6) AS iqr
         |FROM st JOIN md ON st.event_type = md.event_type AND st.rn = md.rn""".stripMargin,

    "q_mk_deseason" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ma AS (SELECT event_type, ts,
         |         round(avg(value) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS v,
         |         row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn
         |       FROM dense),
         |ord AS (SELECT event_type, v, rn - 6 AS rn FROM ma WHERE rn >= 7),
         |rec AS (SELECT event_type, rn, v AS l FROM ord WHERE rn = 1
         |        UNION ALL
         |        SELECT o.event_type, o.rn, $Alpha * o.v + ${1 - Alpha} * r.l
         |        FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.rn + 1),
         |p AS (SELECT a.event_type, sign(b.l - a.l) AS sg
         |      FROM rec a JOIN rec b ON a.event_type = b.event_type AND a.rn < b.rn),
         |sgg AS (SELECT event_type, sum(sg)::BIGINT AS s FROM p GROUP BY 1),
         |nn AS (SELECT event_type, count(*)::BIGINT AS n FROM rec GROUP BY 1),
         |tie AS (SELECT event_type, sum(c * (c - 1) * (2 * c + 5)) AS tie_sum
         |        FROM (SELECT event_type, l, count(*)::BIGINT AS c FROM rec GROUP BY 1, 2) GROUP BY 1),
         |st AS (SELECT sgg.event_type, sgg.s, nn.n,
         |         (nn.n * (nn.n - 1) * (2 * nn.n + 5) - coalesce(tie.tie_sum, 0)) / 18.0 AS var_s
         |       FROM sgg JOIN nn ON sgg.event_type = nn.event_type
         |       LEFT JOIN tie ON sgg.event_type = tie.event_type)
         |SELECT event_type, s,
         |  round(s / (n * (n - 1) / 2.0), 6) AS tau,
         |  round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
         |             WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0.0 END, 6) AS z,
         |  CASE WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s) WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0.0 END) > 1.96 THEN 1
         |       WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s) WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0.0 END) < -1.96 THEN -1
         |       ELSE 0 END AS trend
         |FROM st""".stripMargin,

    "q_mk_multivariate" ->
      s"""WITH hourly AS ($H),
         |um AS (SELECT event_type, 'v' AS m, ts, value AS v FROM hourly
         |       UNION ALL SELECT event_type, 'n' AS m, ts, n::DOUBLE AS v FROM hourly),
         |p AS (SELECT a.event_type, a.m, sign(b.v - a.v) AS sg
         |      FROM um a JOIN um b ON a.event_type = b.event_type AND a.m = b.m AND a.ts < b.ts),
         |sgg AS (SELECT event_type, m, sum(sg)::BIGINT AS s FROM p GROUP BY 1, 2),
         |nn AS (SELECT event_type, m, count(*)::BIGINT AS cnt FROM um GROUP BY 1, 2),
         |tie AS (SELECT event_type, m, sum(c * (c - 1) * (2 * c + 5)) AS tie_sum
         |        FROM (SELECT event_type, m, v, count(*)::BIGINT AS c FROM um GROUP BY 1, 2, 3) GROUP BY 1, 2),
         |st AS (SELECT sgg.event_type, sgg.m, sgg.s,
         |         round((nn.cnt * (nn.cnt - 1) * (2 * nn.cnt + 5) - coalesce(tie.tie_sum, 0)) / 18.0, 6) AS var_s,
         |         nn.cnt * (nn.cnt - 1) / 2.0 AS denom
         |       FROM sgg JOIN nn ON sgg.event_type = nn.event_type AND sgg.m = nn.m
         |       LEFT JOIN tie ON sgg.event_type = tie.event_type AND sgg.m = tie.m),
         |w AS (SELECT event_type,
         |        max(CASE WHEN m = 'v' THEN s END) AS s_value,
         |        max(CASE WHEN m = 'v' THEN var_s END) AS var_value,
         |        max(CASE WHEN m = 'v' THEN denom END) AS denom_value,
         |        max(CASE WHEN m = 'n' THEN s END) AS s_n,
         |        max(CASE WHEN m = 'n' THEN var_s END) AS var_n,
         |        max(CASE WHEN m = 'n' THEN denom END) AS denom_n
         |      FROM st GROUP BY 1),
         |f AS (SELECT *, s_value + s_n AS s_total, var_value + var_n AS var_total FROM w),
         |g AS (SELECT *, CASE WHEN s_total > 0 THEN (s_total - 1) / sqrt(var_total)
         |                     WHEN s_total < 0 THEN (s_total + 1) / sqrt(var_total)
         |                     ELSE 0.0 END AS z FROM f)
         |SELECT event_type, s_value, round(s_value / denom_value, 6) AS tau_value,
         |  s_n, round(s_n / denom_n, 6) AS tau_n,
         |  s_total::BIGINT AS s_total,
         |  round((s_value + s_n) / (denom_value + denom_n), 6) AS tau_overall,
         |  round(z, 6) AS z_overall,
         |  CASE WHEN z > 1.96 THEN 1 WHEN z < -1.96 THEN -1 ELSE 0 END AS trend
         |FROM g""".stripMargin,

    "q_residual_prob" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, ts, value,
         |        avg(value) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS yhat,
         |        row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn FROM hourly),
         |res AS (SELECT event_type, ts, round(value - yhat, 6) AS r FROM ord WHERE rn > 7),
         |par AS (SELECT event_type, count(*) AS n,
         |          (quantile_cont(r, 0.95) - quantile_cont(r, 0.05)) / 10.0 AS h
         |        FROM res GROUP BY 1)
         |SELECT a.event_type, epoch_us(a.ts)//1000000 AS ts_s, a.r AS resid,
         |  round(CASE WHEN h = 0 THEN 0.0
         |             ELSE sum(exp(-0.5 * ((a.r - b.r) / h)^2)) / (n * h * sqrt(2 * pi()))
         |        END, 6) AS proba
         |FROM res a JOIN res b ON a.event_type = b.event_type
         |JOIN par ON a.event_type = par.event_type
         |GROUP BY 1, 2, 3, n, h""".stripMargin
  )
}
