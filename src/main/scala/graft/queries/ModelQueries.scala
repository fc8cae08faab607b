package graft.queries

import graft._
import graft.models.{Arima, GaussJordan, Regressors, Smoothers}
import graft.operators.Decompose
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.4 forecasting models — every one DuckDB-oracle-checked.
  * Closed-form fits (linear/quadratic via Cramer, AR(2) Yule-Walker,
  * STLF, ensembles, VAR normal equations) check directly; sequential
  * kernels (SES/Holt/Holt-Winters incl. SSE-grid fits, theta, ARIMA,
  * SARIMA, prophet/harmonic ridge fits) are REPLAYED in the oracle via
  * recursive CTEs and generated Gauss-Jordan eliminations.
  */
object ModelQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private def hourly(s: SparkSession, dir: String) = Tables.hourlyEvents(s, dir).drop("n")
  private val H = Tables.hourlySql

  // ---- Spark-side closed-form fits ------------------------------------

  private def linearFit(df: DataFrame): DataFrame =
    df.withColumn("_t", (row_number().over(S.orderedWindow) - 1).cast("double"))
      .groupBy("event_type")
      .agg(regr_intercept(col("value"), col("_t")).as("a"),
           regr_slope(col("value"), col("_t")).as("b"),
           count(lit(1)).as("n"))

  private def quadraticFit(df: DataFrame): DataFrame = {
    val wKey = Window.partitionBy("event_type")
    val base = df
      .withColumn("_rn", row_number().over(S.orderedWindow))
      .withColumn("_n", count(lit(1)).over(wKey))
      .withColumn("_u", col("_rn") - 1 - (col("_n") - 1) / 2.0)
    val u = col("_u"); val y = col("value")
    base.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("s0"),
      sum(u).as("s1"), sum(u * u).as("s2"), sum(u * u * u).as("s3"), sum(u * u * u * u).as("s4"),
      sum(y).as("t0"), sum(u * y).as("t1"), sum(u * u * y).as("t2"))
      .withColumn("det",
        col("s0") * (col("s2") * col("s4") - col("s3") * col("s3"))
          - col("s1") * (col("s1") * col("s4") - col("s3") * col("s2"))
          + col("s2") * (col("s1") * col("s3") - col("s2") * col("s2")))
      .withColumn("qa",
        (col("t0") * (col("s2") * col("s4") - col("s3") * col("s3"))
          - col("s1") * (col("t1") * col("s4") - col("s3") * col("t2"))
          + col("s2") * (col("t1") * col("s3") - col("s2") * col("t2"))) / col("det"))
      .withColumn("qb",
        (col("s0") * (col("t1") * col("s4") - col("s3") * col("t2"))
          - col("t0") * (col("s1") * col("s4") - col("s3") * col("s2"))
          + col("s2") * (col("s1") * col("t2") - col("t1") * col("s2"))) / col("det"))
      .withColumn("qc",
        (col("s0") * (col("s2") * col("t2") - col("t1") * col("s3"))
          - col("s1") * (col("s1") * col("t2") - col("t1") * col("s2"))
          + col("t0") * (col("s1") * col("s3") - col("s2") * col("s2"))) / col("det"))
  }

  private def quadF(h: Int): Column = {
    val uf = (col("s0") - 1) / 2.0 + h
    col("qa") + col("qb") * uf + col("qc") * uf * uf
  }

  private def ar2Fit(df: DataFrame): DataFrame = {
    val wKey = Window.partitionBy("event_type")
    val base = df
      .withColumn("_mu", avg("value").over(wKey))
      .withColumn("_dev", col("value") - col("_mu"))
      .withColumn("_d1", lag("_dev", 1).over(S.orderedWindow))
      .withColumn("_d2", lag("_dev", 2).over(S.orderedWindow))
      .withColumn("_rn", row_number().over(S.orderedWindow))
      .withColumn("_n", count(lit(1)).over(wKey))
    base.groupBy("event_type").agg(
      (sum(col("_dev") * col("_d1")) / sum(col("_dev") * col("_dev"))).as("r1"),
      (sum(col("_dev") * col("_d2")) / sum(col("_dev") * col("_dev"))).as("r2"),
      max("_mu").as("mu"),
      max(when(col("_rn") === col("_n"), col("value"))).as("xn"),
      max(when(col("_rn") === col("_n") - 1, col("value"))).as("xn1"))
      .withColumn("phi1", col("r1") * (lit(1.0) - col("r2")) / (lit(1.0) - col("r1") * col("r1")))
      .withColumn("phi2", (col("r2") - col("r1") * col("r1")) / (lit(1.0) - col("r1") * col("r1")))
      .withColumn("f1", col("mu") + col("phi1") * (col("xn") - col("mu")) + col("phi2") * (col("xn1") - col("mu")))
      .withColumn("f2", col("mu") + col("phi1") * (col("f1") - col("mu")) + col("phi2") * (col("xn") - col("mu")))
  }

  /** STL-forecast (stlf.py): linear trend on the deseasonalized series,
    * re-seasonalized at the forecast hour. `seasonal` is constant per
    * (series, hour-of-day) by construction of Decompose.additive.
    */
  private def stlfFit(df: DataFrame): DataFrame = {
    val d = Decompose.additive(df, S)
      .withColumn("_deseason", col("value") - col("seasonal"))
      .withColumn("_t", (row_number().over(S.orderedWindow) - 1).cast("double"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("_hod", hour(col("ts")))
    val fit = d.groupBy("event_type")
      .agg(regr_intercept(col("_deseason"), col("_t")).as("a"),
           regr_slope(col("_deseason"), col("_t")).as("b"),
           count(lit(1)).as("n"),
           max(when(col("_t") === col("_n") - 1, col("_hod"))).as("last_hod"))
    val seas = d.select(col("event_type"), col("_hod"), col("seasonal")).distinct()
    // horizon 1 and 24: hod_f = (last_hod + h) mod 24
    fit
      .withColumn("hod1", (col("last_hod") + 1) % 24)
      .withColumn("hod24", (col("last_hod") + 24) % 24)
      .join(seas.withColumnRenamed("_hod", "hod1").withColumnRenamed("seasonal", "seas1"), Seq("event_type", "hod1"))
      .join(seas.withColumnRenamed("_hod", "hod24").withColumnRenamed("seasonal", "seas24"), Seq("event_type", "hod24"))
      .withColumn("f1", col("a") + col("b") * (col("n") - 1 + 1) + col("seas1"))
      .withColumn("f24", col("a") + col("b") * (col("n") - 1 + 24) + col("seas24"))
  }

  // ---- SQL fragments ----------------------------------------------------

  private val linearSqlCte =
    """lin AS (
      |  SELECT event_type, regr_intercept(value, t) AS a, regr_slope(value, t) AS b, count(*) AS n
      |  FROM (SELECT event_type, value,
      |        (row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1)::DOUBLE AS t FROM hourly)
      |  GROUP BY 1)""".stripMargin

  private val quadSqlCte =
    """qsum AS (
      |  SELECT event_type, count(*)::DOUBLE AS s0,
      |    sum(u) AS s1, sum(u*u) AS s2, sum(u*u*u) AS s3, sum(u*u*u*u) AS s4,
      |    sum(value) AS t0, sum(u*value) AS t1, sum(u*u*value) AS t2
      |  FROM (SELECT event_type, value,
      |        (row_number() OVER (PARTITION BY event_type ORDER BY ts)) - 1
      |          - (count(*) OVER (PARTITION BY event_type) - 1) / 2.0 AS u
      |        FROM hourly)
      |  GROUP BY 1),
      |quad AS (
      |  SELECT *,
      |    s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2) AS det,
      |    (t0*(s2*s4 - s3*s3) - s1*(t1*s4 - s3*t2) + s2*(t1*s3 - s2*t2)) /
      |      (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS qa,
      |    (s0*(t1*s4 - s3*t2) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - t1*s2)) /
      |      (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS qb,
      |    (s0*(s2*t2 - t1*s3) - s1*(s1*t2 - t1*s2) + t0*(s1*s3 - s2*s2)) /
      |      (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS qc
      |  FROM qsum)""".stripMargin

  // Source-parameterized twins of linearSqlCte / quadSqlCte / the q_theta
  // replay, for queries that fit on a derived series (q_kats_ensemble fits
  // on the deseasonalized CTE, not on `hourly`).
  private def linearSqlCteOn(src: String, name: String): String =
    s"""$name AS (
       |  SELECT event_type, regr_intercept(value, t) AS a, regr_slope(value, t) AS b, count(*) AS n
       |  FROM (SELECT event_type, value,
       |        (row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1)::DOUBLE AS t FROM $src)
       |  GROUP BY 1)""".stripMargin

  private def quadSqlCteOn(src: String, name: String): String =
    s"""${name}_sum AS (
       |  SELECT event_type, count(*)::DOUBLE AS s0,
       |    sum(u) AS s1, sum(u*u) AS s2, sum(u*u*u) AS s3, sum(u*u*u*u) AS s4,
       |    sum(value) AS t0, sum(u*value) AS t1, sum(u*u*value) AS t2
       |  FROM (SELECT event_type, value,
       |        (row_number() OVER (PARTITION BY event_type ORDER BY ts)) - 1
       |          - (count(*) OVER (PARTITION BY event_type) - 1) / 2.0 AS u
       |        FROM $src)
       |  GROUP BY 1),
       |$name AS (
       |  SELECT *,
       |    (t0*(s2*s4 - s3*s3) - s1*(t1*s4 - s3*t2) + s2*(t1*s3 - s2*t2)) /
       |      (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS qa,
       |    (s0*(t1*s4 - s3*t2) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - t1*s2)) /
       |      (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS qb,
       |    (s0*(s2*t2 - t1*s3) - s1*(s1*t2 - t1*s2) + t0*(s1*s3 - s2*s2)) /
       |      (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS qc
       |  FROM ${name}_sum)""".stripMargin

  /** Theta(0.2) state at the end of series `src`, as CTE `name` with
    * (event_type, a, b, n, zf) — forecast h ahead is 0.5*(zf + a + b*(n-1+h)).
    * Same closed-form power-sum replay as the q_theta oracle. */
  private def thetaSqlCteOn(src: String, name: String): String =
    s"""${name}_ord AS (SELECT event_type, value,
       |        (row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1)::DOUBLE AS t,
       |        count(*) OVER (PARTITION BY event_type) AS n FROM $src),
       |${name}_fit AS (SELECT event_type, regr_slope(value, t) AS b, regr_intercept(value, t) AS a, max(n) AS n
       |        FROM ${name}_ord GROUP BY 1),
       |${name}_z AS (SELECT o.event_type, o.t + 1 AS rn, f.n, f.a, f.b,
       |        2 * o.value - (f.a + f.b * o.t) AS z
       |      FROM ${name}_ord o JOIN ${name}_fit f ON o.event_type = f.event_type),
       |$name AS (SELECT event_type, max(a) AS a, max(b) AS b, max(n) AS n,
       |        sum(CASE WHEN rn = 1 THEN pow(1 - 0.2, n - 1) * z
       |                 ELSE 0.2 * pow(1 - 0.2, n - rn) * z END) AS zf
       |      FROM ${name}_z GROUP BY 1)""".stripMargin

  private val stlfSqlCte =
    s"""${Decompose.additiveSql},
       |ds AS (SELECT event_type, ts, value - seasonal AS deseason, seasonal, hour(ts) AS hod,
       |  (row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1)::DOUBLE AS t,
       |  count(*) OVER (PARTITION BY event_type) AS n
       |  FROM decomp),
       |sfit AS (SELECT event_type, regr_intercept(deseason, t) AS a, regr_slope(deseason, t) AS b,
       |  max(n) AS n, max(CASE WHEN t = n - 1 THEN hod END) AS last_hod
       |  FROM ds GROUP BY 1),
       |seas AS (SELECT DISTINCT event_type, hod, seasonal FROM ds),
       |stlf AS (
       |  SELECT f.event_type,
       |    f.a + f.b * (f.n - 1 + 1) + s1.seasonal AS f1,
       |    f.a + f.b * (f.n - 1 + 24) + s24.seasonal AS f24
       |  FROM sfit f
       |  JOIN seas s1 ON f.event_type = s1.event_type AND s1.hod = (f.last_hod + 1) % 24
       |  JOIN seas s24 ON f.event_type = s24.event_type AND s24.hod = (f.last_hod + 24) % 24)""".stripMargin

  // ---- queries ----------------------------------------------------------

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_linear_trend" -> ((s, dir) =>
      linearFit(hourly(s, dir)).select(
        col("event_type"), round(col("a"), 6).as("intercept"), round(col("b"), 6).as("slope"),
        round(col("a") + col("b") * (col("n") - 1 + 1), 6).as("yhat_1"),
        round(col("a") + col("b") * (col("n") - 1 + 24), 6).as("yhat_24"))),

    "q_quadratic_trend" -> ((s, dir) =>
      quadraticFit(hourly(s, dir)).select(
        col("event_type"), round(col("qa"), 6).as("qa"), round(col("qb"), 6).as("qb"), round(col("qc"), 6).as("qc"),
        round(quadF(1), 6).as("yhat_1"), round(quadF(24), 6).as("yhat_24"))),

    "q_ar2" -> ((s, dir) =>
      ar2Fit(hourly(s, dir)).select(
        col("event_type"), round(col("phi1"), 6).as("phi1"), round(col("phi2"), 6).as("phi2"),
        round(col("f1"), 6).as("yhat_1"), round(col("f2"), 6).as("yhat_2"))),

    "q_stlf" -> ((s, dir) =>
      stlfFit(hourly(s, dir)).select(
        col("event_type"), round(col("f1"), 6).as("yhat_1"), round(col("f24"), 6).as("yhat_24"))),

    "q_ensemble" -> ((s, dir) => {
      val h = hourly(s, dir)
      val lin = linearFit(h).select(col("event_type"), (col("a") + col("b") * (col("n") - 1 + 24)).as("f_lin"))
      val quad = quadraticFit(h).select(col("event_type"), quadF(24).as("f_quad"))
      val stlf = stlfFit(h).select(col("event_type"), col("f24").as("f_stlf"))
      lin.join(quad, "event_type").join(stlf, "event_type")
        .withColumn("ens_median",
          col("f_lin") + col("f_quad") + col("f_stlf")
            - greatest(col("f_lin"), col("f_quad"), col("f_stlf"))
            - least(col("f_lin"), col("f_quad"), col("f_stlf")))
        .select(col("event_type"), round(col("f_lin"), 6).as("f_lin"), round(col("f_quad"), 6).as("f_quad"),
          round(col("f_stlf"), 6).as("f_stlf"), round(col("ens_median"), 6).as("ens_median"))
    }),

    /** KatsEnsemble (kats/models/ensemble/kats_ensemble.py:80): the
      * decomposition-based holistic ensemble. ACF seasonality gate
      * (seasonality_detector, :149) decides per series whether to
      * deseasonalize; base models (linear / quadratic / theta) fit on the
      * deseasonalized series; forecasts are re-seasonalized by tiling the
      * seasonal unit at the target hour (reseasonalize, :193 — for h=24
      * and period 24 that is the last observation's hour) and median-
      * aggregated. Every stage is a proven oracle kernel, composed into
      * one declarative plan: two series-keyed window shuffles (gate +
      * decompose) feeding three per-series aggregates — no new shuffle
      * shape vs q_ensemble at 100 TB.
      */
    "q_kats_ensemble" -> ((s, dir) => {
      val h = hourly(s, dir)
      // the gate runs on the GAP-FREE grid: seasonalityAcf lags rows, so
      // lag 24 only means "24 hours" on a dense series (q_seasonality_acf
      // makes the same choice); decompose/fits stay on hourly like q_stlf
      val gate = graft.detectors.Detectors.seasonalityAcf(Tables.denseHourly(s, dir), S, Seq(24))
        .select(col("event_type"), col("seasonal").as("is_seasonal"))
      val dec = Decompose.additive(h, S)
      val dsv = dec.join(broadcast(gate), "event_type")
        .select(col("event_type"), col("ts"),
          (col("value") - col("seasonal") * col("is_seasonal")).as("value"))
      val lin = linearFit(dsv).select(col("event_type"),
        (col("a") + col("b") * (col("n") - 1 + 24)).as("d_lin"))
      val quad = quadraticFit(dsv).select(col("event_type"), quadF(24).as("d_quad"))
      val th = SeriesOps.aggSeries(dsv, S, Seq("d_theta")) { xs =>
        Array(Smoothers.theta(xs, 24))
      }
      val seas = dec.select(col("event_type"), hour(col("ts")).as("hod"), col("seasonal")).distinct()
      val starget = h.groupBy("event_type").agg(hour(max("ts")).as("last_hod"))
        .withColumn("hod", (col("last_hod") + 24) % 24)
        .join(seas, Seq("event_type", "hod"))
        .select(col("event_type"), col("seasonal").as("s24"))
      lin.join(quad, "event_type").join(th, "event_type")
        .join(broadcast(starget), "event_type").join(broadcast(gate), "event_type")
        .withColumn("f_lin", col("d_lin") + col("s24") * col("is_seasonal"))
        .withColumn("f_quad", col("d_quad") + col("s24") * col("is_seasonal"))
        .withColumn("f_theta", col("d_theta") + col("s24") * col("is_seasonal"))
        .select(col("event_type"), col("is_seasonal"),
          round(col("f_lin"), 6).as("f_lin"), round(col("f_quad"), 6).as("f_quad"),
          round(col("f_theta"), 6).as("f_theta"),
          round(col("f_lin") + col("f_quad") + col("f_theta")
            - greatest(col("f_lin"), col("f_quad"), col("f_theta"))
            - least(col("f_lin"), col("f_quad"), col("f_theta")), 6).as("ens_median"))
    }),

    "q_nowcasting" -> ((s, dir) => {
      val w = S.orderedWindow
      val wk = w.rowsBetween(-11, 0)
      hourly(s, dir)
        .withColumn("lag_12", lag("value", 12).over(w))
        .withColumn("roc_12", round(when(col("lag_12") =!= 0, (col("value") - col("lag_12")) / col("lag_12")), 6))
        .withColumn("mom_12", round(col("value") - col("lag_12"), 6))
        .withColumn("ma_12", round(avg("value").over(wk), 6))
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("value"),
          col("lag_12"), col("roc_12"), col("mom_12"), col("ma_12"))
    }),

    "q_ses" -> ((s, dir) =>
      SeriesOps.aggSeries(hourly(s, dir), S, Seq("level")) { xs =>
        Array(Smoothers.ses(xs, 0.3))
      }),

    "q_holt" -> ((s, dir) =>
      SeriesOps.aggSeries(hourly(s, dir), S, Seq("level", "trend", "yhat_1", "yhat_24")) { xs =>
        val (l, b) = Smoothers.holt(xs, 0.3, 0.1)
        Array(l, b, l + b, l + 24 * b)
      }),

    "q_holtwinters" -> ((s, dir) =>
      SeriesOps.aggSeries(Tables.denseHourly(s, dir), S, Seq("level", "trend", "yhat_1", "yhat_24")) { xs =>
        val m = 24
        val (l, b, seas) = Smoothers.holtWinters(xs, m, 0.3, 0.05, 0.1)
        val n = xs.length
        def f(h: Int) = l + h * b + seas((n + h - 1) % m)
        Array(l, b, f(1), f(24))
      }),

    "q_theta" -> ((s, dir) =>
      SeriesOps.aggSeries(hourly(s, dir), S, Seq("yhat_1", "yhat_24")) { xs =>
        Array(Smoothers.theta(xs, 1), Smoothers.theta(xs, 24))
      }),

    "q_harmonic_regression" -> ((s, dir) =>
      SeriesOps.aggSeries(Tables.denseHourly(s, dir), S, Seq("yhat_1", "yhat_24", "r2")) { xs =>
        val (fc, r2) = Regressors.harmonic(xs, period = 24, orders = 3, h = 24)
        Array(fc(0), fc(23), r2)
      }),

    // prophet additive model via the EXACT Laplace-prior MAP (round 11 —
    // the ridge stand-in is gone): orthant enumeration over changepoint
    // signs, closed-form subset normal equations per orthant, feasibility
    // + argmin objective. n_active counts the surviving (nonzero)
    // changepoints — the sparsity the Laplace prior exists to produce.
    "q_prophet_lite" -> ((s, dir) =>
      SeriesOps.aggSeries(Tables.denseHourly(s, dir), S, Seq("n_active", "yhat_1", "yhat_12", "yhat_24")) { xs =>
        val (na, fc) = Regressors.prophetMap(xs, period = 24, orders = 3, nChangepoints = 4, h = 24)
        Array(na.toDouble, fc(0), fc(11), fc(23))
      }.withColumn("n_active", col("n_active").cast("long"))),

    // prophet growth='logistic' + capacity (prophet.py:42/:86): the same
    // Laplace-MAP fit on the logit of the capacity share, back through
    // cap·σ(ẑ) — forecasts saturate below cap by construction
    "q_prophet_logistic" -> ((s, dir) =>
      SeriesOps.aggSeries(Tables.denseHourly(s, dir), S, Seq("cap", "n_active", "yhat_1", "yhat_12", "yhat_24")) { xs =>
        val (cap, na, fc) = Regressors.prophetLogisticMap(xs, period = 24, orders = 3, nChangepoints = 4, h = 24)
        Array(cap, na.toDouble, fc(0), fc(11), fc(23))
      }.withColumn("n_active", col("n_active").cast("long"))),

    // ARIMA(2,1,1) via Hannan-Rissanen (kats/models/arima.py) — the
    // most-reached-for Kats model, now with an actual (deterministic) fit
    "q_arima" -> ((s, dir) =>
      SeriesOps.aggSeries(hourly(s, dir), S,
        Seq("c", "phi1", "phi2", "theta1", "sigma2", "yhat_1", "yhat_24")) { xs =>
        val f = Arima.fit(xs, p = 2, d = 1, q = 1)
        val fc = Arima.forecast(xs, p = 2, d = 1, q = 1, h = 24)
        Array(f.c, f.phi(0), f.phi(1), f.theta(0), f.sigma2, fc(0), fc(23))
      }),

    // fitted-parameter smoothing (kats holtwinters.py optimizes α/β/γ;
    // deterministic SSE-grid here) — also the source of the tsfeatures
    // get_holt_params / get_hw_params features
    "q_holt_params" -> ((s, dir) =>
      SeriesOps.aggSeries(hourly(s, dir), S,
        Seq("ses_alpha", "ses_level", "holt_alpha", "holt_beta", "holt_level", "holt_trend")) { xs =>
        val (sa, sl, _) = Smoothers.sesOpt(xs)
        val (ha, hb, hl, ht, _) = Smoothers.holtOpt(xs)
        Array(sa, sl, ha, hb, hl, ht)
      }),

    "q_holtwinters_opt" -> ((s, dir) =>
      SeriesOps.aggSeries(Tables.denseHourly(s, dir), S,
        Seq("alpha", "beta", "gamma", "level", "trend", "yhat_1", "yhat_24")) { xs =>
        val m = 24
        val (a, b, g, l, tr, seas, _) = Smoothers.holtWintersOpt(xs, m)
        val n = xs.length
        def f(h: Int) = l + h * tr + seas((n + h - 1) % m)
        Array(a, b, g, l, tr, f(1), f(24))
      }),

    /** Backtester-weighted ensemble (kats/models/ensemble/weighted): the
      * three closed-form forecasters weighted by inverse in-sample RMSE.
      * Every piece is the oracle-proven fit, so the whole is oracle-green.
      */
    "q_ensemble_weighted" -> ((s, dir) => {
      val h = hourly(s, dir)
      val tb = h.withColumn("_t", (row_number().over(S.orderedWindow) - 1).cast("double"))
      val linR = tb.join(broadcast(linearFit(h)), "event_type")
        .groupBy("event_type")
        .agg(sqrt(avg(pow(col("value") - (col("a") + col("b") * col("_t")), 2))).as("rmse_lin"),
          max(col("a") + col("b") * (col("n") - 1 + 24)).as("f_lin"))
      val ub = h.withColumn("_rn", row_number().over(S.orderedWindow))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("_u", col("_rn") - 1 - (col("_n") - 1) / 2.0)
      val quadR = ub.join(broadcast(quadraticFit(h).select("event_type", "qa", "qb", "qc", "s0")), "event_type")
        .groupBy("event_type")
        .agg(sqrt(avg(pow(col("value") - (col("qa") + col("qb") * col("_u") + col("qc") * col("_u") * col("_u")), 2))).as("rmse_quad"),
          max(col("qa") + col("qb") * ((col("s0") - 1) / 2.0 + 24) + col("qc") * pow((col("s0") - 1) / 2.0 + 24, 2)).as("f_quad"))
      val dstl = Decompose.additive(h, S)
        .withColumn("_deseason", col("value") - col("seasonal"))
        .withColumn("_t", (row_number().over(S.orderedWindow) - 1).cast("double"))
      val stlfR = dstl.join(broadcast(stlfFit(h).select("event_type", "a", "b", "f24")), "event_type")
        .groupBy("event_type")
        .agg(sqrt(avg(pow(col("_deseason") - (col("a") + col("b") * col("_t")), 2))).as("rmse_stlf"),
          max("f24").as("f_stlf"))
      linR.join(quadR, "event_type").join(stlfR, "event_type")
        .withColumn("iw", lit(1.0) / col("rmse_lin") + lit(1.0) / col("rmse_quad") + lit(1.0) / col("rmse_stlf"))
        .withColumn("w_lin", (lit(1.0) / col("rmse_lin")) / col("iw"))
        .withColumn("w_quad", (lit(1.0) / col("rmse_quad")) / col("iw"))
        .withColumn("w_stlf", (lit(1.0) / col("rmse_stlf")) / col("iw"))
        .select(col("event_type"),
          round(col("w_lin"), 6).as("w_lin"), round(col("w_quad"), 6).as("w_quad"),
          round(col("w_stlf"), 6).as("w_stlf"),
          round(col("w_lin") * col("f_lin") + col("w_quad") * col("f_quad") + col("w_stlf") * col("f_stlf"), 6).as("f_weighted"))
    }),

    // prophet-residual anomaly detector (prophet_detector.py): per-row
    // fitted values of the prophetLite model, residual z-scores, |z| > 3
    "q_prophet_detector" -> ((s, dir) => {
      val fitted = SeriesOps.mapSeries(Tables.denseHourly(s, dir), S, "fitted") { xs =>
        Regressors.prophetLiteFitted(xs, period = 24, orders = 3, nChangepoints = 4)
      }
      val wk = Window.partitionBy("event_type")
      fitted
        .withColumn("resid", col("value") - col("fitted"))
        .withColumn("z", (col("resid") - avg("resid").over(wk)) / stddev_samp(col("resid")).over(wk))
        .where(abs(col("z")) > 3.0)
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("value"),
          col("fitted"), round(col("z"), 6).as("z"))
    }),

    // SARIMA-lite (1,1,0)(1,1,0)_24 additive AR (sarima.py re-derived)
    "q_sarima" -> ((s, dir) =>
      SeriesOps.aggSeries(Tables.denseHourly(s, dir), S, Seq("c", "phi", "sphi", "sigma2", "yhat_1", "yhat_24")) { xs =>
        val (c, p, sp, s2) = Regressors.sarimaFit(xs, 24)
        val fc = Regressors.sarimaForecast(xs, 24, 24)
        Array(c, p, sp, s2, fc(0), fc(23))
      }),

    // broader order: SARIMA-lite (2,1,0)(1,1,0)_24 — the generalized
    // AR(p) kernel, ridged normal equations shared with the oracle
    "q_sarima2" -> ((s, dir) =>
      SeriesOps.aggSeries(Tables.denseHourly(s, dir), S,
        Seq("c", "phi1", "phi2", "sphi", "sigma2", "yhat_1", "yhat_24")) { xs =>
        val (b, s2) = Regressors.sarimaFitP(xs, 24, 2)
        val fc = Regressors.sarimaForecastP(xs, 24, 2, 24)
        Array(b(0), b(1), b(2), b(3), s2, fc(0), fc(23))
      }),

    /** Keyed multivariate VAR(1): per event_type, the 2-dim series
      * (value, n) regressed on its own lag via closed-form 3×3 normal
      * equations — a pure keyed aggregate plan (one shuffle, partial
      * map-side aggregation, NO collect_list, NO driver work), so the
      * scale axis is #entities exactly like every other SeriesOps
      * operator. Shared Cramer SQL keeps Spark and the oracle identical.
      */
    "q_var" -> ((s, dir) => {
      val fit = varFit(s, dir)
      // both equations explode from ONE aggregated fit row — a union of
      // two fit.select branches would inline (and re-scan) the whole
      // aggregation pipeline twice
      def eqStruct(varName: String, sy: String) =
        struct(lit(varName).as("var"),
          expr(VarSql.c(sy)).as("c"), expr(VarSql.a(sy)).as("a"), expr(VarSql.b(sy)).as("b"))
      fit.select(col("event_type"), col("last1"), col("last2"),
          explode(array(eqStruct("value", "sy1"), eqStruct("n", "sy2"))).as("eq"))
        .select(col("event_type"), col("eq.var").as("var"),
          round(col("eq.c"), 6).as("intercept"),
          round(col("eq.a"), 6).as("coef_value"),
          round(col("eq.b"), 6).as("coef_n"),
          round(col("eq.c") + col("eq.a") * col("last1") + col("eq.b") * col("last2"), 6).as("yhat_1"))
    }),

    // ── Impulse-response functions + stability of the fitted VAR(1)
    // (the standard econometric readout the reference's VAR stops short
    // of): Ψ_h = A^h from the 6-dp-snapped coefficient matrix (so both
    // engines run the identical 2×2 multiply chain), reported at
    // h ∈ {1, 6, 12}, plus the spectral stability check — max |eigenvalue|
    // of A from the closed-form 2×2 eigenvalues (complex pair modulus
    // √det when the discriminant is negative). Pure column math off the
    // one varFit aggregation; the oracle carries the matrix powers in a
    // 12-step recursive CTE. ──
    "q_var_irf" -> ((s, dir) => {
      val a = varFit(s, dir).select(col("event_type"),
        round(expr(VarSql.a("sy1")), 6).as("a11"), round(expr(VarSql.b("sy1")), 6).as("a12"),
        round(expr(VarSql.a("sy2")), 6).as("a21"), round(expr(VarSql.b("sy2")), 6).as("a22"))
      def snap(h: Int) = struct(lit(h).as("h"), col("p11").as("psi11"), col("p12").as("psi12"),
        col("p21").as("psi21"), col("p22").as("psi22"))
      var cur = a
        .withColumn("p11", col("a11")).withColumn("p12", col("a12"))
        .withColumn("p21", col("a21")).withColumn("p22", col("a22"))
        .withColumn("s1", snap(1))
      for (h <- 2 to 12) {
        cur = cur
          .withColumn("t11", col("p11") * col("a11") + col("p12") * col("a21"))
          .withColumn("t12", col("p11") * col("a12") + col("p12") * col("a22"))
          .withColumn("t21", col("p21") * col("a11") + col("p22") * col("a21"))
          .withColumn("t22", col("p21") * col("a12") + col("p22") * col("a22"))
          .withColumn("p11", col("t11")).withColumn("p12", col("t12"))
          .withColumn("p21", col("t21")).withColumn("p22", col("t22"))
          .drop("t11", "t12", "t21", "t22")
        if (h == 6) cur = cur.withColumn("s6", snap(6))
        if (h == 12) cur = cur.withColumn("s12", snap(12))
      }
      cur
        .withColumn("tr", col("a11") + col("a22"))
        .withColumn("det", col("a11") * col("a22") - col("a12") * col("a21"))
        .withColumn("disc", col("tr") * col("tr") - lit(4.0) * col("det"))
        .withColumn("max_eig_mod", round(
          when(col("disc") >= 0, greatest(
            abs((col("tr") + sqrt(col("disc"))) / 2),
            abs((col("tr") - sqrt(col("disc"))) / 2)))
            .otherwise(sqrt(col("det"))), 6))
        .withColumn("stable", col("max_eig_mod") < 1.0)
        .select(col("event_type"), col("max_eig_mod"), col("stable"),
          explode(array(col("s1"), col("s6"), col("s12"))).as("z"))
        .select(col("event_type"), col("z.h").as("h"),
          // + 0.0 folds IEEE −0.0 (tiny negative responses rounded away)
          // to +0.0 so both engines serialize the same zero
          (round(col("z.psi11"), 6) + lit(0.0)).as("psi11"),
          (round(col("z.psi12"), 6) + lit(0.0)).as("psi12"),
          (round(col("z.psi21"), 6) + lit(0.0)).as("psi21"),
          (round(col("z.psi22"), 6) + lit(0.0)).as("psi22"),
          col("max_eig_mod"), col("stable"))
    }),

    /** Minnesota-prior Bayesian VAR(1) (kats/models/bayesian_var.py:73
      * re-derived): per event_type, the 2-dim series (value, n) with a
      * scaled-time exogenous regressor, conjugate normal posterior
      * mean = (V0⁻¹ + Σ⁻¹⊗S)⁻¹ (V0⁻¹μ0 + (Σ⁻¹⊗)Σzy). The plan is a pure
      * keyed aggregate of 25 moment sums followed by two unrolled
      * Gauss-Jordan solves (4×6 for Σ_ols, 8×9 for the posterior) as
      * chained `transform` Projects — no UDF, no collect_list; the scale
      * axis is #entities. Every arithmetic fragment is ONE shared SQL
      * string used verbatim by Spark `expr` and the DuckDB oracle, and the
      * moments are rounded to a shared grid, so downstream algebra is
      * bit-identical across engines regardless of aggregation order.
      *
      * Deviations from the reference, both documented: the exogenous time
      * index is scaled to t/T (pure reparameterization — keeps the normal
      * equations well-conditioned so no-pivot elimination is exact); a
      * 1e-8 ridge on S matches the repo's other OLS fits.
      */
    "q_bayes_var" -> ((s, dir) => {
      import BayesVarSql._
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val base = Tables.hourlyEvents(s, dir)
        .withColumn("y1", col("value"))
        .withColumn("y2", col("n").cast("double"))
        .withColumn("u1", lag("y1", 1).over(w))
        .withColumn("u2", lag("y2", 1).over(w))
        .withColumn("rn", row_number().over(w))
        .withColumn("tt", count(lit(1)).over(wk))
        .withColumn("tn", expr("CAST(rn - 1 AS DOUBLE) / tt"))
      val mom = base.groupBy("event_type")
        .agg(expr(moments.head._2).as(moments.head._1),
          moments.tail.map { case (n, e) => expr(e).as(n) }: _*)
      val solvedS = GaussJordan.eliminate(
        mom.withColumn("_am", expr(amatEntries.mkString("array(", ", ", ")"))), "_am", 4, 6)
      val withBx = Seq("bx11" -> 4, "bx12" -> 10, "bx13" -> 16, "bx14" -> 22,
        "bx21" -> 5, "bx22" -> 11, "bx23" -> 17, "bx24" -> 23)
        .foldLeft(solvedS) { case (d, (n, i)) => d.withColumn(n, expr(s"_am[$i]")) }
      val withA = (sigDefs ++ aDefs).foldLeft(withBx) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
      val solvedM = GaussJordan.eliminate(
        withA.withColumn("_mm", expr(mmatEntries.mkString("array(", ", ", ")"))), "_mm", 8, 9)
      val fin = (1 to 8).foldLeft(solvedM) { (d, r) =>
        d.withColumn(s"mp$r", expr(s"_mm[${(r - 1) * 9 + 8}]"))
      }
      fin.select(col("event_type"),
          explode(array(
            struct(lit("value").as("var"), expr("round(mp1, 6)").as("coef_own"),
              expr("round(mp2, 6)").as("coef_cross"), expr("round(mp3, 6)").as("coef_trend"),
              expr("round(mp4, 6)").as("intercept"), expr(s"round($f1, 6)").as("yhat_1")),
            struct(lit("n").as("var"), expr("round(mp6, 6)").as("coef_own"),
              expr("round(mp5, 6)").as("coef_cross"), expr("round(mp7, 6)").as("coef_trend"),
              expr("round(mp8, 6)").as("intercept"), expr(s"round($f2, 6)").as("yhat_1")))).as("eq"))
        .select(col("event_type"), col("eq.var").as("var"), col("eq.coef_own").as("coef_own"),
          col("eq.coef_cross").as("coef_cross"), col("eq.coef_trend").as("coef_trend"),
          col("eq.intercept").as("intercept"), col("eq.yhat_1").as("yhat_1"))
    })
  )

  /** Generates the recursive-CTE Gauss-Jordan elimination of a p×(p+1)
    * augmented normal-equations system carried as a flattened list.
    * Stable without pivoting because X'X + ridge·I is SPD; agrees with
    * breeze's LAPACK solve to ~1e-12, far inside the 6-dp gate.
    *
    * Expects a CTE `mats(event_type, m)` where m is the row-major
    * p×(p+1) augmented list; emits CTE `beta(event_type, b)` with the
    * solution as a p-list.
    */
  /** Shared ARIMA(2,1,1) Hannan-Rissanen oracle core: everything
    * through the 24-step forecast recursion (`fcrec`), ending inside
    * the WITH clause so consumers append their own CTEs/final select
    * (q_arima adds the parameter projection; q_arima_ci in CiQueries
    * adds the psi-weight variance recursion). */
  private[queries] lazy val arimaCoreSql: String = {
      val m = 8
      val mat1 = {
        val basis = "1.0" +: (1 to m).map(j => s"l$j")
        basis.zipWithIndex.flatMap { case (bi, i) =>
          basis.zipWithIndex.map { case (bj, j) =>
            val s = s"sum(($bi) * ($bj))"
            if (i == j) s"$s + 1e-8" else s
          } :+ s"sum(($bi) * y)"
        }.mkString(",\n           ")
      }
      val mat2 = {
        val basis = Seq("1.0", "l1", "l2", "e1")
        basis.zipWithIndex.flatMap { case (bi, i) =>
          basis.zipWithIndex.map { case (bj, j) =>
            val s = s"sum(($bi) * ($bj))"
            if (i == j) s"$s + 1e-8" else s
          } :+ s"sum(($bi) * y)"
        }.mkString(",\n           ")
      }
      val lagCols = (1 to m).map(j => s"lag(y, $j) OVER w AS l$j").mkString(", ")
      val fit1 = "be.b[1] + " + (1 to m).map(j => s"be.b[${j + 1}] * lg.l$j").mkString(" + ")
      s"""WITH RECURSIVE hourly AS ($H),
         |dy AS (SELECT event_type, ts, value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS y FROM hourly),
         |dyf AS (SELECT event_type, ts, y,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n
         |  FROM dy WHERE y IS NOT NULL),
         |lg AS (SELECT event_type, ts, y, t, n, $lagCols
         |       FROM dyf WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |mats AS (SELECT event_type,
         |         [$mat1] AS m
         |         FROM lg WHERE l$m IS NOT NULL GROUP BY 1),
         |${gaussJordanSql(m + 1)},
         |res AS (SELECT lg.event_type, lg.ts, lg.t, lg.n, lg.y, lg.l1, lg.l2,
         |          CASE WHEN lg.l$m IS NOT NULL THEN lg.y - ($fit1) ELSE 0.0 END AS e
         |        FROM lg JOIN beta be ON lg.event_type = be.event_type),
         |rese AS (SELECT *, lag(e, 1) OVER (PARTITION BY event_type ORDER BY ts) AS e1 FROM res),
         |s2 AS (SELECT * FROM rese WHERE t >= $m),
         |g2mats AS (SELECT event_type,
         |           [$mat2] AS m
         |           FROM s2 GROUP BY 1),
         |${gaussJordanSql(4, "g2")},
         |sig AS (SELECT s.event_type,
         |          sum((s.y - (be.b[1] + be.b[2] * s.l1 + be.b[3] * s.l2 + be.b[4] * s.e1))
         |            * (s.y - (be.b[1] + be.b[2] * s.l1 + be.b[3] * s.l2 + be.b[4] * s.e1))) / count(*) AS sigma2
         |        FROM s2 s JOIN g2beta be ON s.event_type = be.event_type GROUP BY 1),
         |lastv AS (SELECT r.event_type,
         |            max(CASE WHEN r.t = r.n - 1 THEN r.y END) AS ylast,
         |            max(CASE WHEN r.t = r.n - 2 THEN r.y END) AS ylast2,
         |            max(CASE WHEN r.t = r.n - 1 THEN r.e END) AS elast
         |          FROM rese r GROUP BY 1),
         |xlast AS (SELECT event_type, max_by(value, ts) AS xl FROM hourly GROUP BY 1),
         |fcrec AS (
         |  SELECT l.event_type, 0 AS h, l.ylast AS yp, l.ylast2 AS yp2, l.elast AS ep, x.xl AS acc, be.b AS b
         |  FROM lastv l JOIN xlast x ON l.event_type = x.event_type
         |  JOIN g2beta be ON l.event_type = be.event_type
         |  UNION ALL
         |  SELECT event_type, h + 1, ynew, yp, 0.0::DOUBLE, acc + ynew, b
         |  FROM (SELECT event_type, h, yp, yp2, ep, acc, b,
         |          b[1] + b[2] * yp + b[3] * yp2 + b[4] * ep AS ynew
         |        FROM fcrec WHERE h < 24))""".stripMargin
  }

  /** The VAR(1) moment aggregation shared by q_var / q_var_irf: per
    * event_type, the 12 cross moments of (y1, y2) against their lags plus
    * the last observed pair. One keyed window + one aggregation.
    */
  private def varFit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts")
    val wk = Window.partitionBy("event_type")
    val lagged = Tables.hourlyEvents(s, dir)
      .withColumn("y1", col("value"))
      .withColumn("y2", col("n").cast("double"))
      .withColumn("u", lag("y1", 1).over(w))
      .withColumn("v", lag("y2", 1).over(w))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_nn", count(lit(1)).over(wk))
    lagged.where(col("u").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("double").as("s0"),
        sum("u").as("su"), sum("v").as("sv"),
        sum(col("u") * col("u")).as("suu"), sum(col("v") * col("v")).as("svv"),
        sum(col("u") * col("v")).as("suv"),
        sum("y1").as("sy1"), sum(col("y1") * col("u")).as("sy1u"), sum(col("y1") * col("v")).as("sy1v"),
        sum("y2").as("sy2"), sum(col("y2") * col("u")).as("sy2u"), sum(col("y2") * col("v")).as("sy2v"),
        max(when(col("_rn") === col("_nn"), col("y1"))).as("last1"),
        max(when(col("_rn") === col("_nn"), col("y2"))).as("last2"))
  }

  /** Oracle twin of [[Regressors.prophetMap]] (the exact Laplace-MAP
    * orthant enumeration). Consumes a CTE `ord(event_type, y, t, n)` and
    * emits `pwin` (per-pattern solutions ranked by snapped objective;
    * rk = 1 is the MAP) and `pf(event_type, n, yscale)`. Every number the
    * discrete decisions read — moments (6 dp), σ̂² (9 dp), objective
    * (6 dp) — is snapped to the SAME grid the Scala kernel snaps to, and
    * the GJ recursion is the identical arithmetic sequence, so both
    * engines pick the same orthant; the sign-pattern table is generated
    * verbatim from Regressors.prophetPatterns (shared literal). */
  private[queries] lazy val prophetMapCtes: String = {
    val p = 12
    val basis = Seq("1.0", "(t::DOUBLE / n)") ++
      (1 to 4).map(j => s"greatest(0.0, (t - ($j * n / 5.0)) / n)") ++
      (1 to 3).flatMap(k => Seq(s"sin(2 * pi() * $k * t / 24)", s"cos(2 * pi() * $k * t / 24)"))
    val bCols = basis.zipWithIndex.map { case (e, i) => s"$e AS b${i + 1}" }.mkString(",\n         ")
    val gEntries = (0 until p).flatMap(i =>
      (0 until p).map(j => s"round(sum(b${i + 1} * b${j + 1}), 6)")).mkString(", ")
    val xyEntries = (0 until p).map(i => s"round(sum(b${i + 1} * y), 6)").mkString(", ")
    val preEntries = (0 until p).flatMap { i =>
      (0 to p).map { c =>
        if (c == p) s"xy[${i + 1}]"
        else if (c == i) s"g[${i * p + c + 1}] + 1e-4"
        else s"g[${i * p + c + 1}]"
      }
    }.mkString(", ")
    // SEQUENCE-IDENTICAL to Regressors.prophetMapFit.rssOf: a left fold
    // over the per-term list (syy, then −2·bᵢ·xyᵢ per i, then b·b·g per
    // q), NOT grouped list_sums — the association must match the Scala
    // loop term for term or σ̂²/lobj differ by ~1 ulp and a value landing
    // on a rounding boundary makes the engines pick different orthants.
    // list_reduce folds left (acc starts at element 1 = syy), and IEEE
    // acc + (−t) is bit-equal to the loop's acc −= t; a flat list
    // literal sidesteps the binder's 128-deep expression limit an
    // explicit 157-term chain would hit.
    def rssExpr(b: String) =
      "list_reduce([m.syy" +
        (0 until p).map(i => s", -(2 * $b[${i + 1}] * m.xy[${i + 1}])").mkString +
        (0 until p * p).map(q => s", $b[${q / p + 1}] * $b[${q % p + 1}] * m.g[${q + 1}]").mkString +
        "]::DOUBLE[], (acc, x) -> acc + x)"
    val patVals = graft.models.Regressors.prophetPatterns(4).zipWithIndex
      .map { case (s, pid) => s"($pid, ${s.mkString(", ")})" }.mkString(", ")
    val patEntries = (0 until p).flatMap { i =>
      (0 to p).map { c =>
        if (i >= 2 && i < 6) {
          val sj = s"p.s${i - 1}"
          val act =
            if (c == p) s"xy[${i + 1}] - l.l1 * $sj"
            else if (c == i) s"g[${i * p + c + 1}] + 1e-8"
            else s"g[${i * p + c + 1}]"
          val pin = if (c == i) "1.0" else "0.0"
          s"CASE WHEN $sj = 0 THEN $pin ELSE $act END"
        } else if (c == p) s"xy[${i + 1}]"
        else if (c == i) s"g[${i * p + c + 1}] + ${if (i < 2) "l.lkm" else "l.lb"}"
        else s"g[${i * p + c + 1}]"
      }
    }.mkString(",\n           ")
    s"""psc AS (SELECT event_type, greatest(max(abs(y)), 1e-9) AS yscale FROM ord GROUP BY 1),
       |pbs AS (SELECT o.event_type, o.y / s.yscale AS y, o.t, o.n,
       |         $bCols
       |       FROM ord o JOIN psc s ON o.event_type = s.event_type),
       |pmom AS (SELECT event_type, [$gEntries] AS g, [$xyEntries] AS xy,
       |        round(sum(y * y), 6) AS syy, max(n) AS n FROM pbs GROUP BY 1),
       |p0mats AS (SELECT event_type, [$preEntries] AS m FROM pmom),
       |${gaussJordanSql(p, "p0")},
       |psig AS (SELECT m.event_type, round(greatest(${rssExpr("be.b")}, 0.0) / m.n, 9) AS s2
       |        FROM pmom m JOIN p0beta be ON m.event_type = be.event_type),
       |plam AS (SELECT event_type, 20.0 * s2 AS l1, s2 / 100.0 AS lb, s2 / 25.0 AS lkm FROM psig),
       |ppats AS (SELECT * FROM (VALUES $patVals) v(pid, s1, s2, s3, s4)),
       |ppmats AS (SELECT m.event_type, p.pid,
       |           [$patEntries] AS m
       |           FROM pmom m JOIN plam l ON m.event_type = l.event_type CROSS JOIN ppats p),
       |${gaussJordanSql(p, "pp", Seq("event_type", "pid"))},
       |pobj AS (SELECT b.event_type, b.pid, b.b,
       |        (pt.s1 <> 0)::INT + (pt.s2 <> 0)::INT + (pt.s3 <> 0)::INT + (pt.s4 <> 0)::INT AS n_active,
       |        0.5 * ${rssExpr("b.b")}
       |        + (${(3 to 6).map(i => s"l.l1 * abs(b.b[$i])").mkString(" + ")}
       |           + 0.5 * l.lkm * (b.b[1] * b.b[1] + b.b[2] * b.b[2])
       |           + ${(7 to 12).map(i => s"0.5 * l.lb * b.b[$i] * b.b[$i]").mkString(" + ")}) AS lobj
       |        FROM ppbeta b JOIN ppats pt ON b.pid = pt.pid
       |        JOIN plam l ON b.event_type = l.event_type
       |        JOIN pmom m ON b.event_type = m.event_type
       |        WHERE (pt.s1 = 0 OR b.b[3] * pt.s1 > 0) AND (pt.s2 = 0 OR b.b[4] * pt.s2 > 0)
       |          AND (pt.s3 = 0 OR b.b[5] * pt.s3 > 0) AND (pt.s4 = 0 OR b.b[6] * pt.s4 > 0)),
       |pwin AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY round(lobj, 6), pid) AS rk FROM pobj),
       |pf AS (SELECT b.event_type, max(b.n) AS n, max(s.yscale) AS yscale
       |       FROM pbs b JOIN psc s ON b.event_type = s.event_type GROUP BY 1)""".stripMargin
  }

  /** Forecast expression over the MAP winner `w.b` at time `tt` (scaled
    * series — multiply by pf.yscale outside). */
  private[queries] def prophetFcExpr(tt: String): String =
    s"w.b[1] + w.b[2] * ($tt::DOUBLE / f.n) + " +
      (1 to 4).map(j => s"w.b[${2 + j}] * greatest(0.0, ($tt - ($j * f.n / 5.0)) / f.n)").mkString(" + ") + " + " +
      (1 to 3).map(k =>
        s"w.b[${2 * k + 5}] * sin(2 * pi() * $k * $tt / 24) + w.b[${2 * k + 6}] * cos(2 * pi() * $k * $tt / 24)").mkString(" + ")

  private[queries] def gaussJordanSql(p: Int, pre: String = "",
                                      keys: Seq[String] = Seq("event_type")): String = {
    val cols = p + 1
    val ks = keys.mkString(", ")
    s"""${pre}gj AS (
       |  SELECT $ks, 0 AS step, m FROM ${pre}mats
       |  UNION ALL
       |  SELECT $ks, stepn,
       |    list_transform(m, (v, li) ->
       |      CASE WHEN ((li - 1) // $cols + 1) = stepn THEN v / m[(stepn - 1) * $cols + stepn]
       |           ELSE v - m[((li - 1) // $cols) * $cols + stepn]
       |                   * (m[(stepn - 1) * $cols + ((li - 1) % $cols + 1)] / m[(stepn - 1) * $cols + stepn])
       |      END)
       |  FROM (SELECT $ks, step + 1 AS stepn, m FROM ${pre}gj WHERE step < $p)),
       |${pre}beta AS (SELECT $ks,
       |           list_transform(range(1, ${p + 1}), r -> m[(r - 1) * $cols + $cols]) AS b
       |         FROM ${pre}gj WHERE step = $p)""".stripMargin
  }

  /** Cramer solutions for the VAR(1) normal equations — regression of a
    * target y on (1, u, v) from the moment sums. One SQL-string source
    * used verbatim by BOTH the Spark plan (expr) and the DuckDB oracle,
    * so the engines' arithmetic is term-for-term identical.
    * Convention: moment names syN, syNu, syNv for target N.
    */
  private[queries] object VarSql {
    private val det = "(s0*(suu*svv - suv*suv) - su*(su*svv - suv*sv) + sv*(su*suv - suu*sv))"
    def c(sy: String): String =
      s"(($sy*(suu*svv - suv*suv) - su*(${sy}u*svv - suv*${sy}v) + sv*(${sy}u*suv - suu*${sy}v)) / $det)"
    def a(sy: String): String =
      s"((s0*(${sy}u*svv - suv*${sy}v) - $sy*(su*svv - suv*sv) + sv*(su*${sy}v - ${sy}u*sv)) / $det)"
    def b(sy: String): String =
      s"((s0*(suu*${sy}v - ${sy}u*suv) - su*(su*${sy}v - ${sy}u*sv) + $sy*(su*suv - suu*sv)) / $det)"
    def equationSql(varName: String, sy: String): String =
      s"SELECT event_type, '$varName' AS var, ${c(sy)} AS c, ${a(sy)} AS a, ${b(sy)} AS b, last1, last2 FROM fit"
  }

  /** Shared Spark/DuckDB fragments for q_bayes_var — Minnesota-prior
    * Bayesian VAR(1), m=2 variables, p=1 lag, r=1 exogenous regressor
    * (scaled time), N = m·p+r+1 = 4 coefficients per equation
    * (kats/models/bayesian_var.py:186 fit / :324 _construct_v_prior).
    *
    * Regression vector z_t = [y1_{t-1}, y2_{t-1}, t/T, 1]. Hyperparameters
    * are the reference defaults φ0=0.02, φ1=0.25, φ2=20 (φ3 is moot at
    * p=1). Moment sums are rounded to a shared 4-dp grid so cross-engine
    * float-summation-order noise (~1e-9) cannot leak into the algebra:
    * after the grid snap, every downstream operation is the same IEEE op
    * on the same bits in both engines.
    */
  private[queries] object BayesVarSql {
    private val z = Seq("u1", "u2", "tn", "1.0")

    /** name -> aggregate expression, over rows carrying (y1,y2,u1,u2,tn,rn,tt). */
    val moments: Seq[(String, String)] = {
      val sP = for { a <- 0 to 3; b <- a to 3 } yield
        s"s${a + 1}${b + 1}" -> s"round(sum(CASE WHEN u1 IS NOT NULL THEN (${z(a)}) * (${z(b)}) END), 4)"
      val wP = for { i <- 1 to 2; a <- 0 to 3 } yield
        s"w$i${a + 1}" -> s"round(sum(CASE WHEN u1 IS NOT NULL THEN y$i * (${z(a)}) END), 4)"
      val yy = Seq((1, 1), (1, 2), (2, 2)).map { case (i, j) =>
        s"yy$i$j" -> s"round(sum(CASE WHEN u1 IS NOT NULL THEN y$i * y$j END), 4)"
      }
      val ex = Seq(
        "tt" -> "max(tt)",
        "var1" -> "round(var_pop(y1), 4)",
        "var2" -> "round(var_pop(y2), 4)",
        "last1" -> "max(CASE WHEN rn = tt THEN y1 END)",
        "last2" -> "max(CASE WHEN rn = tt THEN y2 END)")
      (sP ++ wP).toSeq ++ yy ++ ex
    }

    private def sN(a: Int, b: Int) = s"s${math.min(a, b) + 1}${math.max(a, b) + 1}"
    private def aN(i: Int, j: Int) = if (i == j) s"a${i + 1}${i + 1}" else "a12"
    private def wN(j: Int, a: Int) = s"w${j + 1}${a + 1}"

    /** 4×6 augmented [S + 1e-8·I | W1ᵀ W2ᵀ], row-major — one elimination
      * yields S⁻¹W1ᵀ and S⁻¹W2ᵀ (the OLS coefficient rows) together. */
    val amatEntries: Seq[String] =
      (0 to 3).flatMap { a =>
        (0 to 3).map { b => if (a == b) s"${sN(a, b)} + 1e-8" else sN(a, b) } ++
          Seq(wN(0, a), wN(1, a))
      }

    /** Σ_ols = (Y'Y − W·S⁻¹Wᵀ)/(T − m·p − 1), elementwise (bayesian_var.py:287). */
    val sigDefs: Seq[(String, String)] = Seq(
      "sig11" -> "(yy11 - (w11 * bx11 + w12 * bx12 + w13 * bx13 + w14 * bx14)) / (tt - 3)",
      "sig12" -> "(yy12 - (w11 * bx21 + w12 * bx22 + w13 * bx23 + w14 * bx24)) / (tt - 3)",
      "sig22" -> "(yy22 - (w21 * bx21 + w22 * bx22 + w23 * bx23 + w24 * bx24)) / (tt - 3)")

    /** 2×2 inverse of Σ_ols and the Minnesota prior diagonal: own lag φ0,
      * cross lag φ0·φ1·var_j/var_i, exogenous+constant φ0·φ2. */
    val aDefs: Seq[(String, String)] = Seq(
      "deta" -> "sig11 * sig22 - sig12 * sig12",
      "a11" -> "sig22 / deta", "a12" -> "-(sig12 / deta)", "a22" -> "sig11 / deta",
      "v01" -> "CAST(0.02 AS DOUBLE)", "v02" -> "0.02 * 0.25 * (var2 / var1)",
      "v03" -> "CAST(0.02 * 20 AS DOUBLE)", "v04" -> "CAST(0.02 * 20 AS DOUBLE)",
      "v05" -> "0.02 * 0.25 * (var1 / var2)", "v06" -> "CAST(0.02 AS DOUBLE)",
      "v07" -> "CAST(0.02 * 20 AS DOUBLE)", "v08" -> "CAST(0.02 * 20 AS DOUBLE)")

    /** 8×9 augmented posterior system [V0⁻¹ + Σ⁻¹⊗S | V0⁻¹μ0 + Σ⁻¹⊗(Σzy)],
      * row-major in (equation i, coefficient a) order. μ0 is 1 on each
      * equation's own first lag (rows 0 and 5), the random-walk prior. */
    val mmatEntries: Seq[String] =
      (0 to 1).flatMap { i =>
        (0 to 3).map { a =>
          val row = i * 4 + a
          val lhs = (0 to 1).flatMap { j =>
            (0 to 3).map { b =>
              val e = s"${aN(i, j)} * ${sN(a, b)}"
              if (row == j * 4 + b) s"1.0 / v0${row + 1} + $e" else e
            }
          }
          val pull = if (row == 0) "1.0 / v01 + " else if (row == 5) "1.0 / v06 + " else ""
          lhs :+ s"$pull${aN(i, 0)} * ${wN(0, a)} + ${aN(i, 1)} * ${wN(1, a)}"
        }.flatten
      }

    /** One-step-ahead forecast: z_ahead = [last1, last2, T/T = 1.0, 1]. */
    val f1 = "mp1 * last1 + mp2 * last2 + mp3 * 1.0 + mp4"
    val f2 = "mp5 * last1 + mp6 * last2 + mp7 * 1.0 + mp8"
  }

  val sql: Map[String, String] = Map(
    "q_linear_trend" ->
      s"""WITH hourly AS ($H),
         |$linearSqlCte
         |SELECT event_type, round(a, 6) AS intercept, round(b, 6) AS slope,
         |  round(a + b * (n - 1 + 1), 6) AS yhat_1,
         |  round(a + b * (n - 1 + 24), 6) AS yhat_24
         |FROM lin""".stripMargin,

    "q_quadratic_trend" ->
      s"""WITH hourly AS ($H),
         |$quadSqlCte
         |SELECT event_type, round(qa, 6) AS qa, round(qb, 6) AS qb, round(qc, 6) AS qc,
         |  round(qa + qb * ((s0 - 1) / 2.0 + 1) + qc * ((s0 - 1) / 2.0 + 1)^2, 6) AS yhat_1,
         |  round(qa + qb * ((s0 - 1) / 2.0 + 24) + qc * ((s0 - 1) / 2.0 + 24)^2, 6) AS yhat_24
         |FROM quad""".stripMargin,

    "q_ar2" ->
      s"""WITH hourly AS ($H),
         |b AS (SELECT event_type, ts, value,
         |  value - avg(value) OVER (PARTITION BY event_type) AS dev,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS n,
         |  avg(value) OVER (PARTITION BY event_type) AS mu
         |  FROM hourly),
         |l AS (SELECT *, lag(dev, 1) OVER w AS d1, lag(dev, 2) OVER w AS d2
         |      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |r AS (SELECT event_type,
         |  sum(dev * d1) / sum(dev * dev) AS r1,
         |  sum(dev * d2) / sum(dev * dev) AS r2,
         |  max(mu) AS mu,
         |  max(CASE WHEN rn = n THEN value END) AS xn,
         |  max(CASE WHEN rn = n - 1 THEN value END) AS xn1
         |  FROM l GROUP BY 1),
         |p AS (SELECT *,
         |  r1 * (1 - r2) / (1 - r1 * r1) AS phi1,
         |  (r2 - r1 * r1) / (1 - r1 * r1) AS phi2 FROM r),
         |f AS (SELECT *, mu + phi1 * (xn - mu) + phi2 * (xn1 - mu) AS f1 FROM p)
         |SELECT event_type, round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
         |  round(f1, 6) AS yhat_1,
         |  round(mu + phi1 * (f1 - mu) + phi2 * (xn - mu), 6) AS yhat_2
         |FROM f""".stripMargin,

    "q_stlf" ->
      s"""WITH hourly AS ($H),
         |$stlfSqlCte
         |SELECT event_type, round(f1, 6) AS yhat_1, round(f24, 6) AS yhat_24 FROM stlf""".stripMargin,

    "q_ensemble" ->
      s"""WITH hourly AS ($H),
         |$linearSqlCte,
         |$quadSqlCte,
         |$stlfSqlCte,
         |j AS (SELECT l.event_type,
         |  l.a + l.b * (l.n - 1 + 24) AS f_lin,
         |  q.qa + q.qb * ((q.s0 - 1) / 2.0 + 24) + q.qc * ((q.s0 - 1) / 2.0 + 24)^2 AS f_quad,
         |  s.f24 AS f_stlf
         |  FROM lin l JOIN quad q ON l.event_type = q.event_type
         |  JOIN stlf s ON l.event_type = s.event_type)
         |SELECT event_type, round(f_lin, 6) AS f_lin, round(f_quad, 6) AS f_quad, round(f_stlf, 6) AS f_stlf,
         |  round(f_lin + f_quad + f_stlf - greatest(f_lin, f_quad, f_stlf) - least(f_lin, f_quad, f_stlf), 6) AS ens_median
         |FROM j""".stripMargin,

    // mirrors the Spark composition kernel-for-kernel; theta's forecast is
    // rounded to 6 BEFORE re-seasonalizing because aggSeries rounds its
    // output column, while lin/quad stay raw until the final round
    "q_kats_ensemble" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |gb AS (SELECT event_type, ts, value,
         |        value - avg(value) OVER (PARTITION BY event_type) AS dev,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |gl AS (SELECT event_type, n, dev,
         |        lag(dev, 24) OVER (PARTITION BY event_type ORDER BY ts) AS devk FROM gb),
         |gate AS (SELECT event_type,
         |        CASE WHEN sum(dev * devk) / sum(dev * dev) > 2.0 / sqrt(max(n)) THEN 1 ELSE 0 END AS is_seasonal
         |        FROM gl GROUP BY 1),
         |${Decompose.additiveSql},
         |dse AS (SELECT d.event_type, d.ts, d.value - d.seasonal * g.is_seasonal AS value
         |        FROM decomp d JOIN gate g USING (event_type)),
         |${linearSqlCteOn("dse", "elin")},
         |${quadSqlCteOn("dse", "equad")},
         |${thetaSqlCteOn("dse", "eth")},
         |lasth AS (SELECT event_type, hour(max(ts)) AS last_hod FROM hourly GROUP BY 1),
         |seas AS (SELECT DISTINCT event_type, hour(ts) AS hod, seasonal FROM decomp),
         |st AS (SELECT l.event_type, s.seasonal AS s24
         |       FROM lasth l JOIN seas s ON s.event_type = l.event_type
         |        AND s.hod = (l.last_hod + 24) % 24),
         |j AS (SELECT g.event_type, g.is_seasonal,
         |        l.a + l.b * (l.n - 1 + 24) + st.s24 * g.is_seasonal AS f_lin,
         |        q.qa + q.qb * ((q.s0 - 1) / 2.0 + 24) + q.qc * ((q.s0 - 1) / 2.0 + 24)^2
         |          + st.s24 * g.is_seasonal AS f_quad,
         |        round(0.5 * (t.zf + t.a + t.b * (t.n - 1 + 24)), 6)
         |          + st.s24 * g.is_seasonal AS f_theta
         |      FROM gate g JOIN elin l ON g.event_type = l.event_type
         |        JOIN equad q ON g.event_type = q.event_type
         |        JOIN eth t ON g.event_type = t.event_type
         |        JOIN st ON g.event_type = st.event_type)
         |SELECT event_type, is_seasonal,
         |  round(f_lin, 6) AS f_lin, round(f_quad, 6) AS f_quad, round(f_theta, 6) AS f_theta,
         |  round(f_lin + f_quad + f_theta
         |    - greatest(f_lin, f_quad, f_theta) - least(f_lin, f_quad, f_theta), 6) AS ens_median
         |FROM j""".stripMargin,

    "q_nowcasting" ->
      s"""WITH hourly AS ($H)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |  lag(value, 12) OVER w AS lag_12,
         |  CASE WHEN lag(value, 12) OVER w <> 0
         |       THEN round((value - lag(value, 12) OVER w) / (lag(value, 12) OVER w), 6) END AS roc_12,
         |  round(value - lag(value, 12) OVER w, 6) AS mom_12,
         |  round(avg(value) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 6) AS ma_12
         |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)""".stripMargin,

    // SES level via the closed form of the recurrence:
    // l_n = (1-α)^{n-1} x_1 + Σ_{i≥2} α(1-α)^{n-i} x_i
    "q_ses" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, value, row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM hourly)
         |SELECT event_type,
         |  round(sum(CASE WHEN rn = 1 THEN pow(1 - 0.3, n - 1) * value
         |                 ELSE 0.3 * pow(1 - 0.3, n - rn) * value END), 6) AS level
         |FROM ord GROUP BY 1""".stripMargin,

    // Holt's recurrence replayed step-by-step as a recursive CTE
    "q_holt" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, value, row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM hourly),
         |rec AS (
         |  SELECT o1.event_type, 0 AS i, o1.value AS l, o2.value - o1.value AS b, o1.n
         |  FROM ord o1 JOIN ord o2 ON o1.event_type = o2.event_type AND o2.rn = 2
         |  WHERE o1.rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1,
         |    0.3 * o.value + (1 - 0.3) * (r.l + r.b),
         |    0.1 * (0.3 * o.value + (1 - 0.3) * (r.l + r.b) - r.l) + (1 - 0.1) * r.b,
         |    r.n
         |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.i + 2
         |  WHERE r.i + 1 <= r.n - 1)
         |SELECT event_type, round(l, 6) AS level, round(b, 6) AS trend,
         |  round(l + b, 6) AS yhat_1, round(l + 24 * b, 6) AS yhat_24
         |FROM rec WHERE i = n - 1""".stripMargin,

    "q_prophet_detector" -> {
      val basis = Seq("1.0", "(t::DOUBLE / n)") ++
        (1 to 4).map(j => s"greatest(0.0, (t - ($j * n / 5.0)) / n)") ++
        (1 to 3).flatMap(k => Seq(s"sin(2 * pi() * $k * t / 24)", s"cos(2 * pi() * $k * t / 24)"))
      val bCols = basis.zipWithIndex.map { case (e, i) => s"$e AS b${i + 1}" }.mkString(",\n         ")
      val p = 12
      val matEntries = (0 until p).flatMap { i =>
        (0 until p).map { j =>
          val e = s"sum(b${i + 1} * b${j + 1})"
          if (i == j) s"$e + 1e-4" else e
        } :+ s"sum(b${i + 1} * y)"
      }.mkString(",\n           ")
      val fitExpr = (1 to p).map(j => s"bs.b$j * be.b[$j]").mkString(" + ")
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, ts, value AS y,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |bs AS (SELECT event_type, ts, y, t, n,
         |         $bCols
         |       FROM ord),
         |mats AS (SELECT event_type,
         |         [$matEntries] AS m
         |         FROM bs GROUP BY 1),
         |${gaussJordanSql(p)},
         |ftd AS (SELECT bs.event_type, bs.ts, bs.y, round($fitExpr, 6) AS fitted
         |        FROM bs JOIN beta be ON bs.event_type = be.event_type),
         |rz AS (SELECT *, y - fitted AS resid FROM ftd),
         |z AS (SELECT event_type, ts, y, fitted,
         |        (resid - avg(resid) OVER (PARTITION BY event_type))
         |          / stddev_samp(resid) OVER (PARTITION BY event_type) AS z
         |      FROM rz)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, y AS value, fitted, round(z, 6) AS z
         |FROM z WHERE abs(z) > 3.0""".stripMargin
    },

    "q_sarima2" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |dd AS (SELECT event_type, t - 1 AS td, n - 1 AS nd,
         |         value - lag(value) OVER (PARTITION BY event_type ORDER BY t) AS dv
         |       FROM ord QUALIFY dv IS NOT NULL),
         |ww AS (SELECT event_type, td - 24 AS tw, nd - 24 AS lw,
         |         dv - lag(dv, 24) OVER (PARTITION BY event_type ORDER BY td) AS wv
         |       FROM dd QUALIFY wv IS NOT NULL),
         |lg AS (SELECT event_type, tw, lw, wv,
         |         lag(wv, 1) OVER w AS l1, lag(wv, 2) OVER w AS l2, lag(wv, 24) OVER w AS lm
         |       FROM ww WINDOW w AS (PARTITION BY event_type ORDER BY tw)),
         |s4mats AS (SELECT event_type, [
         |    count(*)::DOUBLE + 1e-8, sum(l1), sum(l2), sum(lm), sum(wv),
         |    sum(l1), sum(l1*l1) + 1e-8, sum(l1*l2), sum(l1*lm), sum(l1*wv),
         |    sum(l2), sum(l2*l1), sum(l2*l2) + 1e-8, sum(l2*lm), sum(l2*wv),
         |    sum(lm), sum(lm*l1), sum(lm*l2), sum(lm*lm) + 1e-8, sum(lm*wv)
         |  ] AS m FROM lg WHERE lm IS NOT NULL GROUP BY 1),
         |${gaussJordanSql(4, "s4")},
         |sig AS (SELECT l.event_type,
         |          sum((l.wv - (be.b[1] + be.b[2] * l.l1 + be.b[3] * l.l2 + be.b[4] * l.lm))
         |            * (l.wv - (be.b[1] + be.b[2] * l.l1 + be.b[3] * l.l2 + be.b[4] * l.lm))) / count(*) AS sigma2
         |        FROM lg l JOIN s4beta be ON l.event_type = be.event_type
         |        WHERE l.lm IS NOT NULL GROUP BY 1),
         |lastw AS (SELECT w1.event_type, max(w1.lw) AS lw,
         |            max(CASE WHEN w1.tw = w1.lw - 1 THEN w1.wv END) AS wlast,
         |            max(CASE WHEN w1.tw = w1.lw - 2 THEN w1.wv END) AS wlast2
         |          FROM ww w1 GROUP BY 1),
         |lastx AS (SELECT o.event_type, max(o.n) AS n,
         |            max(CASE WHEN o.t = o.n - 1 THEN o.value END) AS xlast
         |          FROM ord o GROUP BY 1),
         |fcrec AS (
         |  SELECT l.event_type, 0 AS h, l.wlast AS wprev, l.wlast2 AS wprev2,
         |    x.xlast AS acc, l.lw, x.n, be.b
         |  FROM lastw l JOIN lastx x ON l.event_type = x.event_type
         |  JOIN s4beta be ON l.event_type = be.event_type
         |  UNION ALL
         |  SELECT event_type, h, what, wprev, acc + (what + dobs), lw, n, b
         |  FROM (
         |    SELECT r.event_type, r.h + 1 AS h, r.lw, r.n, r.b, r.acc, r.wprev,
         |      r.b[1] + r.b[2] * r.wprev + r.b[3] * r.wprev2 + r.b[4] * wo.wv AS what, dob.dv AS dobs
         |    FROM fcrec r
         |    JOIN ww wo ON wo.event_type = r.event_type AND wo.tw = r.lw + (r.h + 1) - 1 - 24
         |    JOIN dd dob ON dob.event_type = r.event_type AND dob.td = (r.n - 1) + (r.h + 1) - 1 - 24
         |    WHERE r.h < 24))
         |SELECT f.event_type,
         |  round(be.b[1], 6) AS c, round(be.b[2], 6) AS phi1, round(be.b[3], 6) AS phi2,
         |  round(be.b[4], 6) AS sphi, round(sig.sigma2, 6) AS sigma2,
         |  round(max(CASE WHEN f.h = 1 THEN f.acc END), 6) AS yhat_1,
         |  round(max(CASE WHEN f.h = 24 THEN f.acc END), 6) AS yhat_24
         |FROM fcrec f JOIN s4beta be ON f.event_type = be.event_type
         |JOIN sig ON f.event_type = sig.event_type
         |GROUP BY f.event_type, be.b, sig.sigma2""".stripMargin,

    "q_sarima" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |dd AS (SELECT event_type, t - 1 AS td, n - 1 AS nd,
         |         value - lag(value) OVER (PARTITION BY event_type ORDER BY t) AS dv
         |       FROM ord QUALIFY dv IS NOT NULL),
         |ww AS (SELECT event_type, td - 24 AS tw, nd - 24 AS lw,
         |         dv - lag(dv, 24) OVER (PARTITION BY event_type ORDER BY td) AS wv
         |       FROM dd QUALIFY wv IS NOT NULL),
         |lg AS (SELECT event_type, tw, lw, wv,
         |         lag(wv, 1) OVER w AS l1, lag(wv, 24) OVER w AS lm
         |       FROM ww WINDOW w AS (PARTITION BY event_type ORDER BY tw)),
         |s3mats AS (SELECT event_type, [
         |    count(*)::DOUBLE + 1e-8, sum(l1), sum(lm), sum(wv),
         |    sum(l1), sum(l1*l1) + 1e-8, sum(l1*lm), sum(l1*wv),
         |    sum(lm), sum(lm*l1), sum(lm*lm) + 1e-8, sum(lm*wv)
         |  ] AS m FROM lg WHERE lm IS NOT NULL GROUP BY 1),
         |${gaussJordanSql(3, "s3")},
         |sig AS (SELECT l.event_type,
         |          sum((l.wv - (be.b[1] + be.b[2] * l.l1 + be.b[3] * l.lm))
         |            * (l.wv - (be.b[1] + be.b[2] * l.l1 + be.b[3] * l.lm))) / count(*) AS sigma2
         |        FROM lg l JOIN s3beta be ON l.event_type = be.event_type
         |        WHERE l.lm IS NOT NULL GROUP BY 1),
         |lastw AS (SELECT w1.event_type, max(w1.lw) AS lw,
         |            max(CASE WHEN w1.tw = w1.lw - 1 THEN w1.wv END) AS wlast
         |          FROM ww w1 GROUP BY 1),
         |lastx AS (SELECT o.event_type, max(o.n) AS n,
         |            max(CASE WHEN o.t = o.n - 1 THEN o.value END) AS xlast
         |          FROM ord o GROUP BY 1),
         |fcrec AS (
         |  SELECT l.event_type, 0 AS h, l.wlast AS wprev, x.xlast AS acc, l.lw, x.n, be.b
         |  FROM lastw l JOIN lastx x ON l.event_type = x.event_type
         |  JOIN s3beta be ON l.event_type = be.event_type
         |  UNION ALL
         |  SELECT event_type, h, what, acc + (what + dobs), lw, n, b
         |  FROM (
         |    SELECT r.event_type, r.h + 1 AS h, r.lw, r.n, r.b, r.acc,
         |      r.b[1] + r.b[2] * r.wprev + r.b[3] * wo.wv AS what, dob.dv AS dobs
         |    FROM fcrec r
         |    JOIN ww wo ON wo.event_type = r.event_type AND wo.tw = r.lw + (r.h + 1) - 1 - 24
         |    JOIN dd dob ON dob.event_type = r.event_type AND dob.td = (r.n - 1) + (r.h + 1) - 1 - 24
         |    WHERE r.h < 24))
         |SELECT f.event_type,
         |  round(be.b[1], 6) AS c, round(be.b[2], 6) AS phi, round(be.b[3], 6) AS sphi,
         |  round(sig.sigma2, 6) AS sigma2,
         |  round(max(CASE WHEN f.h = 1 THEN f.acc END), 6) AS yhat_1,
         |  round(max(CASE WHEN f.h = 24 THEN f.acc END), 6) AS yhat_24
         |FROM fcrec f JOIN s3beta be ON f.event_type = be.event_type
         |JOIN sig ON f.event_type = sig.event_type
         |GROUP BY f.event_type, be.b, sig.sigma2""".stripMargin,

    // ARIMA(2,1,1) Hannan-Rissanen replay: long-AR(8) residuals by one
    // Gauss-Jordan solve, the ARMA regression by a second, the 24-step
    // forecast + inverse differencing by a scalar recursion
    "q_arima" ->
      s"""$arimaCoreSql
         |SELECT f.event_type,
         |  round(be.b[1], 6) AS c, round(be.b[2], 6) AS phi1, round(be.b[3], 6) AS phi2,
         |  round(be.b[4], 6) AS theta1, round(sig.sigma2, 6) AS sigma2,
         |  round(max(CASE WHEN f.h = 1 THEN f.acc END), 6) AS yhat_1,
         |  round(max(CASE WHEN f.h = 24 THEN f.acc END), 6) AS yhat_24
         |FROM fcrec f JOIN g2beta be ON f.event_type = be.event_type
         |JOIN sig ON f.event_type = sig.event_type
         |GROUP BY f.event_type, be.b, sig.sigma2""".stripMargin,

    "q_harmonic_regression" -> {
      val basis = "1.0" +: (1 to 3).flatMap(k =>
        Seq(s"sin(2 * pi() * $k * t / 24)", s"cos(2 * pi() * $k * t / 24)"))
      val bCols = basis.zipWithIndex.map { case (e, i) => s"$e AS b${i + 1}" }.mkString(", ")
      val matEntries = (0 until 7).flatMap { i =>
        (0 until 7).map { j =>
          val s = s"sum(b${i + 1} * b${j + 1})"
          if (i == j) s"$s + 1e-8" else s
        } :+ s"sum(b${i + 1} * y)"
      }.mkString(",\n           ")
      def fcExpr(tt: String): String =
        "be.b[1] + " + (1 to 3).map(k =>
          s"be.b[${2 * k}] * sin(2 * pi() * $k * $tt / 24) + be.b[${2 * k + 1}] * cos(2 * pi() * $k * $tt / 24)").mkString(" + ")
      val fitExpr = (1 to 7).map(j => s"bs.b$j * be.b[$j]").mkString(" + ")
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value AS y,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |bs AS (SELECT event_type, y, t, n, $bCols FROM ord),
         |mats AS (SELECT event_type,
         |         [$matEntries] AS m
         |         FROM bs GROUP BY 1),
         |${gaussJordanSql(7)},
         |mu AS (SELECT event_type, avg(y) AS mu, max(n) AS n FROM bs GROUP BY 1),
         |fr AS (SELECT bs.event_type,
         |         sum((bs.y - ($fitExpr)) * (bs.y - ($fitExpr))) AS sse,
         |         sum((bs.y - m.mu) * (bs.y - m.mu)) AS sst, max(m.n) AS n
         |       FROM bs JOIN beta be ON bs.event_type = be.event_type
         |       JOIN mu m ON bs.event_type = m.event_type GROUP BY 1)
         |SELECT f.event_type,
         |  round(${fcExpr("f.n")}, 6) AS yhat_1,
         |  round(${fcExpr("(f.n + 23)")}, 6) AS yhat_24,
         |  round(CASE WHEN f.sst > 0 THEN 1 - f.sse / f.sst ELSE 0.0 END, 6) AS r2
         |FROM fr f JOIN beta be ON f.event_type = be.event_type""".stripMargin
    },

    "q_prophet_lite" -> {
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value AS y,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |$prophetMapCtes
         |SELECT f.event_type, w.n_active,
         |  round((${prophetFcExpr("f.n")}) * f.yscale, 6) AS yhat_1,
         |  round((${prophetFcExpr("(f.n + 11)")}) * f.yscale, 6) AS yhat_12,
         |  round((${prophetFcExpr("(f.n + 23)")}) * f.yscale, 6) AS yhat_24
         |FROM pf f JOIN pwin w ON f.event_type = w.event_type AND w.rk = 1""".stripMargin
    },

    "q_prophet_logistic" -> {
      // identical Laplace-MAP replay as q_prophet_lite, fit on the logit
      // of the capacity share; forecasts back through cap·σ(ẑ)
      def back(tt: String): String =
        s"cp.cap / (1.0 + exp(-((${prophetFcExpr(tt)}) * f.yscale)))"
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord0 AS (SELECT event_type, value,
         |  1.1 * max(value) OVER (PARTITION BY event_type) AS cap,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |ord AS (SELECT event_type, cap, t, n,
         |  ln(least(greatest(value / cap, 1e-6), 1.0 - 1e-6)
         |     / (1 - least(greatest(value / cap, 1e-6), 1.0 - 1e-6))) AS y
         |  FROM ord0),
         |$prophetMapCtes,
         |cps AS (SELECT event_type, max(cap) AS cap FROM ord GROUP BY 1)
         |SELECT f.event_type, round(cp.cap, 6) AS cap, w.n_active,
         |  round(${back("f.n")}, 6) AS yhat_1,
         |  round(${back("(f.n + 11)")}, 6) AS yhat_12,
         |  round(${back("(f.n + 23)")}, 6) AS yhat_24
         |FROM pf f JOIN pwin w ON f.event_type = w.event_type AND w.rk = 1
         |JOIN cps cp ON f.event_type = cp.event_type""".stripMargin
    },

    // SSE-grid smoothing-parameter fits: the grid is a cross-join
    // dimension of the recursive replay, argmin per series mirrors the
    // kernel's first-strict-improvement tie-breaking
    "q_holt_params" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM hourly),
         |alphas AS (SELECT unnest(range(1, 20)) * 5 / 100.0 AS a),
         |sesr AS (
         |  SELECT o.event_type, al.a, 0 AS t, o.value AS l, 0.0::DOUBLE AS sse, o.n
         |  FROM ord o CROSS JOIN alphas al WHERE o.t = 0
         |  UNION ALL
         |  SELECT event_type, a, t, a * x + (1 - a) * l, sse + (x - l) * (x - l), n
         |  FROM (SELECT r.event_type, r.a, r.t + 1 AS t, r.l, r.sse, r.n, o.value AS x
         |        FROM sesr r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t + 1
         |        WHERE r.t + 1 <= r.n - 1)),
         |sesbest AS (SELECT event_type, a, l FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY sse, a) AS rk
         |  FROM sesr WHERE t = n - 1) WHERE rk = 1),
         |betas AS (SELECT unnest(range(1, 20)) * 5 / 100.0 AS b),
         |x01 AS (SELECT o0.event_type, o0.value AS x0, o1.value AS x1, o0.n
         |        FROM ord o0 JOIN ord o1 ON o0.event_type = o1.event_type AND o0.t = 0 AND o1.t = 1),
         |holtr AS (
         |  SELECT x.event_type, al.a, be.b AS bt, 0 AS t, x.x0 AS l, x.x1 - x.x0 AS tr, 0.0::DOUBLE AS sse, x.n
         |  FROM x01 x CROSS JOIN alphas al CROSS JOIN betas be
         |  UNION ALL
         |  SELECT event_type, a, bt, t, l2, bt * (l2 - l) + (1 - bt) * tr,
         |    sse + (x - (l + tr)) * (x - (l + tr)), n
         |  FROM (SELECT r.event_type, r.a, r.bt, r.t + 1 AS t, r.l, r.tr, r.sse, r.n, o.value AS x,
         |          r.a * o.value + (1 - r.a) * (r.l + r.tr) AS l2
         |        FROM holtr r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t + 1
         |        WHERE r.t + 1 <= r.n - 1)),
         |holtbest AS (SELECT event_type, a, bt, l, tr FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY sse, a, bt) AS rk
         |  FROM holtr WHERE t = n - 1) WHERE rk = 1)
         |SELECT s.event_type, round(s.a, 6) AS ses_alpha, round(s.l, 6) AS ses_level,
         |  round(h.a, 6) AS holt_alpha, round(h.bt, 6) AS holt_beta,
         |  round(h.l, 6) AS holt_level, round(h.tr, 6) AS holt_trend
         |FROM sesbest s JOIN holtbest h ON s.event_type = h.event_type""".stripMargin,

    // additive Holt-Winters (fixed α=0.3 β=0.05 γ=0.1): the recursive CTE
    // carries the 24-element seasonal state as a list and replays the
    // recurrence step-for-step
    "q_holtwinters" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |init AS (SELECT event_type, max(n) AS n,
         |           avg(CASE WHEN t < 24 THEN value END) AS m1,
         |           avg(CASE WHEN t >= 24 AND t < 48 THEN value END) AS m2,
         |           list(value ORDER BY t) FILTER (WHERE t < 24) AS f24
         |         FROM ord GROUP BY 1),
         |rec AS (
         |  SELECT event_type, n, 24 AS t, m1 AS l, (m2 - m1) / 24 AS b,
         |    list_transform(f24, (x, i) -> x - (m1 + ((i - 1) - 11.5) * ((m2 - m1) / 24))) AS s
         |  FROM init
         |  UNION ALL
         |  SELECT event_type, n, t + 1, l2,
         |    0.05 * (l2 - l) + (1 - 0.05) * b,
         |    list_transform(s, (x, i) -> CASE WHEN i = si + 1 THEN 0.1 * (xv - l2) + (1 - 0.1) * x ELSE x END)
         |  FROM (
         |    SELECT r.event_type, r.n, r.t, r.l, r.b, r.s, o.value AS xv, r.t % 24 AS si,
         |      0.3 * (o.value - r.s[(r.t % 24) + 1]) + (1 - 0.3) * (r.l + r.b) AS l2
         |    FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t
         |    WHERE r.t < r.n))
         |SELECT event_type, round(l, 6) AS level, round(b, 6) AS trend,
         |  round(l + 1 * b + s[((n + 1 - 1) % 24) + 1], 6) AS yhat_1,
         |  round(l + 24 * b + s[((n + 24 - 1) % 24) + 1], 6) AS yhat_24
         |FROM rec WHERE t = n""".stripMargin,

    // grid-fitted Holt-Winters: all 729 (α,β,γ) combos advance through
    // ONE recursive replay (grid = extra key columns); the 24 seasonal
    // states travel as scalar columns (vectorized CASEs, no per-step list
    // allocation), argmin mirrors the kernel's tie order
    "q_holtwinters_opt" -> {
      val sInit = (1 to 24).map(i =>
        s"i.f24[$i] - (i.m1 + (($i - 1) - 11.5) * ((i.m2 - i.m1) / 24)) AS s$i").mkString(",\n    ")
      val sPick = "CASE si " + (1 to 24).map(i => s"WHEN ${i - 1} THEN s$i").mkString(" ") + " END"
      val sUpd = (1 to 24).map(i =>
        s"CASE WHEN si = ${i - 1} THEN pg * (xv - l2) + (1 - pg) * s$i ELSE s$i END").mkString(",\n    ")
      val sCarry = (1 to 24).map(i => s"r.s$i").mkString(", ")
      def sAt(idx: String) = "CASE " + (1 to 24).map(i => s"WHEN ($idx) = ${i - 1} THEN s$i").mkString(" ") + " END"
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |init AS (SELECT event_type, max(n) AS n,
         |           avg(CASE WHEN t < 24 THEN value END) AS m1,
         |           avg(CASE WHEN t >= 24 AND t < 48 THEN value END) AS m2,
         |           list(value ORDER BY t) FILTER (WHERE t < 24) AS f24
         |         FROM ord GROUP BY 1),
         |pgrid AS (SELECT a.a / 10.0 AS pa, b.b / 10.0 AS pb, c.c / 10.0 AS pg
         |          FROM (SELECT unnest(range(1, 10)) AS a) a,
         |               (SELECT unnest(range(1, 10)) AS b) b,
         |               (SELECT unnest(range(1, 10)) AS c) c),
         |rec AS (
         |  SELECT i.event_type, g.pa, g.pb, g.pg, i.n, 24 AS t,
         |    i.m1 AS l, (i.m2 - i.m1) / 24 AS b, 0.0::DOUBLE AS sse,
         |    $sInit
         |  FROM init i CROSS JOIN pgrid g
         |  UNION ALL
         |  SELECT event_type, pa, pb, pg, n, t + 1, l2,
         |    pb * (l2 - l) + (1 - pb) * b,
         |    sse + (xv - (l + b + sv)) * (xv - (l + b + sv)),
         |    $sUpd
         |  FROM (
         |    SELECT r.event_type, r.pa, r.pb, r.pg, r.n, r.t, r.l, r.b, r.sse, $sCarry,
         |      o.value AS xv, r.t % 24 AS si
         |    FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t
         |    WHERE r.t < r.n),
         |  LATERAL (SELECT $sPick AS sv) sp,
         |  LATERAL (SELECT pa * (xv - sv) + (1 - pa) * (l + b) AS l2) lp),
         |best AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY sse, pa, pb, pg) AS rk
         |  FROM rec WHERE t = n) WHERE rk = 1)
         |SELECT event_type, round(pa, 6) AS alpha, round(pb, 6) AS beta, round(pg, 6) AS gamma,
         |  round(l, 6) AS level, round(b, 6) AS trend,
         |  round(l + 1 * b + ${sAt("n % 24")}, 6) AS yhat_1,
         |  round(l + 24 * b + ${sAt("(n + 23) % 24")}, 6) AS yhat_24
         |FROM best""".stripMargin
    },

    // theta(θ=2): OLS trend + closed-form SES(α=0.2) of Z_t = 2x_t - (a+b·t)
    "q_theta" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, value,
         |        (row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1)::DOUBLE AS t,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM hourly),
         |fit AS (SELECT event_type, regr_slope(value, t) AS b, regr_intercept(value, t) AS a, max(n) AS n
         |        FROM ord GROUP BY 1),
         |z AS (SELECT o.event_type, o.t + 1 AS rn, f.n, f.a, f.b,
         |        2 * o.value - (f.a + f.b * o.t) AS z
         |      FROM ord o JOIN fit f ON o.event_type = f.event_type),
         |s AS (SELECT event_type, max(a) AS a, max(b) AS b, max(n) AS n,
         |        sum(CASE WHEN rn = 1 THEN pow(1 - 0.2, n - 1) * z
         |                 ELSE 0.2 * pow(1 - 0.2, n - rn) * z END) AS zf
         |      FROM z GROUP BY 1)
         |SELECT event_type, round(0.5 * (zf + a + b * (n - 1 + 1)), 6) AS yhat_1,
         |  round(0.5 * (zf + a + b * (n - 1 + 24)), 6) AS yhat_24
         |FROM s""".stripMargin,

    "q_ensemble_weighted" ->
      s"""WITH hourly AS ($H),
         |$linearSqlCte,
         |$quadSqlCte,
         |$stlfSqlCte,
         |tb AS (SELECT event_type, value, (row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1)::DOUBLE AS t FROM hourly),
         |linr AS (SELECT tb.event_type, sqrt(avg((tb.value - (lin.a + lin.b * tb.t))^2)) AS rmse_lin,
         |           max(lin.a + lin.b * (lin.n - 1 + 24)) AS f_lin
         |         FROM tb JOIN lin ON tb.event_type = lin.event_type GROUP BY 1),
         |ub AS (SELECT event_type, value,
         |         (row_number() OVER (PARTITION BY event_type ORDER BY ts)) - 1 - (count(*) OVER (PARTITION BY event_type) - 1) / 2.0 AS u
         |       FROM hourly),
         |quadr AS (SELECT ub.event_type,
         |            sqrt(avg((ub.value - (quad.qa + quad.qb * ub.u + quad.qc * ub.u * ub.u))^2)) AS rmse_quad,
         |            max(quad.qa + quad.qb * ((quad.s0 - 1) / 2.0 + 24) + quad.qc * ((quad.s0 - 1) / 2.0 + 24)^2) AS f_quad
         |          FROM ub JOIN quad ON ub.event_type = quad.event_type GROUP BY 1),
         |stlfr AS (SELECT ds.event_type,
         |            sqrt(avg((ds.deseason - (sfit.a + sfit.b * ds.t))^2)) AS rmse_stlf,
         |            max(stlf.f24) AS f_stlf
         |          FROM ds JOIN sfit ON ds.event_type = sfit.event_type
         |          JOIN stlf ON ds.event_type = stlf.event_type GROUP BY 1),
         |j AS (SELECT l.event_type, l.rmse_lin, l.f_lin, q.rmse_quad, q.f_quad, s.rmse_stlf, s.f_stlf,
         |        1.0 / l.rmse_lin + 1.0 / q.rmse_quad + 1.0 / s.rmse_stlf AS iw
         |      FROM linr l JOIN quadr q ON l.event_type = q.event_type JOIN stlfr s ON l.event_type = s.event_type)
         |SELECT event_type,
         |  round((1.0 / rmse_lin) / iw, 6) AS w_lin,
         |  round((1.0 / rmse_quad) / iw, 6) AS w_quad,
         |  round((1.0 / rmse_stlf) / iw, 6) AS w_stlf,
         |  round(((1.0 / rmse_lin) / iw) * f_lin + ((1.0 / rmse_quad) / iw) * f_quad + ((1.0 / rmse_stlf) / iw) * f_stlf, 6) AS f_weighted
         |FROM j""".stripMargin,

    "q_var" ->
      s"""WITH hourly AS ($H),
         |l AS (SELECT event_type, value AS y1, n::DOUBLE AS y2,
         |        lag(value) OVER w AS u, lag(n::DOUBLE) OVER w AS v,
         |        row_number() OVER w AS rn, count(*) OVER (PARTITION BY event_type) AS nn
         |      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |fit AS (SELECT event_type, count(*)::DOUBLE AS s0, sum(u) AS su, sum(v) AS sv,
         |          sum(u*u) AS suu, sum(v*v) AS svv, sum(u*v) AS suv,
         |          sum(y1) AS sy1, sum(y1*u) AS sy1u, sum(y1*v) AS sy1v,
         |          sum(y2) AS sy2, sum(y2*u) AS sy2u, sum(y2*v) AS sy2v,
         |          max(CASE WHEN rn = nn THEN y1 END) AS last1,
         |          max(CASE WHEN rn = nn THEN y2 END) AS last2
         |        FROM l WHERE u IS NOT NULL GROUP BY 1),
         |eqs AS (${VarSql.equationSql("value", "sy1")}
         |        UNION ALL
         |        ${VarSql.equationSql("n", "sy2")})
         |SELECT event_type, var, round(c, 6) AS intercept, round(a, 6) AS coef_value,
         |  round(b, 6) AS coef_n, round(c + a * last1 + b * last2, 6) AS yhat_1
         |FROM eqs""".stripMargin,

    "q_var_irf" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |l AS (SELECT event_type, value AS y1, n::DOUBLE AS y2,
         |        lag(value) OVER w AS u, lag(n::DOUBLE) OVER w AS v,
         |        row_number() OVER w AS rn, count(*) OVER (PARTITION BY event_type) AS nn
         |      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |fit AS (SELECT event_type, count(*)::DOUBLE AS s0, sum(u) AS su, sum(v) AS sv,
         |          sum(u*u) AS suu, sum(v*v) AS svv, sum(u*v) AS suv,
         |          sum(y1) AS sy1, sum(y1*u) AS sy1u, sum(y1*v) AS sy1v,
         |          sum(y2) AS sy2, sum(y2*u) AS sy2u, sum(y2*v) AS sy2v,
         |          max(CASE WHEN rn = nn THEN y1 END) AS last1,
         |          max(CASE WHEN rn = nn THEN y2 END) AS last2
         |        FROM l WHERE u IS NOT NULL GROUP BY 1),
         |am AS (SELECT event_type, round(${VarSql.a("sy1")}, 6) AS a11,
         |         round(${VarSql.b("sy1")}, 6) AS a12,
         |         round(${VarSql.a("sy2")}, 6) AS a21,
         |         round(${VarSql.b("sy2")}, 6) AS a22
         |       FROM fit),
         |pw AS (
         |  SELECT event_type, 1 AS h, a11 AS p11, a12 AS p12, a21 AS p21, a22 AS p22,
         |         a11, a12, a21, a22
         |  FROM am
         |  UNION ALL
         |  SELECT event_type, h + 1,
         |    p11 * a11 + p12 * a21, p11 * a12 + p12 * a22,
         |    p21 * a11 + p22 * a21, p21 * a12 + p22 * a22,
         |    a11, a12, a21, a22
         |  FROM pw WHERE h < 12),
         |ei AS (SELECT event_type,
         |    a11 + a22 AS tr, a11 * a22 - a12 * a21 AS det,
         |    (a11 + a22) * (a11 + a22) - 4.0 * (a11 * a22 - a12 * a21) AS disc
         |  FROM am),
         |em AS (SELECT event_type,
         |    round(CASE WHEN disc >= 0 THEN greatest(abs((tr + sqrt(disc)) / 2), abs((tr - sqrt(disc)) / 2))
         |               ELSE sqrt(det) END, 6) AS max_eig_mod
         |  FROM ei)
         |SELECT p.event_type, p.h::INT AS h,
         |  round(p.p11, 6) + 0.0E0 AS psi11, round(p.p12, 6) + 0.0E0 AS psi12,
         |  round(p.p21, 6) + 0.0E0 AS psi21, round(p.p22, 6) + 0.0E0 AS psi22,
         |  e.max_eig_mod, e.max_eig_mod < 1.0 AS stable
         |FROM pw p JOIN em e USING (event_type) WHERE p.h IN (1, 6, 12)""".stripMargin,

    "q_bayes_var" -> {
      import BayesVarSql._
      val momSel = moments.map { case (n, e) => s"$e AS $n" }.mkString(",\n   ")
      val bxSel = Seq("bx11" -> "b1[1]", "bx12" -> "b1[2]", "bx13" -> "b1[3]", "bx14" -> "b1[4]",
        "bx21" -> "b2[1]", "bx22" -> "b2[2]", "bx23" -> "b2[3]", "bx24" -> "b2[4]")
        .map { case (n, e) => s"$e AS $n" }.mkString(", ")
      val sigSel = sigDefs.map { case (n, e) => s"$e AS $n" }.mkString(",\n   ")
      val aSel = aDefs.map { case (n, e) => s"$e AS $n" }.mkString(",\n   ")
      val mpSel = (1 to 8).map(r => s"b[$r] AS mp$r").mkString(", ")
      s"""WITH RECURSIVE hourly AS ($H),
         |bb AS (SELECT event_type, value AS y1, CAST(n AS DOUBLE) AS y2,
         |        row_number() OVER w AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS tt,
         |        lag(value) OVER w AS u1, lag(CAST(n AS DOUBLE)) OVER w AS u2
         |      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |bz AS (SELECT *, CAST(rn - 1 AS DOUBLE) / tt AS tn FROM bb),
         |mom AS (SELECT event_type,
         |   $momSel
         |   FROM bz GROUP BY 1),
         |amats AS (SELECT event_type, [${amatEntries.mkString(", ")}] AS m FROM mom),
         |${GaussJordan.sqlAug(4, 2, "a")},
         |bx AS (SELECT event_type, $bxSel FROM abeta),
         |sg AS (SELECT mom.*, bx11, bx12, bx13, bx14, bx21, bx22, bx23, bx24
         |       FROM mom JOIN bx USING (event_type)),
         |sig AS (SELECT *,
         |   $sigSel
         |   FROM sg),
         |aa AS (SELECT *,
         |   $aSel
         |   FROM sig),
         |mmats AS (SELECT event_type, [${mmatEntries.mkString(", ")}] AS m FROM aa),
         |${gaussJordanSql(8, "m")},
         |fin AS (SELECT aa.event_type, aa.last1, aa.last2, $mpSel
         |        FROM mbeta JOIN aa USING (event_type))
         |SELECT event_type, 'value' AS var, round(mp1, 6) AS coef_own, round(mp2, 6) AS coef_cross,
         |  round(mp3, 6) AS coef_trend, round(mp4, 6) AS intercept, round($f1, 6) AS yhat_1 FROM fin
         |UNION ALL
         |SELECT event_type, 'n' AS var, round(mp6, 6) AS coef_own, round(mp5, 6) AS coef_cross,
         |  round(mp7, 6) AS coef_trend, round(mp8, 6) AS intercept, round($f2, 6) AS yhat_1 FROM fin""".stripMargin
    }
  )
}
