package graft.queries

import graft._
import graft.detectors._
import graft.operators.Decompose
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.2 detectors + §2.6 decomposition, with DuckDB oracles where the
  * algorithm is ANSI-SQL-expressible. The Mann-Kendall oracle deliberately
  * uses the O(n²) pair-join formulation to cross-check the O(n log n)
  * Fenwick implementation.
  */
object DetectorQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private def hourly(s: SparkSession, dir: String) = Tables.hourlyEvents(s, dir).drop("n")
  private val H = Tables.hourlySql
  private val DenseSql =
    """b AS (SELECT event_type, min(ts) t0, max(ts) t1 FROM hourly GROUP BY 1),
      |grid AS (SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts FROM b),
      |dense AS (SELECT g.event_type, g.ts, coalesce(h.value, 0.0) AS value
      |          FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.ts = h.ts)""".stripMargin
  private def epochS(c: String, as: String = "ts_s") = unix_timestamp(col(c)).as(as)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_decompose_additive" -> ((s, dir) =>
      Decompose.additive(hourly(s, dir), S)
        .select(col("event_type"), epochS("ts"), col("value"), col("trend"), col("seasonal"), col("resid"))),

    "q_outlier_iqr" -> ((s, dir) =>
      Detectors.outlierIqr(hourly(s, dir), S)
        .select(col("event_type"), epochS("ts"), col("value"), col("resid"))),

    "q_outlier_zscore" -> ((s, dir) =>
      Detectors.outlierZscore(hourly(s, dir), S, 2.5)
        .select(col("event_type"), epochS("ts"), col("value"), col("z"))),

    // DistributionDistanceModel serving (distribution_distance_model.py:147):
    // per served point, the Jensen-Shannon divergence (base 2) between the
    // trailing-24h value distribution and the same window one day earlier —
    // Distance(current, current − window_size_sec) with the reference's
    // percentile-vector input re-derived as an 8-bin histogram over the
    // series' fitted range (our input is a univariate stream, not
    // precomputed deciles; declared). Pure window math: 8 frame sums +
    // 8 lags per point, one series shuffle, no recursion.
    "q_dist_distance_serve" -> ((s, dir) => {
      val bins = 8
      val w = S.orderedWindow
      val wk = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val wH = w.rowsBetween(-23, 0)
      def plog(c: org.apache.spark.sql.Column) =
        when(c > 0, c * log2(c)).otherwise(lit(0.0))
      val base = hourly(s, dir)
        .withColumn("mn", min("value").over(wk))
        .withColumn("mx", max("value").over(wk))
        .withColumn("bin",
          when(col("mx") === col("mn"), lit(0)).otherwise(
            least(floor((col("value") - col("mn")) / ((col("mx") - col("mn")) / bins)),
              lit(bins - 1)).cast("int")))
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
      val withHists = (0 until bins).foldLeft(base) { (df, k) =>
        df.withColumn(s"p$k",
            sum(when(col("bin") === k, 1).otherwise(0)).over(wH).cast("double") / 24.0)
          .withColumn(s"q$k", lag(s"p$k", 24).over(w))
      }
      val jsd = (0 until bins).map { k =>
        (plog(col(s"p$k")) + plog(col(s"q$k"))) / 2 -
          plog((col(s"p$k") + col(s"q$k")) / 2)
      }.reduce(_ + _)
      withHists
        .where(col("rn") > expr("nn div 2") && col("rn") >= 48)
        .select(col("event_type"), epochS("ts"), col("value"),
          round(jsd, 6).as("score"))
    }),

    // OutlierDetectorModel serving (outlier_detector.py:66 fit /
    // :95 predict): fit the decomposition + IQR limits on the FULL
    // series (history ++ data, as the reference concatenates), remove
    // seasonality only when its strength 1 − var(resid)/var(detrended)
    // ≥ 0.6 (outlier.py:108), then emit the reference's normalized
    // score (resid − lo)/(hi − lo) for the served half only
    "q_outlier_serve" -> ((s, dir) => {
      val d = operators.Decompose.additive(hourly(s, dir), S)
      val st = d.groupBy("event_type").agg(
        (lit(1.0) - var_pop(col("resid"))
          / greatest(var_pop(col("value") - col("trend")), lit(1e-12))).as("strength"))
      val r = d.join(broadcast(st), "event_type")
        .withColumn("rr", when(col("strength") >= 0.6, col("resid"))
          .otherwise(col("value") - col("trend")))
      val q = r.groupBy("event_type").agg(
        expr("percentile(rr, 0.25)").as("q1"), expr("percentile(rr, 0.75)").as("q3"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 3.0)
        .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 3.0)
      val w = S.orderedWindow
      val wk = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      r.join(broadcast(q), "event_type")
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
        .where(col("rn") > expr("nn div 2"))
        .select(col("event_type"), epochS("ts"), col("value"),
          round((col("rr") - col("lo")) / (col("hi") - col("lo")), 6).as("score"),
          when(col("rr") < col("lo") || col("rr") > col("hi"), 1).otherwise(0).as("is_outlier"))
    }),

    "q_stat_sig" -> ((s, dir) =>
      Detectors.statSig(hourly(s, dir), S, "2024-01-22 00:00:00")),

    // StatSigDetectorModel serving (stat_sig_detector.py:44): the rolling
    // fit_predict — per served point, a trailing n_test window is
    // t-tested against the n_control window right before it, emitting
    // the t-statistic as the severity score. Pure window frames: ONE
    // series shuffle, no recursion, codegen throughout.
    "q_stat_sig_serve" -> ((s, dir) => {
      val nC = 48
      val nT = 12
      val w = S.orderedWindow
      val wT = w.rowsBetween(-(nT - 1), 0)
      val wC = w.rowsBetween(-(nT + nC - 1), -nT)
      val wk = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val denom = sqrt(col("v_t") / nT + col("v_c") / nC)
      hourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
        .withColumn("mu_t", avg("value").over(wT))
        .withColumn("v_t", var_samp("value").over(wT))
        .withColumn("mu_c", avg("value").over(wC))
        .withColumn("v_c", var_samp("value").over(wC))
        .where(col("rn") > expr("nn div 2") && col("rn") > nT + nC)
        .select(col("event_type"), epochS("ts"), col("value"),
          round(when(denom === 0, 0.0).otherwise((col("mu_t") - col("mu_c")) / denom), 6)
            .as("score"))
    }),

    "q_cusum" -> ((s, dir) =>
      Detectors.cusum(hourly(s, dir), S)
        .select(col("event_type"), epochS("cp_ts", "cp_ts_s"), col("cusum"), col("direction"))),

    "q_robust_stat" -> ((s, dir) =>
      Detectors.robustStat(hourly(s, dir), S, 5, 12, 2.5)
        .select(col("event_type"), epochS("ts"), col("value"), col("zscore"))),

    "q_mann_kendall" -> ((s, dir) =>
      MannKendall.detect(hourly(s, dir), S)),

    "q_level_shift" -> ((s, dir) =>
      Detectors.levelShift(hourly(s, dir), S, 24)
        .select(col("event_type"), epochS("shift_ts", "shift_ts_s"), col("shift"))),

    "q_threshold_detect" -> ((s, dir) =>
      Detectors.thresholdDetect(hourly(s, dir), S, 0.95)
        .select(col("event_type"), epochS("ts"), col("value"), col("threshold"))),

    "q_hourly_ratio" -> ((s, dir) =>
      Detectors.hourlyRatio(Tables.events(s, dir).select(col("event_type"), col("ts"), col("value")), S)),

    "q_seasonality_acf" -> ((s, dir) =>
      Detectors.seasonalityAcf(Tables.denseHourly(s, dir), S, Seq(24, 168))),

    "q_anomaly_window" -> ((s, dir) =>
      Detectors.anomalyWindows(hourly(s, dir), S, 2.0)
        .select(col("event_type"), epochS("win_start", "win_start_s"), epochS("win_end", "win_end_s"),
          col("npoints"), col("peak_z"))),

    "q_bocpd" -> ((s, dir) =>
      Bocpd.detect(Tables.denseHourly(s, dir), S, hazard = 0.01, topK = 3)
        .select(col("event_type"), epochS("ts"), col("value"), col("cp_prob"))),

    // tsfeatures get_bocp_detector (tsfeatures.py:1569): changepoint
    // count + max/mean confidence over the detector's 0.5 posterior
    // threshold (bocpd.py default) — the same posterior kernel as
    // q_bocpd, aggregated per series
    "q_feat_bocp" -> ((s, dir) =>
      Bocpd.scores(Tables.denseHourly(s, dir), S, hazard = 0.01)
        .groupBy("event_type").agg(
          sum(when(col("cp_prob") >= 0.5, 1).otherwise(0)).cast("long").as("bocp_num"),
          round(coalesce(max(when(col("cp_prob") >= 0.5, col("cp_prob"))), lit(0.0)), 6)
            .as("bocp_conf_max"),
          round(coalesce(avg(when(col("cp_prob") >= 0.5, col("cp_prob"))), lit(0.0)), 6)
            .as("bocp_conf_mean"),
          // threshold-free peak posterior: keeps the feature informative
          // (and the oracle non-vacuous) on series where nothing clears
          // the detection threshold
          round(max(col("cp_prob")), 6).as("bocp_prob_peak"))),

    "q_seasonality_fft" -> ((s, dir) =>
      FftSeasonality.detect(Tables.denseHourly(s, dir), S)),

    // BOCPD model family beyond Normal-mean: Bayesian-linear-regression
    // run model (trend changes) and Gamma-Poisson run model (count rates)
    "q_bocpd_trend" -> ((s, dir) =>
      Bocpd.detectTrend(Tables.denseHourly(s, dir), S, hazard = 0.01, topK = 3)
        .select(col("event_type"), epochS("ts"), col("value"), col("cp_prob"))),

    "q_bocpd_poisson" -> ((s, dir) =>
      Bocpd.detectPoisson(
        Tables.hourlyEvents(s, dir).drop("value").withColumnRenamed("n", "value")
          .withColumn("value", col("value").cast("double")),
        S, hazard = 0.01, topK = 3)
        .select(col("event_type"), epochS("ts"), col("value").as("count"), col("cp_prob"))),

    // kats cusum_detection.py semantics: iterative refinement + LLR gate,
    // one row per (series, direction); fully oracle-replayed (10 unrolled
    // refinement iterations in SQL)
    "q_cusum_v2" -> ((s, dir) => {
      def side(inc: Boolean) =
        SeriesOps.aggSeries(hourly(s, dir), S,
          Seq("cp_idx", "mu0", "mu1", "delta", "llr", "p_value", "stable", "detected")) { xs =>
          CusumV2.detect(xs, increase = inc)
        }.withColumn("direction", lit(if (inc) "increase" else "decrease"))
      side(true).unionByName(side(false))
    })
  )

  /** 10 unrolled refinement iterations of the kats CUSUM update, shared
    * between nothing else — generated to keep the SQL honest rather than
    * hand-transcribed.
    */
  private val cusumV2Sql: String = {
    val iters = (1 to CusumV2.MaxIter).map { k =>
      s"""mu$k AS (SELECT o.event_type, c.direction, c.sgn, max(c.cp) AS prev_cp,
         |  avg(CASE WHEN o.rn - 1 <= c.cp THEN o.value END) AS m0,
         |  avg(CASE WHEN o.rn - 1 > c.cp THEN o.value END) AS m1
         |  FROM ord o JOIN cp${k - 1} c ON o.event_type = c.event_type GROUP BY 1, 2, 3),
         |cs$k AS (SELECT o.event_type, m.direction, m.sgn, m.prev_cp, o.rn, o.n,
         |  sum(o.value - (m.m0 + m.m1) / 2) OVER (PARTITION BY o.event_type, m.direction ORDER BY o.rn) AS cs
         |  FROM ord o JOIN mu$k m ON o.event_type = m.event_type),
         |cp$k AS (SELECT event_type, direction, sgn, prev_cp, greatest(1, least(pick, n - 2)) AS cp FROM (
         |  SELECT event_type, direction, sgn, prev_cp, rn - 1 AS pick, n,
         |    row_number() OVER (PARTITION BY event_type, direction ORDER BY sgn * cs DESC, rn) AS rk
         |  FROM cs$k) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH hourly AS ($H),
       |ord AS (SELECT event_type, value, row_number() OVER w AS rn,
       |  count(*) OVER (PARTITION BY event_type) AS n,
       |  avg(value) OVER (PARTITION BY event_type) AS mu
       |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
       |dirs AS (SELECT * FROM (VALUES ('increase', -1.0), ('decrease', 1.0)) t(direction, sgn)),
       |cs0 AS (SELECT o.event_type, d.direction, d.sgn, o.rn, o.n,
       |  sum(o.value - o.mu) OVER (PARTITION BY o.event_type, d.direction ORDER BY o.rn) AS cs
       |  FROM ord o CROSS JOIN dirs d),
       |cp0 AS (SELECT event_type, direction, sgn, least(pick, n - 2) AS cp, -1 AS prev_cp FROM (
       |  SELECT event_type, direction, sgn, rn - 1 AS pick, n,
       |    row_number() OVER (PARTITION BY event_type, direction ORDER BY sgn * cs DESC, rn) AS rk
       |  FROM cs0) WHERE rk = 1),
       |$iters,
       |seg AS (SELECT o.event_type, c.direction, max(c.cp) AS cp,
       |  max(CASE WHEN c.cp = c.prev_cp THEN 1.0 ELSE 0.0 END) AS stable, max(o.n) AS n,
       |  avg(CASE WHEN o.rn - 1 <= c.cp THEN o.value END) AS mu0,
       |  avg(CASE WHEN o.rn - 1 > c.cp THEN o.value END) AS mu1
       |  FROM ord o JOIN cp${CusumV2.MaxIter} c ON o.event_type = c.event_type GROUP BY 1, 2),
       |ss AS (SELECT o.event_type, f.direction, max(f.cp) AS cp, max(f.stable) AS stable, max(f.n) AS n,
       |  max(f.mu0) AS mu0, max(f.mu1) AS mu1,
       |  sum(CASE WHEN o.rn - 1 <= f.cp THEN (o.value - f.mu0) * (o.value - f.mu0)
       |           ELSE (o.value - f.mu1) * (o.value - f.mu1) END) AS ssseg,
       |  sum((o.value - o.mu) * (o.value - o.mu)) AS sst
       |  FROM ord o JOIN seg f ON o.event_type = f.event_type GROUP BY 1, 2),
       |fin AS (SELECT *,
       |  CASE WHEN sqrt(ssseg / (n - 2)) = 0 THEN sqrt(sst / n) * 0.01 ELSE sqrt(ssseg / (n - 2)) END AS scale,
       |  sqrt(sst / n) AS sigma_tilde
       |  FROM ss),
       |llr AS (SELECT *,
       |  -2 * (n * ln(scale / sigma_tilde) + 0.5 * (ssseg / (scale * scale) - sst / (sigma_tilde * sigma_tilde))) AS llr_v
       |  FROM fin)
       |SELECT event_type, direction, round(cp::DOUBLE, 6) AS cp_idx,
       |  round(mu0, 6) AS mu0, round(mu1, 6) AS mu1, round(mu1 - mu0, 6) AS delta,
       |  round(llr_v, 6) AS llr, round(least(exp(-llr_v / 2), 1.0), 6) AS p_value,
       |  round(stable, 6) AS stable,
       |  round(CASE WHEN llr_v > ${CusumV2.LlrThreshold} THEN 1.0 ELSE 0.0 END, 6) AS detected
       |FROM llr""".stripMargin
  }

  /** Shared BOCPD posterior replay, ending at `probs(event_type, ts,
    * value, cp_prob, t)` — consumed by q_bocpd (top-3 ranking) and
    * q_feat_bocp (thresholded per-series feature aggregate). */
  private[queries] lazy val bocpdProbsSql: String =
    s"""WITH RECURSIVE hourly AS ($H),
         |$DenseSql,
         |ord AS (SELECT event_type, ts, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |stats AS (SELECT event_type, avg(value) AS mu, greatest(var_samp(value), 1e-12) AS v0 FROM dense GROUP BY 1),
         |dfs AS (SELECT event_type, value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS d FROM dense),
         |sg AS (SELECT event_type,
         |         greatest((count(*) * var_pop(d)) / (2.0 * greatest(count(*) - 1, 1)), 1e-12) AS sigma2
         |       FROM dfs WHERE d IS NOT NULL GROUP BY 1),
         |rec AS (
         |  SELECT o.event_type, 0 AS t, [1.0::DOUBLE] AS prob,
         |    [st.mu + (o.value - st.mu) * (st.v0 / (st.v0 + sg.sigma2))] AS mu,
         |    [1.0 / (1.0 / st.v0 + 1.0 / sg.sigma2)] AS v,
         |    []::DOUBLE[] AS outl, o.n, st.mu AS mu0, st.v0 AS v0, sg.sigma2 AS sigma2
         |  FROM ord o JOIN stats st ON o.event_type = st.event_type
         |  JOIN sg ON o.event_type = sg.event_type WHERE o.t = 0
         |  UNION ALL
         |  SELECT event_type, t, nprob, nmu, nv,
         |    CASE WHEN t >= 10 THEN outl || [nprob[11]] ELSE outl END,
         |    n, mu0, v0, sigma2
         |  FROM (
         |    SELECT event_type, t, outl, n, mu0, v0, sigma2,
         |      list_concat([cp / total], list_transform(growth, g -> g / total)) AS nprob,
         |      list_concat([g0 * (mu0 / v0 + x / sigma2)],
         |        list_transform(mu, (m, i) -> gs[i] * (m / v[i] + x / sigma2))) AS nmu,
         |      list_concat([g0], gs) AS nv
         |    FROM (
         |      SELECT event_type, t, mu, v, outl, n, mu0, v0, sigma2, x, gs, g0, growth,
         |        list_sum(joint) * 0.01 AS cp,
         |        CASE WHEN (list_sum(joint) * 0.01 + list_sum(growth)) <= 0
         |                  OR isnan(list_sum(joint) * 0.01 + list_sum(growth))
         |             THEN 1e-300 ELSE list_sum(joint) * 0.01 + list_sum(growth) END AS total
         |      FROM (
         |        SELECT event_type, t, mu, v, outl, n, mu0, v0, sigma2, x, gs, g0, joint,
         |          list_transform(joint, jv -> jv * (1 - 0.01)) AS growth
         |        FROM (
         |          SELECT r.event_type, r.t + 1 AS t, r.mu, r.v, r.outl, r.n, r.mu0, r.v0, r.sigma2,
         |            o.value AS x,
         |            list_transform(r.v, vv -> 1.0 / (1.0 / vv + 1.0 / r.sigma2)) AS gs,
         |            1.0 / (1.0 / r.v0 + 1.0 / r.sigma2) AS g0,
         |            list_transform(r.prob, (p, i) ->
         |              p * exp(-0.5 * (o.value - r.mu[i]) * (o.value - r.mu[i]) / (r.v[i] + r.sigma2))
         |                / sqrt(2 * pi() * (r.v[i] + r.sigma2))) AS joint
         |          FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t + 1
         |          WHERE r.t + 1 <= r.n - 1))))),
         |fin AS (SELECT event_type, outl FROM rec WHERE t = n - 1),
         |probs AS (SELECT o.event_type, o.ts, o.value,
         |            CASE WHEN o.t = 0 THEN 0.0
         |                 WHEN o.t + 1 <= len(f.outl) THEN round(f.outl[o.t + 1], 6)
         |                 ELSE 0.0 END AS cp_prob, o.t
         |          FROM fin f JOIN ord o ON f.event_type = o.event_type)""".stripMargin

  val sql: Map[String, String] = Map(
    "q_cusum_v2" -> cusumV2Sql,

    // full BOCPD replay: the run-length posterior (prob/mu/var vectors)
    // is carried as lists through a recursive CTE, one step per point —
    // the lagged change-prob output and top-3 ranking match the kernel
    "q_bocpd" ->
      s"""$bocpdProbsSql
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, cp_prob
         |FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cp_prob DESC, t) AS rk FROM probs)
         |WHERE rk <= 3""".stripMargin,

    // tsfeatures get_bocp_detector (tsfeatures.py:1569): count/max/mean
    // confidence of BOCPD changepoints over the 0.5 posterior threshold
    // (bocpd.py:detector threshold default); same posterior replay as
    // q_bocpd, aggregated per series instead of top-3 ranked
    "q_feat_bocp" ->
      s"""$bocpdProbsSql
         |SELECT event_type,
         |  sum(CASE WHEN cp_prob >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS bocp_num,
         |  round(coalesce(max(CASE WHEN cp_prob >= 0.5 THEN cp_prob END), 0.0), 6) AS bocp_conf_max,
         |  round(coalesce(avg(CASE WHEN cp_prob >= 0.5 THEN cp_prob END), 0.0), 6) AS bocp_conf_mean,
         |  round(max(cp_prob), 6) AS bocp_prob_peak
         |FROM probs GROUP BY 1""".stripMargin,

    // trend-BOCPD replay: run-length Bayesian-linear-regression
    // sufficient statistics (n, Σt, Σt², Σx, Σtx) as five lists; the
    // closed-form 2×2 ridge posterior gives the Normal predictive
    "q_bocpd_trend" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |$DenseSql,
         |ord AS (SELECT event_type, ts, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |stats AS (SELECT event_type, avg(value) AS mu, greatest(var_samp(value), 1e-12) AS v0 FROM dense GROUP BY 1),
         |dfs AS (SELECT event_type, value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS d FROM dense),
         |sg AS (SELECT event_type,
         |         greatest((count(*) * var_pop(d)) / (2.0 * greatest(count(*) - 1, 1)), 1e-12) AS sigma2
         |       FROM dfs WHERE d IS NOT NULL GROUP BY 1),
         |rec AS (
         |  SELECT o.event_type, 0 AS t, [1.0::DOUBLE] AS prob,
         |    [1.0::DOUBLE] AS rn, [0.0::DOUBLE] AS rst, [0.0::DOUBLE] AS rstt,
         |    [o.value] AS rsx, [0.0::DOUBLE] AS rstx,
         |    []::DOUBLE[] AS outl, o.n, st.mu AS mu0, st.v0 AS v0, sg.sigma2 AS sigma2
         |  FROM ord o JOIN stats st ON o.event_type = st.event_type
         |  JOIN sg ON o.event_type = sg.event_type WHERE o.t = 0
         |  UNION ALL
         |  SELECT event_type, t, nprob,
         |    list_concat([1.0::DOUBLE], list_transform(rn, v -> v + 1)),
         |    list_concat([0.0::DOUBLE], list_transform(rst, (v, i) -> v + rn[i])),
         |    list_concat([0.0::DOUBLE], list_transform(rstt, (v, i) -> v + rn[i] * rn[i])),
         |    list_concat([x], list_transform(rsx, v -> v + x)),
         |    list_concat([0.0::DOUBLE], list_transform(rstx, (v, i) -> v + rn[i] * x)),
         |    CASE WHEN t >= 10 THEN outl || [nprob[11]] ELSE outl END,
         |    n, mu0, v0, sigma2
         |  FROM (
         |    SELECT event_type, t, rn, rst, rstt, rsx, rstx, outl, n, mu0, v0, sigma2, x,
         |      list_concat([cp / total], list_transform(growth, g -> g / total)) AS nprob
         |    FROM (
         |      SELECT event_type, t, rn, rst, rstt, rsx, rstx, outl, n, mu0, v0, sigma2, x, growth,
         |        list_sum(joint) * 0.01 AS cp,
         |        CASE WHEN (list_sum(joint) * 0.01 + list_sum(growth)) <= 0
         |                  OR isnan(list_sum(joint) * 0.01 + list_sum(growth))
         |             THEN 1e-300 ELSE list_sum(joint) * 0.01 + list_sum(growth) END AS total
         |      FROM (
         |        SELECT event_type, t, rn, rst, rstt, rsx, rstx, outl, n, mu0, v0, sigma2, x, joint,
         |          list_transform(joint, jv -> jv * (1 - 0.01)) AS growth
         |        FROM (
         |          SELECT r.event_type, r.t + 1 AS t, r.rn, r.rst, r.rstt, r.rsx, r.rstx,
         |            r.outl, r.n, r.mu0, r.v0, r.sigma2, o.value AS x,
         |            list_transform(r.prob, (p, i) ->
         |              p * exp(-0.5
         |                * (o.value - (((r.rstt[i] + 1) * r.rsx[i] - r.rst[i] * r.rstx[i])
         |                               / ((r.rn[i] + 1) * (r.rstt[i] + 1) - r.rst[i] * r.rst[i])
         |                             + ((r.rn[i] + 1) * r.rstx[i] - r.rst[i] * r.rsx[i])
         |                               / ((r.rn[i] + 1) * (r.rstt[i] + 1) - r.rst[i] * r.rst[i]) * r.rn[i]))
         |                  * (o.value - (((r.rstt[i] + 1) * r.rsx[i] - r.rst[i] * r.rstx[i])
         |                               / ((r.rn[i] + 1) * (r.rstt[i] + 1) - r.rst[i] * r.rst[i])
         |                             + ((r.rn[i] + 1) * r.rstx[i] - r.rst[i] * r.rsx[i])
         |                               / ((r.rn[i] + 1) * (r.rstt[i] + 1) - r.rst[i] * r.rst[i]) * r.rn[i]))
         |                  / (r.sigma2 * (1.0 + ((r.rstt[i] + 1) - 2 * r.rn[i] * r.rst[i] + r.rn[i] * r.rn[i] * (r.rn[i] + 1))
         |                                 / ((r.rn[i] + 1) * (r.rstt[i] + 1) - r.rst[i] * r.rst[i])) + 1e-12))
         |                / sqrt(2 * pi() * (r.sigma2 * (1.0 + ((r.rstt[i] + 1) - 2 * r.rn[i] * r.rst[i] + r.rn[i] * r.rn[i] * (r.rn[i] + 1))
         |                                 / ((r.rn[i] + 1) * (r.rstt[i] + 1) - r.rst[i] * r.rst[i])) + 1e-12))) AS joint
         |          FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t + 1
         |          WHERE r.t + 1 <= r.n - 1))))),
         |fin AS (SELECT event_type, outl FROM rec WHERE t = n - 1),
         |probs AS (SELECT o.event_type, o.ts, o.value,
         |            CASE WHEN o.t = 0 THEN 0.0
         |                 WHEN o.t + 1 <= len(f.outl) THEN round(f.outl[o.t + 1], 6)
         |                 ELSE 0.0 END AS cp_prob, o.t
         |          FROM fin f JOIN ord o ON f.event_type = o.event_type)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, cp_prob
         |FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cp_prob DESC, t) AS rk FROM probs)
         |WHERE rk <= 3""".stripMargin,

    // Gamma-Poisson BOCPD replay: run-length (prob, α, β) lists through
    // the recursive CTE; negative-binomial predictive via lgamma
    "q_bocpd_poisson" ->
      s"""WITH RECURSIVE hourly0 AS (SELECT event_type, date_trunc('hour', ts) AS ts, count(*)::DOUBLE AS value
         |  FROM events GROUP BY 1, 2),
         |ord AS (SELECT event_type, ts, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM hourly0),
         |stats AS (SELECT event_type, greatest(avg(value), 1e-3) AS rate FROM hourly0 GROUP BY 1),
         |rec AS (
         |  SELECT o.event_type, 0 AS t, [1.0::DOUBLE] AS prob,
         |    [st.rate + o.value] AS aa, [2.0::DOUBLE] AS bb,
         |    []::DOUBLE[] AS outl, o.n, st.rate AS alpha0
         |  FROM ord o JOIN stats st ON o.event_type = st.event_type WHERE o.t = 0
         |  UNION ALL
         |  SELECT event_type, t, nprob, naa, nbb,
         |    CASE WHEN t >= 10 THEN outl || [nprob[11]] ELSE outl END,
         |    n, alpha0
         |  FROM (
         |    SELECT event_type, t, outl, n, alpha0,
         |      list_concat([cp / total], list_transform(growth, g -> g / total)) AS nprob,
         |      list_concat([alpha0 + x], list_transform(aa, av -> av + x)) AS naa,
         |      list_concat([2.0::DOUBLE], list_transform(bb, bv -> bv + 1.0)) AS nbb
         |    FROM (
         |      SELECT event_type, t, aa, bb, outl, n, alpha0, x, growth,
         |        list_sum(joint) * 0.01 AS cp,
         |        CASE WHEN (list_sum(joint) * 0.01 + list_sum(growth)) <= 0
         |                  OR isnan(list_sum(joint) * 0.01 + list_sum(growth))
         |             THEN 1e-300 ELSE list_sum(joint) * 0.01 + list_sum(growth) END AS total
         |      FROM (
         |        SELECT event_type, t, aa, bb, outl, n, alpha0, x, joint,
         |          list_transform(joint, jv -> jv * (1 - 0.01)) AS growth
         |        FROM (
         |          SELECT r.event_type, r.t + 1 AS t, r.aa, r.bb, r.outl, r.n, r.alpha0,
         |            greatest(round(o.value), 0.0) AS x,
         |            list_transform(r.prob, (p, i) ->
         |              p * exp(lgamma(greatest(round(o.value), 0.0) + r.aa[i]) - lgamma(r.aa[i])
         |                      - lgamma(greatest(round(o.value), 0.0) + 1.0)
         |                      + r.aa[i] * ln(r.bb[i] / (r.bb[i] + 1.0))
         |                      + greatest(round(o.value), 0.0) * ln(1.0 / (r.bb[i] + 1.0)))) AS joint
         |          FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t + 1
         |          WHERE r.t + 1 <= r.n - 1))))),
         |fin AS (SELECT event_type, outl FROM rec WHERE t = n - 1),
         |probs AS (SELECT o.event_type, o.ts, o.value,
         |            CASE WHEN o.t = 0 THEN 0.0
         |                 WHEN o.t + 1 <= len(f.outl) THEN round(f.outl[o.t + 1], 6)
         |                 ELSE 0.0 END AS cp_prob, o.t
         |          FROM fin f JOIN ord o ON f.event_type = o.event_type)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value AS count, cp_prob
         |FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cp_prob DESC, t) AS rk FROM probs)
         |WHERE rk <= 3""".stripMargin,

    // explicit DFT replay: per series, power at Fourier freqs k=1..n/2,
    // dominant period + its share of total power
    "q_seasonality_fft" ->
      s"""WITH hourly AS ($H),
         |$DenseSql,
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n,
         |  avg(value) OVER (PARTITION BY event_type) AS mu
         |  FROM dense),
         |ks AS (SELECT DISTINCT event_type, unnest(range(1, n // 2 + 1)) AS k FROM ord),
         |sp AS (SELECT o.event_type, ks.k, max(o.n) AS n,
         |         sum((o.value - o.mu) * cos((2 * pi() * ks.k / o.n) * o.t)) AS re,
         |         sum((o.value - o.mu) * sin((2 * pi() * ks.k / o.n) * o.t)) AS im
         |       FROM ord o JOIN ks ON o.event_type = ks.event_type GROUP BY 1, 2),
         |p AS (SELECT event_type, k, n, (re * re + im * im) / n AS p FROM sp),
         |tot AS (SELECT event_type, sum(p) AS total FROM p GROUP BY 1),
         |best AS (SELECT event_type, k, n, p,
         |           row_number() OVER (PARTITION BY event_type ORDER BY p DESC, k) AS rk FROM p)
         |SELECT b.event_type, round(b.n::DOUBLE / b.k, 6) AS period,
         |  round(CASE WHEN t.total > 0 THEN b.p / t.total ELSE 0.0 END, 6) AS power_share
         |FROM best b JOIN tot t ON b.event_type = t.event_type WHERE b.rk = 1""".stripMargin,

    "q_decompose_additive" ->
      s"""WITH hourly AS ($H),
         |${Decompose.additiveSql}
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, trend, seasonal, resid FROM decomp""".stripMargin,

    "q_outlier_iqr" ->
      s"""WITH hourly AS ($H),
         |${Decompose.additiveSql},
         |q AS (SELECT event_type, quantile_cont(resid, 0.25) q1, quantile_cont(resid, 0.75) q3 FROM decomp GROUP BY 1)
         |SELECT d.event_type, epoch_us(d.ts)//1000000 AS ts_s, d.value, d.resid
         |FROM decomp d JOIN q ON d.event_type = q.event_type
         |WHERE d.resid < q.q1 - 3.0 * (q.q3 - q.q1) OR d.resid > q.q3 + 3.0 * (q.q3 - q.q1)""".stripMargin,

    "q_outlier_zscore" ->
      s"""WITH hourly AS ($H),
         |z AS (SELECT event_type, ts, value,
         |  round((value - avg(value) OVER (PARTITION BY event_type)) / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
         |  FROM hourly)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, z FROM z WHERE abs(z) > 2.5""".stripMargin,

    "q_dist_distance_serve" -> {
      val bins = 8
      def plog(x: String) = s"CASE WHEN $x > 0 THEN $x * log2($x) ELSE 0.0 END"
      val pCols = (0 until bins).map(k =>
        s"sum(CASE WHEN bin = $k THEN 1 ELSE 0 END) OVER (w ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)::DOUBLE / 24.0 AS p$k").mkString(",\n  ")
      val qCols = (0 until bins).map(k => s"lag(p$k, 24) OVER w2 AS q$k").mkString(",\n  ")
      val jsd = (0 until bins).map(k =>
        s"(${plog(s"p$k")} + ${plog(s"q$k")}) / 2 - ${plog(s"(p$k + q$k) / 2")}").mkString("\n    + ")
      s"""WITH hourly AS ($H),
         |st AS (SELECT event_type, ts, value,
         |  min(value) OVER (PARTITION BY event_type) AS mn,
         |  max(value) OVER (PARTITION BY event_type) AS mx,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM hourly),
         |b AS (SELECT *, CASE WHEN mx = mn THEN 0
         |        ELSE least(floor((value - mn) / ((mx - mn) / $bins)), ${bins - 1})::INT END AS bin
         |      FROM st),
         |h AS (SELECT *,
         |  $pCols
         |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |hq AS (SELECT *,
         |  $qCols
         |  FROM h WINDOW w2 AS (PARTITION BY event_type ORDER BY ts))
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |  round($jsd, 6) AS score
         |FROM hq WHERE rn > nn // 2 AND rn >= 48""".stripMargin
    },

    "q_stat_sig_serve" ->
      s"""WITH hourly AS ($H),
         |win AS (SELECT event_type, ts, value,
         |  row_number() OVER w AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS nn,
         |  avg(value) OVER (w ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS mu_t,
         |  var_samp(value) OVER (w ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS v_t,
         |  avg(value) OVER (w ROWS BETWEEN 59 PRECEDING AND 12 PRECEDING) AS mu_c,
         |  var_samp(value) OVER (w ROWS BETWEEN 59 PRECEDING AND 12 PRECEDING) AS v_c
         |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts))
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |  round(CASE WHEN sqrt(v_t / 12 + v_c / 48) = 0 THEN 0.0
         |             ELSE (mu_t - mu_c) / sqrt(v_t / 12 + v_c / 48) END, 6) AS score
         |FROM win WHERE rn > nn // 2 AND rn > 60""".stripMargin,

    "q_outlier_serve" ->
      s"""WITH hourly AS ($H),
         |${operators.Decompose.additiveSql},
         |st AS (SELECT event_type,
         |         1 - var_pop(resid) / greatest(var_pop(value - trend), 1e-12) AS strength
         |       FROM decomp GROUP BY 1),
         |r AS (SELECT d.*, CASE WHEN st.strength >= 0.6 THEN d.resid
         |                       ELSE d.value - d.trend END AS rr
         |      FROM decomp d JOIN st ON d.event_type = st.event_type),
         |q AS (SELECT event_type, quantile_cont(rr, 0.25) AS q1, quantile_cont(rr, 0.75) AS q3
         |      FROM r GROUP BY 1),
         |lim AS (SELECT event_type, q1 - 3.0 * (q3 - q1) AS lo, q3 + 3.0 * (q3 - q1) AS hi FROM q),
         |o AS (SELECT r.event_type, r.ts, r.value, r.rr, lim.lo, lim.hi,
         |        row_number() OVER (PARTITION BY r.event_type ORDER BY r.ts) AS rn,
         |        count(*) OVER (PARTITION BY r.event_type) AS n
         |      FROM r JOIN lim ON r.event_type = lim.event_type)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |  round((rr - lo) / (hi - lo), 6) AS score,
         |  CASE WHEN rr < lo OR rr > hi THEN 1 ELSE 0 END AS is_outlier
         |FROM o WHERE rn > n // 2""".stripMargin,

    "q_stat_sig" ->
      s"""WITH hourly AS ($H)
         |SELECT event_type,
         |  count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00') AS n1,
         |  count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00') AS n2,
         |  round(avg(value) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00'), 6) AS m1,
         |  round(avg(value) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'), 6) AS m2,
         |  round((avg(value) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00') - avg(value) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00'))
         |    / sqrt(var_samp(value) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00') / count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00')
         |         + var_samp(value) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00') / count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00')), 6) AS t,
         |  CASE WHEN abs((avg(value) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00') - avg(value) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00'))
         |    / sqrt(var_samp(value) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00') / count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00')
         |         + var_samp(value) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00') / count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'))) > 1.96
         |    THEN 1 ELSE 0 END AS significant
         |FROM hourly GROUP BY 1""".stripMargin,

    "q_cusum" ->
      s"""WITH hourly AS ($H),
         |m AS (SELECT event_type, avg(value) AS mu FROM hourly GROUP BY 1),
         |c AS (SELECT h.event_type, h.ts,
         |        sum(h.value - m.mu) OVER (PARTITION BY h.event_type ORDER BY h.ts) AS cum
         |      FROM hourly h JOIN m ON h.event_type = m.event_type),
         |r AS (SELECT event_type, ts, cum,
         |        row_number() OVER (PARTITION BY event_type ORDER BY abs(cum) DESC, ts) AS rn FROM c)
         |SELECT event_type, epoch_us(ts)//1000000 AS cp_ts_s, round(cum, 6) AS cusum,
         |  CASE WHEN cum > 0 THEN 'up' ELSE 'down' END AS direction
         |FROM r WHERE rn = 1""".stripMargin,

    "q_robust_stat" ->
      s"""WITH hourly AS ($H),
         |sm AS (SELECT event_type, ts, value,
         |  round(avg(value) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS smv
         |  FROM hourly),
         |d AS (SELECT *, smv - lag(smv, 12) OVER (PARTITION BY event_type ORDER BY ts) AS dd FROM sm),
         |z AS (SELECT event_type, ts, value,
         |  round((dd - avg(dd) OVER (PARTITION BY event_type)) / stddev_samp(dd) OVER (PARTITION BY event_type), 6) AS zscore
         |  FROM d)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, zscore FROM z WHERE abs(zscore) > 2.5""".stripMargin,

    "q_mann_kendall" ->
      s"""WITH hourly AS ($H),
         |p AS (SELECT a.event_type, sign(b.value - a.value) AS sg
         |      FROM hourly a JOIN hourly b ON a.event_type = b.event_type AND a.ts < b.ts),
         |sgg AS (SELECT event_type, sum(sg)::BIGINT AS s FROM p GROUP BY 1),
         |nn AS (SELECT event_type, count(*)::BIGINT AS n FROM hourly GROUP BY 1),
         |tie AS (SELECT event_type, sum(c * (c - 1) * (2 * c + 5)) AS tie_sum
         |        FROM (SELECT event_type, value, count(*)::BIGINT AS c FROM hourly GROUP BY 1, 2) GROUP BY 1),
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

    "q_level_shift" ->
      s"""WITH hourly AS ($H),
         |ls AS (SELECT event_type, ts,
         |  avg(value) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS lm,
         |  avg(value) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING) AS rm,
         |  count(*) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS nl,
         |  count(*) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING) AS nr
         |  FROM hourly),
         |f AS (SELECT event_type, ts, round(abs(rm - lm), 6) AS shift FROM ls WHERE nl = 24 AND nr = 24),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY shift DESC, ts) AS rn FROM f)
         |SELECT event_type, epoch_us(ts)//1000000 AS shift_ts_s, shift FROM r WHERE rn = 1""".stripMargin,

    "q_threshold_detect" ->
      s"""WITH hourly AS ($H),
         |t AS (SELECT event_type, ts, value,
         |  quantile_cont(value, 0.95) OVER (PARTITION BY event_type) AS thr FROM hourly)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, round(thr, 6) AS threshold
         |FROM t WHERE value > thr""".stripMargin,

    "q_hourly_ratio" ->
      """WITH prof AS (
        |  SELECT event_type, hour(ts) AS hod, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |sh AS (SELECT event_type, hod,
        |  round(v / sum(v) OVER (PARTITION BY event_type), 6) AS share FROM prof),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY share DESC, hod) AS rn FROM sh)
        |SELECT event_type, hod::INT AS hod, share, CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_peak FROM r""".stripMargin,

    "q_seasonality_acf" ->
      s"""WITH hourly AS ($H),
         |$DenseSql,
         |base AS (SELECT event_type, ts, value,
         |  value - avg(value) OVER (PARTITION BY event_type) AS dev,
         |  count(*) OVER (PARTITION BY event_type) AS n
         |  FROM dense),
         |lag24 AS (SELECT event_type, n, dev, lag(dev, 24) OVER (PARTITION BY event_type ORDER BY ts) AS devk FROM base),
         |lag168 AS (SELECT event_type, n, dev, lag(dev, 168) OVER (PARTITION BY event_type ORDER BY ts) AS devk FROM base),
         |a AS (
         |  SELECT event_type, 24 AS lag, sum(dev * devk) / sum(dev * dev) AS acf_raw, max(n) AS n FROM lag24 GROUP BY 1
         |  UNION ALL
         |  SELECT event_type, 168 AS lag, sum(dev * devk) / sum(dev * dev) AS acf_raw, max(n) AS n FROM lag168 GROUP BY 1)
         |SELECT event_type, lag::INT AS lag, round(acf_raw, 6) AS acf,
         |  CASE WHEN acf_raw > 2.0 / sqrt(n) THEN 1 ELSE 0 END AS seasonal
         |FROM a""".stripMargin,

    "q_anomaly_window" ->
      s"""WITH hourly AS ($H),
         |z AS (SELECT event_type, ts, value,
         |  (value - avg(value) OVER (PARTITION BY event_type)) / stddev_samp(value) OVER (PARTITION BY event_type) AS z,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn
         |  FROM hourly),
         |fl AS (SELECT *, rn - row_number() OVER (PARTITION BY event_type ORDER BY ts) AS grp
         |       FROM z WHERE abs(z) > 2.0)
         |SELECT event_type, epoch_us(min(ts))//1000000 AS win_start_s, epoch_us(max(ts))//1000000 AS win_end_s,
         |  count(*) AS npoints, round(max(abs(z)), 6) AS peak_z
         |FROM fl GROUP BY event_type, grp""".stripMargin
  )
}
