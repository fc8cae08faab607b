package graft.queries

import graft._
import graft.metrics.Metrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-model evaluation sweep (kats/evaluation/evaluator.py's
  * run-many-models surface re-derived): fit a battery of base models per
  * series in ONE keyed aggregate pass, forecast a common holdout, and
  * score every (series, model) pair.
  *
  * Every model in the sweep has a closed-form fit — a handful of
  * aggregate moments per series — so the whole evaluator is two shuffles
  * (fit aggregate + metric aggregate) regardless of how many models are
  * in the battery. That is the 100 TB shape: adding a model adds columns,
  * not passes.
  */
object EvalQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private val H = Tables.hourlySql

  private val denseSql = Tables.denseHourlySql

  /** Holdout length and the model battery as shared (name, forecast-expr)
    * pairs over the fit columns: a/b (train linear regression on rn),
    * yfirst/ylast, tail24 (last season of train), sesn/sesd (adjusted-SES
    * moment sums with beta = 0.5 — exact in binary on both engines), nt
    * (train length), and h (holdout step 1..HOLDOUT).
    */
  private[graft] object EvalSql {
    val holdout = 48
    // (name, spark expr, duckdb expr) — identical except array indexing,
    // where Spark brackets are 0-based (element_at is the 1-based form)
    // and DuckDB brackets are 1-based
    val models: Seq[(String, String, String)] = Seq(
      ("naive", "ylast", "ylast"),
      ("snaive", "element_at(tail24, cast(((h - 1) % 24) + 1 AS INT))", "tail24[((h - 1) % 24) + 1]"),
      ("drift", "ylast + h * (ylast - yfirst) / (nt - 1)", "ylast + h * (ylast - yfirst) / (nt - 1)"),
      ("linear", "a + b * (nt + h)", "a + b * (nt + h)"),
      ("ses", "sesn / sesd", "sesn / sesd"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_evaluator" -> ((s, dir) => {
      import EvalSql._
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val base = Tables.denseHourly(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("nt", count(lit(1)).over(wk) - holdout)
      val fit = base.where(col("rn") <= col("nt")).groupBy("event_type").agg(
        regr_intercept(col("value"), col("rn").cast("double")).as("a"),
        regr_slope(col("value"), col("rn").cast("double")).as("b"),
        min_by(col("value"), col("rn")).as("yfirst"),
        max_by(col("value"), col("rn")).as("ylast"),
        expr("transform(array_sort(collect_list(CASE WHEN rn > nt - 24 THEN struct(rn, value) END)), s -> s.value)").as("tail24"),
        sum(col("value") * pow(lit(0.5), col("nt") - col("rn"))).as("sesn"),
        sum(pow(lit(0.5), col("nt") - col("rn"))).as("sesd"),
        max("nt").as("nt"))
      val ho = base.where(col("rn") > col("nt"))
        .select(col("event_type"), (col("rn") - col("nt")).as("h"), col("value").as("y"))
      val fc = ho.join(broadcast(fit), Seq("event_type"))
        .select(col("event_type"), col("y"), explode(array(models.map { case (m, e, _) =>
          struct(lit(m).as("model"), expr(e).as("f"))
        }: _*)).as("mf"))
        .select(col("event_type"), col("mf.model").as("model"), col("y"), col("mf.f").as("f"))
      fc.groupBy("event_type", "model").agg(
        round(Metrics.mape(col("y"), col("f")), 6).as("mape"),
        round(Metrics.smape(col("y"), col("f")), 6).as("smape"),
        round(Metrics.mae(col("y"), col("f")), 6).as("mae"),
        round(Metrics.rmse(col("y"), col("f")), 6).as("rmse"),
        count(lit(1)).as("n"))
    }),

    "q_model_persist" -> ((s, dir) => {
      // the full persistence loop: fit → save → load → forecast WITHOUT
      // refit — the oracle fits directly, so the round trip must be exact
      import graft.models.ModelStore
      val path = Scratch.dir(s, "modelstore")
      ModelStore.save(ModelStore.fitBattery(Tables.hourlyEvents(s, dir).drop("n"), S), path)
      ModelStore.forecast(ModelStore.load(s, path), Seq("event_type"), steps = 24)
        .select(col("event_type"), col("model"), col("h"), round(col("fcst"), 6).as("fcst"))
    }),

    "q_evaluator_grid" -> ((s, dir) => {
      // hyperparameter sweep as a PLAN dimension: the SES alpha grid
      // cross-joins into the fit aggregate, so 9 candidate models fit in
      // the same two shuffles as one — the Spark-native form of
      // parameter tuning (time_series_parameter_tuning.py is Ax-bound
      // and excluded; this is the grid-search core of it)
      import EvalSql._
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val alphas = (1 to 9).map(_ / 10.0)
      val base = Tables.denseHourly(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("nt", count(lit(1)).over(wk) - holdout)
      val fit = base.where(col("rn") <= col("nt"))
        .withColumn("alpha", explode(array(alphas.map(lit): _*)))
        .groupBy("event_type", "alpha").agg(
          sum(col("value") * pow(lit(1.0) - col("alpha"), col("nt") - col("rn"))).as("sesn"),
          sum(pow(lit(1.0) - col("alpha"), col("nt") - col("rn"))).as("sesd"))
      val ho = base.where(col("rn") > col("nt"))
        .select(col("event_type"), col("value").as("y"))
      val scored = ho.join(broadcast(fit), Seq("event_type"))
        .withColumn("f", col("sesn") / col("sesd"))
        .groupBy("event_type", "alpha").agg(
          round(Metrics.smape(col("y"), col("f")), 6).as("smape"),
          round(Metrics.rmse(col("y"), col("f")), 6).as("rmse"))
      scored.withColumn("best",
          (row_number().over(Window.partitionBy("event_type")
            .orderBy(col("rmse"), col("alpha"))) === 1).cast("int"))
        .select("event_type", "alpha", "smape", "rmse", "best")
    }),

    "q_backtest_fixed" -> ((s, dir) => {
      // BackTesterFixedWindow (backtesters.py:1047): train on the first
      // 50% of rows, skip a 25% gap window, test on the following 25% —
      // the long-range-forecast backtest. Sizes floor like
      // _get_absolute_size; the trained model is the hour-of-day mean
      // (the same convention as q_backtest_rolling).
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val base = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
        .withColumn("tr", floor(col("nn") * 0.5))
        .withColumn("wi", floor(col("nn") * 0.25))
        .withColumn("te", floor(col("nn") * 0.25))
      val model = base.where(col("rn") <= col("tr"))
        .groupBy(col("event_type"), hour(col("ts")).as("hod"))
        .agg(avg("value").as("f"))
      base.where(col("rn") > col("tr") + col("wi") &&
          col("rn") <= col("tr") + col("wi") + col("te"))
        .withColumn("hod", hour(col("ts")))
        .join(broadcast(model), Seq("event_type", "hod"))
        .groupBy("event_type")
        .agg(
          round(Metrics.mape(col("value"), col("f")), 6).as("mape"),
          round(Metrics.smape(col("value"), col("f")), 6).as("smape"),
          round(Metrics.mae(col("value"), col("f")), 6).as("mae"),
          round(Metrics.mse(col("value"), col("f")), 6).as("mse"),
          round(Metrics.rmse(col("value"), col("f")), 6).as("rmse"),
          count(lit(1)).as("n_test"))
    }),

    "q_crossval" -> ((s, dir) => {
      // CrossValidation (backtesters.py:1175): expanding rolling-origin
      // folds (train 50%, test 10%, 3 folds); fold start offsets follow
      // _return_fold_offsets — [0, ceil(m/2), m] over the free range m.
      // Per kats calc_error, the CV error is the fold metrics weighted
      // by relative fold test length. The fold grid is a plan dimension:
      // explode over 3 folds, one model aggregate, one metric aggregate.
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val folds = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
        .withColumn("tr", floor(col("nn") * 0.5))
        .withColumn("te", floor(col("nn") * 0.1))
        .withColumn("m", col("nn") - col("tr") - col("te"))
        .withColumn("fold", explode(array(lit(0), lit(1), lit(2))))
        .withColumn("off", when(col("fold") === 0, lit(0L))
          .when(col("fold") === 1, expr("(m + 1) div 2"))
          .otherwise(col("m")))
      val model = folds.where(col("rn") <= col("tr") + col("off"))
        .groupBy(col("event_type"), col("fold"), hour(col("ts")).as("hod"))
        .agg(avg("value").as("f"))
      val perFold = folds.where(col("rn") > col("tr") + col("off") &&
          col("rn") <= col("tr") + col("off") + col("te"))
        .withColumn("hod", hour(col("ts")))
        .join(broadcast(model), Seq("event_type", "fold", "hod"))
        .groupBy("event_type", "fold")
        .agg(
          Metrics.mape(col("value"), col("f")).as("mape_f"),
          Metrics.smape(col("value"), col("f")).as("smape_f"),
          Metrics.mae(col("value"), col("f")).as("mae_f"),
          Metrics.rmse(col("value"), col("f")).as("rmse_f"),
          count(lit(1)).as("nf"))
      perFold.groupBy("event_type").agg(
        round(sum(col("mape_f") * col("nf")) / sum(col("nf")), 6).as("cv_mape"),
        round(sum(col("smape_f") * col("nf")) / sum(col("nf")), 6).as("cv_smape"),
        round(sum(col("mae_f") * col("nf")) / sum(col("nf")), 6).as("cv_mae"),
        round(sum(col("rmse_f") * col("nf")) / sum(col("nf")), 6).as("cv_rmse"),
        count(lit(1)).as("n_folds"),
        sum("nf").as("n_test"))
    }),

    "q_detector_serve" -> ((s, dir) => {
      // the DetectorModel serving contract (bocpd_model.py:78 /
      // cusum_model.py:594 fit_predict(data, historical)): fit baselines
      // on the historical half, persist, then score the later half
      // WITHOUT refit — z-score against the stored mu/sigma and a
      // BOCPD-prior predictive z against mu0/sqrt(v0+sigma2). The oracle
      // refits directly, so the store round trip must be exact.
      import graft.detectors.DetectorStore
      import graft.models.ModelStore
      val path = Scratch.dir(s, "detserve")
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val base = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
      val hist = base.where(col("rn") <= expr("nn div 2")).select("event_type", "ts", "value")
      val serve = base.where(col("rn") > expr("nn div 2")).select("event_type", "ts", "value")
      ModelStore.save(DetectorStore.fitBaselines(hist, S), path)
      val params = ModelStore.load(s, path)
      serve
        .join(broadcast(DetectorStore.zscoreBaseline(params, Seq("event_type"))), Seq("event_type"))
        .join(broadcast(DetectorStore.bocpdPriorsTable(params, Seq("event_type"))), Seq("event_type"))
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .withColumn("pz", (col("value") - col("mu0")) / sqrt(col("v0") + col("sigma2")))
        .where(abs(col("z")) > 2.5 || abs(col("pz")) > 2.5)
        .select(col("event_type"), col("ts"), col("value"),
          round(col("z"), 6).as("zscore"), round(col("pz"), 6).as("pred_zscore"))
    }),

    "q_detector_persist" -> ((s, dir) => {
      // detector-baseline persistence: the same save/load loop for the
      // scalars a serving-time detector needs (z-score mu/sigma, BOCPD
      // priors), oracle-checked through the parquet round trip
      import graft.detectors.DetectorStore
      import graft.models.ModelStore
      val path = Scratch.dir(s, "detectorstore")
      ModelStore.save(DetectorStore.fitBaselines(Tables.hourlyEvents(s, dir).drop("n"), S), path)
      ModelStore.load(s, path)
        .select(col("event_type"), col("model"), col("param"), round(col("value"), 6).as("value"))
    })
  )

  val sql: Map[String, String] = Map(
    "q_evaluator" -> {
      import EvalSql._
      val arms = models.map { case (m, _, e) =>
        s"SELECT event_type, '$m' AS model, y, $e AS f FROM j"
      }.mkString("\nUNION ALL\n")
      s"""WITH hourly AS ($H),
         |$denseSql,
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |  count(*) OVER (PARTITION BY event_type) - $holdout AS nt FROM dense),
         |fit AS (SELECT event_type,
         |    regr_intercept(value, rn::DOUBLE) AS a, regr_slope(value, rn::DOUBLE) AS b,
         |    arg_min(value, rn) AS yfirst, arg_max(value, rn) AS ylast,
         |    list(value ORDER BY rn) FILTER (rn > nt - 24) AS tail24,
         |    sum(value * pow(0.5, nt - rn)) AS sesn, sum(pow(0.5, nt - rn)) AS sesd,
         |    max(nt) AS nt
         |  FROM ord WHERE rn <= nt GROUP BY 1),
         |j AS (SELECT o.event_type, o.rn - o.nt AS h, o.value AS y,
         |        f.a, f.b, f.yfirst, f.ylast, f.tail24, f.sesn, f.sesd, f.nt
         |      FROM ord o JOIN fit f ON o.event_type = f.event_type WHERE o.rn > o.nt),
         |fc AS ($arms)
         |SELECT event_type, model,
         |  round(avg(CASE WHEN y = 0 THEN CAST(sign(abs(y - f)) AS DOUBLE) ELSE abs(y - f) / y END), 6) AS mape,
         |  round(2 * avg(CASE WHEN abs(y) + abs(f) = 0 THEN 0.0 ELSE abs(y - f) / (abs(y) + abs(f)) END), 6) AS smape,
         |  round(avg(abs(y - f)), 6) AS mae,
         |  round(sqrt(avg((y - f)^2)), 6) AS rmse,
         |  count(*) AS n
         |FROM fc GROUP BY 1, 2""".stripMargin
    },

    "q_model_persist" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM hourly),
         |fit AS (SELECT event_type,
         |    regr_intercept(value, rn::DOUBLE) AS a, regr_slope(value, rn::DOUBLE) AS b,
         |    arg_min(value, rn) AS yfirst, arg_max(value, rn) AS ylast,
         |    sum(value * pow(0.5, n - rn)) / sum(pow(0.5, n - rn)) AS level,
         |    count(*)::DOUBLE AS nt
         |  FROM ord GROUP BY 1),
         |hs AS (SELECT unnest(range(1, 25)) AS h)
         |SELECT event_type, model, h, round(fcst, 6) AS fcst FROM (
         |  SELECT event_type, 'linear' AS model, h, a + b * (nt + h) AS fcst FROM fit, hs
         |  UNION ALL SELECT event_type, 'naive', h, ylast FROM fit, hs
         |  UNION ALL SELECT event_type, 'drift', h, ylast + h * (ylast - yfirst) / (nt - 1) FROM fit, hs
         |  UNION ALL SELECT event_type, 'ses', h, level FROM fit, hs)""".stripMargin,

    "q_evaluator_grid" ->
      s"""WITH hourly AS ($H),
         |$denseSql,
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |  count(*) OVER (PARTITION BY event_type) - ${EvalSql.holdout} AS nt FROM dense),
         |grid AS (SELECT unnest([${(1 to 9).map(i => s"${i / 10.0}::DOUBLE").mkString(", ")}]) AS alpha),
         |fit AS (SELECT event_type, alpha,
         |    sum(value * pow(1.0 - alpha, nt - rn)) AS sesn,
         |    sum(pow(1.0 - alpha, nt - rn)) AS sesd
         |  FROM ord, grid WHERE rn <= nt GROUP BY 1, 2),
         |scored AS (SELECT o.event_type, f.alpha,
         |    round(2 * avg(CASE WHEN abs(o.value) + abs(f.sesn / f.sesd) = 0
         |      THEN 0.0 ELSE abs(o.value - f.sesn / f.sesd) / (abs(o.value) + abs(f.sesn / f.sesd)) END), 6) AS smape,
         |    round(sqrt(avg((o.value - f.sesn / f.sesd)^2)), 6) AS rmse
         |  FROM ord o JOIN fit f ON o.event_type = f.event_type
         |  WHERE o.rn > o.nt GROUP BY 1, 2)
         |SELECT event_type, alpha, smape, rmse,
         |  (row_number() OVER (PARTITION BY event_type ORDER BY rmse, alpha) = 1)::INT AS best
         |FROM scored""".stripMargin,

    "q_backtest_fixed" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, ts, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS nn FROM hourly),
         |s AS (SELECT *, floor(nn * 0.5) AS tr, floor(nn * 0.25) AS wi, floor(nn * 0.25) AS te FROM ord),
         |model AS (SELECT event_type, hour(ts) AS hod, avg(value) AS fc
         |          FROM s WHERE rn <= tr GROUP BY 1, 2),
         |t AS (SELECT event_type, hour(ts) AS hod, value
         |      FROM s WHERE rn > tr + wi AND rn <= tr + wi + te)
         |SELECT t.event_type,
         |  round(avg(CASE WHEN value = 0 THEN CAST(sign(abs(value - fc)) AS DOUBLE) ELSE abs(value - fc) / value END), 6) AS mape,
         |  round(2 * avg(CASE WHEN abs(value) + abs(fc) = 0 THEN 0.0 ELSE abs(value - fc) / (abs(value) + abs(fc)) END), 6) AS smape,
         |  round(avg(abs(value - fc)), 6) AS mae,
         |  round(avg((value - fc)^2), 6) AS mse,
         |  round(sqrt(avg((value - fc)^2)), 6) AS rmse,
         |  count(*) AS n_test
         |FROM t JOIN model ON t.event_type = model.event_type AND t.hod = model.hod
         |GROUP BY 1""".stripMargin,

    "q_crossval" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, ts, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS nn FROM hourly),
         |sz AS (SELECT *, floor(nn * 0.5) AS tr, floor(nn * 0.1) AS te,
         |        nn - floor(nn * 0.5) - floor(nn * 0.1) AS m FROM ord),
         |f AS (SELECT sz.*, fold,
         |        CASE WHEN fold = 0 THEN 0 WHEN fold = 1 THEN (m + 1) // 2 ELSE m END AS off
         |      FROM sz, (SELECT unnest([0, 1, 2]) AS fold) fd),
         |model AS (SELECT event_type, fold, hour(ts) AS hod, avg(value) AS fc
         |          FROM f WHERE rn <= tr + off GROUP BY 1, 2, 3),
         |t AS (SELECT event_type, fold, hour(ts) AS hod, value
         |      FROM f WHERE rn > tr + off AND rn <= tr + off + te),
         |pf AS (SELECT t.event_type, t.fold,
         |        avg(CASE WHEN value = 0 THEN CAST(sign(abs(value - fc)) AS DOUBLE) ELSE abs(value - fc) / value END) AS mape_f,
         |        2 * avg(CASE WHEN abs(value) + abs(fc) = 0 THEN 0.0 ELSE abs(value - fc) / (abs(value) + abs(fc)) END) AS smape_f,
         |        avg(abs(value - fc)) AS mae_f,
         |        sqrt(avg((value - fc)^2)) AS rmse_f,
         |        count(*) AS nf
         |      FROM t JOIN model ON t.event_type = model.event_type AND t.fold = model.fold AND t.hod = model.hod
         |      GROUP BY 1, 2)
         |SELECT event_type,
         |  round(sum(mape_f * nf) / sum(nf), 6) AS cv_mape,
         |  round(sum(smape_f * nf) / sum(nf), 6) AS cv_smape,
         |  round(sum(mae_f * nf) / sum(nf), 6) AS cv_mae,
         |  round(sum(rmse_f * nf) / sum(nf), 6) AS cv_rmse,
         |  count(*) AS n_folds,
         |  sum(nf)::BIGINT AS n_test
         |FROM pf GROUP BY 1""".stripMargin,

    "q_detector_serve" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, ts, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS nn FROM hourly),
         |hist AS (SELECT event_type, ts, value FROM ord WHERE rn <= nn // 2),
         |d AS (SELECT event_type, value,
         |  value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS d FROM hist),
         |m AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma,
         |        greatest(var_samp(value), 1e-12) AS v0, count(*) AS n,
         |        sum(pow(d, 2)) AS sd2, sum(d) AS sd1, count(d) AS md
         |      FROM d GROUP BY 1),
         |mm AS (SELECT event_type, mu, sigma, v0,
         |        greatest((sd2 - pow(sd1, 2) / md) / (2.0 * greatest(n - 2, 1)), 1e-12) AS sigma2
         |      FROM m),
         |serve AS (SELECT o.event_type, o.ts, o.value,
         |    (o.value - mu) / sigma AS z,
         |    (o.value - mu) / sqrt(v0 + sigma2) AS pz
         |  FROM ord o JOIN mm ON o.event_type = mm.event_type WHERE o.rn > o.nn // 2)
         |SELECT event_type, ts, value, round(z, 6) AS zscore, round(pz, 6) AS pred_zscore
         |FROM serve WHERE abs(z) > 2.5 OR abs(pz) > 2.5""".stripMargin,

    "q_detector_persist" ->
      s"""WITH hourly AS ($H),
         |d AS (SELECT event_type, value,
         |  value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS d FROM hourly),
         |m AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma,
         |        var_samp(value) AS v0, count(*) AS n,
         |        sum(pow(d, 2)) AS sd2, sum(d) AS sd1, count(d) AS md
         |      FROM d GROUP BY 1),
         |mm AS (SELECT *,
         |        greatest((sd2 - pow(sd1, 2) / md) / (2.0 * greatest(n - 2, 1)), 1e-12) AS sigma2,
         |        greatest(v0, 1e-12) AS v0g FROM m)
         |SELECT event_type, 'zscore' AS model, 'mu' AS param, round(mu, 6) AS value FROM mm
         |UNION ALL SELECT event_type, 'zscore', 'sigma', round(sigma, 6) FROM mm
         |UNION ALL SELECT event_type, 'bocpd', 'mu0', round(mu, 6) FROM mm
         |UNION ALL SELECT event_type, 'bocpd', 'v0', round(v0g, 6) FROM mm
         |UNION ALL SELECT event_type, 'bocpd', 'sigma2', round(sigma2, 6) FROM mm""".stripMargin
  )
}
