package graft.queries

import graft._
import graft.metrics.Metrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.1 core time-series ops + §2.5 metrics, each paired with a DuckDB
  * oracle. Timestamps are emitted as epoch seconds (bigint) so the
  * driver's value compare is engine-neutral.
  */
object CoreQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private def hourly(s: SparkSession, dir: String) = Tables.hourlyEvents(s, dir)
  private val H = Tables.hourlySql
  private def epochS(c: String) = unix_timestamp(col(c)).as("ts_s")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_resample" -> ((s, dir) =>
      hourly(s, dir).select(col("event_type"), epochS("ts"), col("value"), col("n"))),

    "q_fill_gaps" -> ((s, dir) =>
      Tables.denseHourly(s, dir)
        .select(col("event_type"), epochS("ts"), col("value"))),

    "q_interpolate_linear" -> ((s, dir) =>
      TS.interpolateLinear(TS.fillGaps(hourly(s, dir).drop("n"), S, 3600L, None), S)
        .select(col("event_type"), epochS("ts"), round(col("value"), 6).as("value"))),

    "q_lag_diff" -> ((s, dir) =>
      TS.withLagDiff(hourly(s, dir).drop("n"), S, 1)
        .select(col("event_type"), epochS("ts"), col("value"), col("lag"), col("lead"), col("diff"), col("pct_change"))),

    "q_rolling_stats" -> ((s, dir) =>
      TS.rolling(hourly(s, dir).drop("n"), S, 24)
        .select(col("event_type"), epochS("ts"), col("value"),
          col("roll_mean"), col("roll_std"), col("roll_min"), col("roll_max"), col("roll_n"))),

    "q_ewma" -> ((s, dir) =>
      TS.ewma(hourly(s, dir).drop("n"), S, alpha = 0.2)
        .select(col("event_type"), epochS("ts"), col("value"), col("ewma"))),

    "q_user_resample" -> ((s, dir) =>
      // high-cardinality series key: (user, event_type) — the shape the
      // engine actually scales on (millions of keys at 100 TB)
      TS.resample(Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"), col("value")),
          TSSchema(keys = Seq("user_id", "event_type")), unit = "day")
        .select(col("user_id"), col("event_type"), epochS("ts"), col("value"), col("n"))),

    "q_time_features" -> ((s, dir) =>
      TS.timeFeatures(Tables.events(s, dir).select("event_id", "ts"), TSSchema(Seq("event_id")))
        .select(col("event_id"), epochS("ts"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"), col("dow"), col("doy"), col("week"), col("is_weekend"))),

    "q_datapartition" -> ((s, dir) =>
      TS.dataPartition(hourly(s, dir).drop("n"), S, "2024-01-22 00:00:00")
        .groupBy("event_type", "fold").agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total"))),

    // as-of join: attach the latest at-or-before hourly aggregate to each
    // raw event (union+window shape; DuckDB's native ASOF JOIN oracles it)
    "q_asof_join" -> ((s, dir) => {
      val left = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      val right = hourly(s, dir).drop("n")
        .select(col("event_type"), col("ts"), col("value").as("hourly_value"))
      TS.asofJoinBackward(left, right, Seq("event_type"), "ts", Seq("hourly_value"))
        .select(col("event_id"), col("event_type"), epochS("ts"), col("value"), col("hourly_value"))
    }),

    // Ordered funnel analysis (view → click → purchase within 7 days of
    // the first step) — the classic product-analytics query at events
    // scale. Each stage is a keyed conditional-min aggregation + one
    // user-key join; no sequence explosion, no window over the raw event
    // stream; scale axis = users.
    "q_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def stageMin(et: String, name: String) =
        ev.where(col("event_type") === et).groupBy("user_id").agg(min("ts").as(name))
      val v = stageMin("view", "v_ts")
      val c = ev.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts") >= col("v_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"), first("v_ts").as("v_ts"))
      val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
        .where(col("ts") >= col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"), first("v_ts").as("v_ts"))
      val week = 7L * 86400
      val f1 = v.select(col("user_id"))
      val f2 = c.where(unix_timestamp(col("c_ts")) - unix_timestamp(col("v_ts")) <= week).select(col("user_id"))
      val f3 = p.where(unix_timestamp(col("p_ts")) - unix_timestamp(col("v_ts")) <= week).select(col("user_id"))
      val n1 = f1.agg(count(lit(1)).as("users_view"))
      val n2 = f2.agg(count(lit(1)).as("users_click"))
      val n3 = f3.agg(count(lit(1)).as("users_purchase"))
      n1.crossJoin(n2).crossJoin(n3)
        .select(col("users_view"), col("users_click"), col("users_purchase"),
          round(col("users_click") / col("users_view"), 6).as("conv_click"),
          round(col("users_purchase") / col("users_view"), 6).as("conv_purchase"))
    }),

    // A/B experiment readout: users hash-split into two arms (first md5
    // nibble parity — deterministic, engine-portable, no assignment table
    // to store), per-user total purchase value as the metric, Welch
    // z-statistic between arms with the |z| ≥ 1.96 call. Two user-level
    // aggregations; everything after is scalar math. The readout every
    // growth team runs at events scale.
    "q_ab_test" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val users = ev.groupBy("user_id")
        .agg(round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 6).as("metric"))
        .withColumn("arm",
          conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))), 1, 1), 16, 10)
            .cast("int") % 2)
      val arms = users.groupBy("arm").agg(count(lit(1)).as("n"),
        avg("metric").as("m"), var_samp("metric").as("v"))
      val a = arms.where(col("arm") === 0)
        .select(col("n").as("n_a"), col("m").as("m_a"), col("v").as("v_a"))
      val b = arms.where(col("arm") === 1)
        .select(col("n").as("n_b"), col("m").as("m_b"), col("v").as("v_b"))
      a.crossJoin(b)
        .withColumn("z", (col("m_a") - col("m_b")) / sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")))
        .select(col("n_a"), col("n_b"), round(col("m_a"), 6).as("mean_a"), round(col("m_b"), 6).as("mean_b"),
          round(col("z"), 6).as("z"), (abs(col("z")) >= 1.96).cast("int").as("significant"))
    }),

    // First-order Markov transition matrix over per-user event streams:
    // P(next = b | current = a) — the path-analysis primitive behind
    // next-action models and anomaly-of-behavior monitors. One user-key
    // window (deterministic (ts, event_id) order), one pair aggregation;
    // scale axis = events.
    "q_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .withColumn("next_type", lead("event_type", 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
        .agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy("cur").agg(sum("n").as("n_cur"))
      pairs.join(tot, "cur")
        .select(col("cur"), col("nxt"), col("n"), round(col("n") / col("n_cur"), 6).as("p"))
    }),

    // Cohort retention triangle: users grouped by first-seen week, counted
    // in each later activity week (offset in whole weeks) — the standard
    // growth-analytics matrix. One min-aggregation + one distinct-week
    // aggregation + a user-key join; output is cohorts × offsets rows.
    "q_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val first = ev.groupBy("user_id").agg(date_trunc("week", min("ts")).as("cohort_w"))
      val active = ev.select(col("user_id"), date_trunc("week", col("ts")).as("act_w")).distinct()
      active.join(first, "user_id")
        .withColumn("offset_w",
          ((unix_timestamp(col("act_w")) - unix_timestamp(col("cohort_w"))) / (7L * 86400)).cast("long"))
        .groupBy(unix_timestamp(col("cohort_w")).as("cohort_w_s"), col("offset_w"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // Point-in-time training-set assembly (the feature-store join): label
    // rows (purchases) pick up, per user, the latest CLOSED hourly click
    // and error aggregates. Features carry an AVAILABILITY timestamp
    // (bucket end = hour + 1h) and the as-of join keys on it — the bucket
    // containing the label is never visible, so no same-bucket future
    // leakage. Two backward as-of joins via the UNION+WINDOW kernel: one
    // user-key shuffle each, no range-join blow-up, scale axis = users.
    "q_pit_features" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val labels = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("label"))
      def hourlyFeat(et: String, p: String) = ev.where(col("event_type") === et)
        .groupBy(col("user_id"), (date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR")).as("ts"))
        .agg(count(lit(1)).as(s"${p}_n"), round(sum("value"), 6).as(s"${p}_sum"))
        .withColumn(s"${p}_avail_s", unix_timestamp(col("ts")))
      val j1 = TS.asofJoinBackward(labels, hourlyFeat("click", "clk"),
        Seq("user_id"), "ts", Seq("clk_n", "clk_sum", "clk_avail_s"))
      val j2 = TS.asofJoinBackward(j1, hourlyFeat("error", "err"),
        Seq("user_id"), "ts", Seq("err_n", "err_sum", "err_avail_s"))
      j2.select(col("user_id"), epochS("ts"), col("label"),
        col("clk_n"), col("clk_sum"),
        (unix_timestamp(col("ts")) - col("clk_avail_s")).as("clk_age_s"),
        col("err_n"), col("err_sum"))
    }),

    // gap-based sessionization over the raw event stream, keyed by user —
    // the canonical events-pipeline islands operator (30-min inactivity)
    "q_sessionize" -> ((s, dir) =>
      TS.sessionize(Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
          TSSchema(keys = Seq("user_id")), gapSeconds = 1800)
        .groupBy("user_id", "session")
        .agg(min(unix_timestamp(col("ts"))).as("start_s"),
          max(unix_timestamp(col("ts"))).as("end_s"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 6).as("sum_value"))
        .withColumn("duration_s", col("end_s") - col("start_s"))),

    "q_metrics" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      hourly(s, dir)
        .withColumn("f", lag("value", 24).over(w))
        .where(col("f").isNotNull)
        .groupBy("event_type")
        .agg(Metrics.battery(col("value"), col("f")).head, Metrics.battery(col("value"), col("f")).tail: _*)
    }),

    "q_backtest" -> ((s, dir) => {
      // Expanding-window rolling-origin backtest (backtesters.py): folds end
      // at day 16/23/30; forecast = seasonal-naive lag-24; score last 7 days.
      val w = Window.partitionBy("event_type").orderBy("ts")
      val base = hourly(s, dir).withColumn("f", lag("value", 24).over(w))
      val folds = Seq(("2024-01-09", "2024-01-16"), ("2024-01-16", "2024-01-23"), ("2024-01-23", "2024-01-30"))
      folds.zipWithIndex.map { case ((lo, hi), i) =>
        base.where(col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp"))
          .groupBy("event_type")
          .agg(round(Metrics.mape(col("value"), col("f")), 6).as("mape"),
               round(Metrics.rmse(col("value"), col("f")), 6).as("rmse"))
          .withColumn("fold", lit(i))
      }.reduce(_ unionByName _)
    }),

    "q_emp_ci" -> ((s, dir) => {
      // Empirical CI (utils/emp_confidence_int.py): per-series quantiles of
      // seasonal-naive backtest errors → symmetric interval half-widths.
      val w = Window.partitionBy("event_type").orderBy("ts")
      hourly(s, dir)
        .withColumn("f", lag("value", 24).over(w))
        .where(col("f").isNotNull)
        .withColumn("err", col("value") - col("f"))
        .groupBy("event_type")
        .agg(round(expr("percentile(err, 0.05)"), 6).as("err_p05"),
             round(expr("percentile(err, 0.5)"), 6).as("err_p50"),
             round(expr("percentile(err, 0.95)"), 6).as("err_p95"),
             count(lit(1)).as("n"))
    })
  )

  val sql: Map[String, String] = Map(
    "q_resample" ->
      s"""WITH hourly AS ($H)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, n FROM hourly""".stripMargin,

    "q_fill_gaps" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql}
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value FROM dense""".stripMargin,

    "q_interpolate_linear" ->
      s"""WITH hourly AS ($H),
         |b AS (SELECT event_type, min(ts) t0, max(ts) t1 FROM hourly GROUP BY 1),
         |grid AS (SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts FROM b),
         |j AS (SELECT g.event_type, g.ts, h.value
         |      FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.ts = h.ts),
         |k AS (SELECT event_type, ts, value,
         |  last_value(value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |  first_value(value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |  last_value(CASE WHEN value IS NOT NULL THEN epoch(ts) END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |  first_value(CASE WHEN value IS NOT NULL THEN epoch(ts) END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |  FROM j)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s,
         |  round(CASE WHEN value IS NOT NULL THEN value
         |        WHEN pv IS NULL THEN nv
         |        WHEN nv IS NULL THEN pv
         |        WHEN nt = pt THEN pv
         |        ELSE round(pv + (nv - pv) * (epoch(ts) - pt) / (nt - pt), 6) END, 6) AS value
         |FROM k""".stripMargin,

    "q_lag_diff" ->
      s"""WITH hourly AS ($H)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |  lag(value, 1) OVER w AS lag, lead(value, 1) OVER w AS lead,
         |  round(value - lag(value, 1) OVER w, 6) AS diff,
         |  CASE WHEN lag(value, 1) OVER w <> 0
         |       THEN round((value - lag(value, 1) OVER w) / (lag(value, 1) OVER w), 6) END AS pct_change
         |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)""".stripMargin,

    // adjusted EWMA y_t = Σ_j (1-α)^j x_{t-j} / Σ_j (1-α)^j — the oracle
    // expands the recurrence as an O(n²) power-weight self-join (fine at
    // oracle scale; Spark runs the O(n) native EwmaArray recurrence)
    "q_ewma" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, ts, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn FROM hourly)
         |SELECT a.event_type, epoch_us(a.ts)//1000000 AS ts_s, a.value,
         |  round(sum(b.value * pow(1 - 0.2, a.rn - b.rn)) / sum(pow(1 - 0.2, a.rn - b.rn)), 6) AS ewma
         |FROM ord a JOIN ord b ON a.event_type = b.event_type AND b.rn <= a.rn
         |GROUP BY a.event_type, a.ts, a.value""".stripMargin,

    "q_rolling_stats" ->
      s"""WITH hourly AS ($H)
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value,
         |  round(avg(value) OVER w, 6) AS roll_mean,
         |  round(stddev_samp(value) OVER w, 6) AS roll_std,
         |  min(value) OVER w AS roll_min, max(value) OVER w AS roll_max,
         |  count(*) OVER w AS roll_n
         |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_user_resample" ->
      """SELECT user_id, event_type, epoch_us(date_trunc('day', ts))//1000000 AS ts_s,
        |  round(sum(value), 6) AS value, count(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_time_features" ->
      """SELECT event_id, epoch_us(date_trunc('microsecond', ts))//1000000 AS ts_s,
        |  year(ts)::INT AS year, month(ts)::INT AS month, day(ts)::INT AS day,
        |  hour(ts)::INT AS hour, minute(ts)::INT AS minute,
        |  (dayofweek(ts) + 1)::INT AS dow, dayofyear(ts)::INT AS doy,
        |  weekofyear(ts)::INT AS week,
        |  (CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)::INT AS is_weekend
        |FROM events""".stripMargin,

    "q_datapartition" ->
      s"""WITH hourly AS ($H)
         |SELECT event_type,
         |  CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'train' ELSE 'test' END AS fold,
         |  count(*) AS n, round(sum(value), 6) AS total
         |FROM hourly GROUP BY 1, 2""".stripMargin,

    "q_asof_join" ->
      s"""WITH hourly AS ($H)
         |SELECT e.event_id, e.event_type,
         |  epoch_us(date_trunc('microsecond', e.ts))//1000000 AS ts_s, e.value,
         |  h.value AS hourly_value
         |FROM events e ASOF LEFT JOIN hourly h
         |  ON e.event_type = h.event_type AND e.ts >= h.ts""".stripMargin,

    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts, min(v.v_ts) AS v_ts
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts, min(c.v_ts) AS v_ts
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1),
        |n1 AS (SELECT count(*) AS users_view FROM v),
        |n2 AS (SELECT count(*) AS users_click FROM c
        |       WHERE epoch_us(c_ts)//1000000 - epoch_us(v_ts)//1000000 <= 604800),
        |n3 AS (SELECT count(*) AS users_purchase FROM p
        |       WHERE epoch_us(p_ts)//1000000 - epoch_us(v_ts)//1000000 <= 604800)
        |SELECT users_view, users_click, users_purchase,
        |  round(users_click / users_view, 6) AS conv_click,
        |  round(users_purchase / users_view, 6) AS conv_purchase
        |FROM n1 CROSS JOIN n2 CROSS JOIN n3""".stripMargin,

    "q_ab_test" ->
      """WITH u AS (SELECT user_id,
        |             round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 6) AS metric
        |           FROM events GROUP BY 1),
        |ua AS (SELECT *, ('0x' || substr(md5(user_id::VARCHAR || ':ab1'), 1, 1))::BIGINT % 2 AS arm FROM u),
        |arms AS (SELECT arm, count(*) AS n, avg(metric) AS m, var_samp(metric) AS v FROM ua GROUP BY 1),
        |a AS (SELECT n AS n_a, m AS m_a, v AS v_a FROM arms WHERE arm = 0),
        |b AS (SELECT n AS n_b, m AS m_b, v AS v_b FROM arms WHERE arm = 1)
        |SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
        |  round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS z,
        |  CASE WHEN abs((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)) >= 1.96 THEN 1 ELSE 0 END AS significant
        |FROM a CROSS JOIN b""".stripMargin,

    "q_event_transitions" ->
      """WITH p AS (SELECT event_type AS cur,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |           FROM events),
        |pairs AS (SELECT cur, nxt, count(*) AS n FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT cur, sum(n) AS n_cur FROM pairs GROUP BY 1)
        |SELECT pairs.cur, pairs.nxt, pairs.n, round(pairs.n / tot.n_cur, 6) AS p
        |FROM pairs JOIN tot ON pairs.cur = tot.cur""".stripMargin,

    "q_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_w FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_w FROM events)
        |SELECT epoch_us(cohort_w)//1000000 AS cohort_w_s,
        |  (epoch_us(act_w)//1000000 - epoch_us(cohort_w)//1000000)//604800 AS offset_w,
        |  count(*) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    "q_pit_features" ->
      """WITH labels AS (SELECT user_id, ts, value AS label FROM events WHERE event_type = 'purchase'),
        |clk AS (SELECT user_id, date_trunc('hour', ts) + INTERVAL 1 HOUR AS ats,
        |          count(*) AS clk_n, round(sum(value), 6) AS clk_sum
        |        FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |err AS (SELECT user_id, date_trunc('hour', ts) + INTERVAL 1 HOUR AS ats,
        |          count(*) AS err_n, round(sum(value), 6) AS err_sum
        |        FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |j1 AS (SELECT l.user_id, l.ts, l.label, c.clk_n, c.clk_sum,
        |         epoch_us(c.ats)//1000000 AS clk_avail_s
        |       FROM labels l ASOF LEFT JOIN clk c ON l.user_id = c.user_id AND l.ts >= c.ats),
        |j2 AS (SELECT j1.*, e.err_n, e.err_sum
        |       FROM j1 ASOF LEFT JOIN err e ON j1.user_id = e.user_id AND j1.ts >= e.ats)
        |SELECT user_id, epoch_us(date_trunc('microsecond', ts))//1000000 AS ts_s, label,
        |  clk_n, clk_sum,
        |  epoch_us(date_trunc('microsecond', ts))//1000000 - clk_avail_s AS clk_age_s,
        |  err_n, err_sum
        |FROM j2""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, value,
        |    epoch_us(date_trunc('microsecond', ts)) AS us FROM events),
        |g AS (SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
        |                       OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT *, (sum(new_s) OVER (PARTITION BY user_id ORDER BY us))::BIGINT AS session FROM g)
        |SELECT user_id, session,
        |  min(us // 1000000) AS start_s, max(us // 1000000) AS end_s,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value,
        |  max(us // 1000000) - min(us // 1000000) AS duration_s
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q_metrics" ->
      s"""WITH hourly AS ($H),
         |f AS (SELECT event_type, ts, value, lag(value, 24) OVER (PARTITION BY event_type ORDER BY ts) AS f FROM hourly)
         |SELECT event_type,
         |  round(avg(abs(value - f)), 6) AS mae,
         |  round(avg((value - f)^2), 6) AS mse,
         |  round(sqrt(avg((value - f)^2)), 6) AS rmse,
         |  round(avg(CASE WHEN value = 0 THEN CAST(sign(abs(value - f)) AS DOUBLE) ELSE abs(value - f) / value END), 6) AS mape,
         |  round(2 * avg(CASE WHEN abs(value) + abs(f) = 0 THEN 0.0 ELSE abs(value - f) / (abs(value) + abs(f)) END), 6) AS smape,
         |  round(avg(value - f), 6) AS me,
         |  round(1.0 - sum((value - f)^2) / (sum(value^2) - sum(value)^2 / count(*)), 6) AS r2,
         |  count(*) AS n
         |FROM f WHERE f IS NOT NULL GROUP BY 1""".stripMargin,

    "q_backtest" ->
      s"""WITH hourly AS ($H),
         |f AS (SELECT event_type, ts, value, lag(value, 24) OVER (PARTITION BY event_type ORDER BY ts) AS f FROM hourly),
         |folds AS (SELECT * FROM (VALUES
         |  (0, TIMESTAMP '2024-01-09', TIMESTAMP '2024-01-16'),
         |  (1, TIMESTAMP '2024-01-16', TIMESTAMP '2024-01-23'),
         |  (2, TIMESTAMP '2024-01-23', TIMESTAMP '2024-01-30')) t(fold, lo, hi))
         |SELECT event_type,
         |  round(avg(CASE WHEN value = 0 THEN CAST(sign(abs(value - f)) AS DOUBLE) ELSE abs(value - f) / value END), 6) AS mape,
         |  round(sqrt(avg((value - f)^2)), 6) AS rmse, fold
         |FROM f JOIN folds ON f.ts >= folds.lo AND f.ts < folds.hi
         |GROUP BY event_type, fold""".stripMargin,

    "q_emp_ci" ->
      s"""WITH hourly AS ($H),
         |f AS (SELECT event_type, value - lag(value, 24) OVER (PARTITION BY event_type ORDER BY ts) AS err FROM hourly)
         |SELECT event_type,
         |  round(quantile_cont(err, 0.05), 6) AS err_p05,
         |  round(quantile_cont(err, 0.5), 6) AS err_p50,
         |  round(quantile_cont(err, 0.95), 6) AS err_p95,
         |  count(*) AS n
         |FROM f WHERE err IS NOT NULL GROUP BY 1""".stripMargin
  )
}
