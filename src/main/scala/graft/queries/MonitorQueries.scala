package graft.queries

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operational-monitoring classics over the event stream:
  *
  *  - multi-window error-budget burn-rate alerting (the SRE-workbook
  *    pattern): error share per hour and per trailing 6 hours against an
  *    SLO target, alert when BOTH windows burn hot — the short window
  *    gives detection speed, the long one filters blips;
  *  - a per-series data-completeness report (the data-quality audit a
  *    pipeline runs before trusting a series): observed vs expected grid
  *    points, missing share, longest gap, span.
  *
  * Both are exact-integer math until one final division — counts and
  * epoch arithmetic only — so engines agree bit-for-bit; each is one
  * keyed aggregation/window pass.
  */
object MonitorQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private val H = Tables.hourlySql

  /** SLO: tolerated error share of events, and the burn multiple that
    * pages. error events are 1 of 5 synthetic types (~20% base rate), so
    * the target is the base rate and a 1.5× burn marks a genuine skew. */
  private val SloTarget = 0.2
  private val BurnAlert = 1.5
  private val LongWin = 6

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── Burn-rate alerts: per hour, n_err/n_tot and the trailing-6h
    // aggregate (integer window sums), burn = share/target; alert when
    // both the 1h and 6h burns exceed the threshold. The 6h frame is a
    // TIME range (epoch seconds), not 5 preceding observed rows, so an
    // hour with zero events shrinks the trailing window exactly as the
    // streaming burnMonitor's 6h sliding window does — the two are twins
    // on sparse hours too. ──
    "q_burn_rate" -> ((s, dir) => {
      val hours = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("ts"))
        .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
          count(lit(1)).as("n_tot"))
        .withColumn("te", unix_timestamp(col("ts")))
      // non-foldable zero-length key: a literal would fold to an EMPTY
      // partition spec and trigger the single-partition WindowExec warning
      val w = Window.partitionBy(substring(col("ts").cast("string"), 1, 0)).orderBy("te")
        .rangeBetween(-(LongWin - 1) * 3600L, 0)
      hours
        .withColumn("err6", sum("n_err").over(w))
        .withColumn("tot6", sum("n_tot").over(w))
        .withColumn("share_1h", round(col("n_err").cast("double") / col("n_tot"), 6))
        .withColumn("share_6h", round(col("err6").cast("double") / col("tot6"), 6))
        .withColumn("burn_1h", round(col("n_err").cast("double") / col("n_tot") / SloTarget, 6))
        .withColumn("burn_6h", round(col("err6").cast("double") / col("tot6") / SloTarget, 6))
        .withColumn("alert",
          when(col("n_err").cast("double") / col("n_tot") / SloTarget > BurnAlert &&
            col("err6").cast("double") / col("tot6") / SloTarget > BurnAlert, 1).otherwise(0))
        .select(unix_timestamp(col("ts")).as("ts"), col("n_err"), col("n_tot"),
          col("share_1h"), col("share_6h"), col("burn_1h"), col("burn_6h"), col("alert"))
    }),

    // ── Per-series completeness report: expected hourly grid points from
    // the observed span, present/missing counts, the longest gap (max
    // consecutive-timestamp delta), and the span itself — pure epoch
    // integer arithmetic. ──
    "q_series_quality" -> ((s, dir) => {
      val wo = Window.partitionBy("event_type").orderBy("ts")
      val hourly = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("te", unix_timestamp(col("ts")))
        .withColumn("gap_h", ((lead("te", 1).over(wo) - col("te")) / 3600).cast("long") - 1)
      // spans are multiples of 3600 (hour-truncated ts), so the double
      // division is exact and the long cast recovers the integer count
      def expected = ((max(col("te")) - min(col("te"))) / 3600).cast("long") + 1
      hourly.groupBy("event_type").agg(
        count(lit(1)).as("n_present"),
        expected.as("n_expected"),
        (expected - count(lit(1))).as("n_missing"),
        round(count(lit(1)).cast("double") / expected, 6).as("completeness"),
        coalesce(max("gap_h"), lit(0L)).as("longest_gap_h"),
        min("te").as("first_ts"), max("te").as("last_ts"))
    }),

    // ── MSTL-lite: multi-seasonal decomposition with the two calendar
    // periods an hourly business series actually carries — daily (24)
    // and weekly (168). Sequential extraction (the MSTL convention):
    // hour-of-day means come off the raw series, hour-of-week means off
    // that remainder, what is left is the residual. Each component is a
    // 6-dp-rounded group mean broadcast back over the grid — two
    // vocabulary-sized joins, one series shuffle. ──
    "q_mstl" -> ((s, dir) => {
      val dense = Tables.denseHourly(s, dir)
        .withColumn("hod", hour(col("ts")))
        .withColumn("how", (((unix_timestamp(col("ts")) / 3600).cast("long") + 72) % 168).cast("int"))
      val s24 = dense.groupBy("event_type", "hod").agg(round(avg("value"), 6).as("seas24"))
      val r1 = dense.join(broadcast(s24), Seq("event_type", "hod"))
        .withColumn("r1", round(col("value") - col("seas24"), 6))
      val s168 = r1.groupBy("event_type", "how").agg(round(avg("r1"), 6).as("seas168"))
      r1.join(broadcast(s168), Seq("event_type", "how"))
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts"), col("value"),
          col("seas24"), col("seas168"),
          round(col("r1") - col("seas168"), 6).as("resid"))
    }),

    // ── Jarque-Bera normality test per series: JB = n/6·(S² + K²/4)
    // from 4-dp-snapped central moments (the q_feat_basic skew/kurtosis
    // machinery), χ²(2) upper tail = e^{−JB/2} exactly. ──
    "q_jarque_bera" -> ((s, dir) => {
      val fn = udf { xs: Seq[Double] =>
        val n = xs.length
        def snap(x: Double) = math.signum(x) * math.floor(math.abs(x) * 1e4 + 0.5) / 1e4
        var s1 = 0.0; xs.foreach(s1 += _)
        s1 = snap(s1)
        val mu = s1 / n
        var m2 = 0.0; xs.foreach(x => m2 += (x - mu) * (x - mu))
        var m3 = 0.0; xs.foreach(x => m3 += (x - mu) * (x - mu) * (x - mu))
        var m4 = 0.0; xs.foreach(x => m4 += (x - mu) * ((x - mu) * (x - mu) * (x - mu)))
        m2 = snap(m2 / n); m3 = snap(m3 / n); m4 = snap(m4 / n)
        val skew = m3 / math.pow(m2, 1.5)
        val kurt = m4 / (m2 * m2) - 3.0
        val jb = n / 6.0 * (skew * skew + kurt * kurt / 4.0)
        val p = math.exp(-jb / 2.0)
        (skew, kurt, jb, p)
      }
      SeriesOps.collect(Tables.hourlyEvents(s, dir).drop("n"), S)
        .withColumn("_r", fn(col("xs")))
        .select(col("event_type"), round(col("_r._1"), 6).as("skewness"),
          round(col("_r._2"), 6).as("excess_kurtosis"), round(col("_r._3"), 6).as("jb_stat"),
          round(col("_r._4"), 6).as("p_value"),
          when(col("_r._4") < 0.05, 1).otherwise(0).as("non_normal"))
    }),

    // ── Deequ-style expectation suite: the fixed data-contract checks a
    // pipeline gates ingest on, each one aggregated metric + a verdict —
    // uniqueness, completeness, ranges, referential containment. One
    // scan per table; all metrics exact integers or exact ratios. ──
    "q_data_checks" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ev = Tables.events(s, dir)
      val emb = Tables.embeddings(s, dir)
      val checks = Seq(
        docs.agg((count(lit(1)) - countDistinct(col("doc_id"))).cast("double").as("m"))
          .select(lit("documents.doc_id unique").as("check"), col("m"),
            (col("m") === 0).cast("int").as("pass")),
        docs.agg(sum(when(col("text").isNull || length(col("text")) === 0, 1L).otherwise(0L))
          .cast("double").as("m"))
          .select(lit("documents.text complete").as("check"), col("m"),
            (col("m") === 0).cast("int").as("pass")),
        docs.agg(sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .cast("double").as("m"))
          .select(lit("documents.n_chars consistent").as("check"), col("m"),
            (col("m") === 0).cast("int").as("pass")),
        ev.agg(sum(when(col("value") < 0, 1L).otherwise(0L)).cast("double").as("m"))
          .select(lit("events.value non-negative").as("check"), col("m"),
            (col("m") === 0).cast("int").as("pass")),
        ev.agg(sum(when(!col("event_type").isin("click", "error", "purchase", "signup", "view"), 1L)
          .otherwise(0L)).cast("double").as("m"))
          .select(lit("events.event_type in domain").as("check"), col("m"),
            (col("m") === 0).cast("int").as("pass")),
        emb.agg(sum(when(size(col("embedding")) =!= 64, 1L).otherwise(0L)).cast("double").as("m"))
          .select(lit("embeddings.dim = 64").as("check"), col("m"),
            (col("m") === 0).cast("int").as("pass")),
        emb.join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).cast("double").as("m"))
          .select(lit("embeddings.vec_id in documents").as("check"), col("m"),
            (col("m") === 0).cast("int").as("pass")))
      checks.reduce(_ unionAll _)
    }),

    // ── Semi-structured payload profiling: the events.props column is a
    // JSON blob (the universal telemetry shape — typed columns plus a
    // schemaless property bag). Extract the `k` property with the
    // codegen'd JSON path evaluator (get_json_object — no UDF, stays
    // inside WholeStageCodegen), type it, and profile per event_type:
    // extraction coverage, range, sum, distinct spread, mean. ONE scan +
    // one partial-aggregated groupBy — integer sums until two final
    // divisions, so engines agree bit-for-bit. At 100 TB this is the
    // schema-inference probe run before promoting a JSON property to a
    // typed column. ──
    "q_props_profile" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_k"),
          min("k").as("k_min"),
          max("k").as("k_max"),
          sum("k").as("k_sum"),
          countDistinct(col("k")).as("k_distinct"))
        .select(col("event_type"), col("n"), col("n_k"),
          round(col("n_k").cast("double") / col("n").cast("double"), 6).as("coverage"),
          col("k_min"), col("k_max"), col("k_sum"), col("k_distinct"),
          round(col("k_sum").cast("double") / col("n_k").cast("double"), 6).as("k_mean")))
  )

  val sql: Map[String, String] = Map(

    "q_burn_rate" ->
      s"""WITH hours AS (
         |  SELECT date_trunc('hour', ts) AS ts,
         |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_err,
         |    count(*)::BIGINT AS n_tot
         |  FROM events GROUP BY 1),
         |r AS (SELECT *,
         |        sum(n_err) OVER (ORDER BY epoch(ts)::BIGINT RANGE BETWEEN ${(LongWin - 1) * 3600} PRECEDING AND CURRENT ROW)::BIGINT AS err6,
         |        sum(n_tot) OVER (ORDER BY epoch(ts)::BIGINT RANGE BETWEEN ${(LongWin - 1) * 3600} PRECEDING AND CURRENT ROW)::BIGINT AS tot6
         |      FROM hours)
         |SELECT epoch(ts)::BIGINT AS ts, n_err, n_tot,
         |  round(n_err::DOUBLE / n_tot, 6) AS share_1h,
         |  round(err6::DOUBLE / tot6, 6) AS share_6h,
         |  round(n_err::DOUBLE / n_tot / $SloTarget, 6) AS burn_1h,
         |  round(err6::DOUBLE / tot6 / $SloTarget, 6) AS burn_6h,
         |  CASE WHEN n_err::DOUBLE / n_tot / $SloTarget > $BurnAlert
         |        AND err6::DOUBLE / tot6 / $SloTarget > $BurnAlert THEN 1 ELSE 0 END AS alert
         |FROM r""".stripMargin,

    "q_series_quality" ->
      s"""WITH hourly AS ($H),
         |g AS (SELECT event_type, epoch(ts)::BIGINT AS te,
         |        (lead(epoch(ts)::BIGINT, 1) OVER (PARTITION BY event_type ORDER BY ts)
         |          - epoch(ts)::BIGINT) // 3600 - 1 AS gap_h
         |      FROM hourly)
         |SELECT event_type,
         |  count(*) AS n_present,
         |  (max(te) - min(te)) // 3600 + 1 AS n_expected,
         |  ((max(te) - min(te)) // 3600 + 1) - count(*) AS n_missing,
         |  round(count(*)::DOUBLE / ((max(te) - min(te)) // 3600 + 1), 6) AS completeness,
         |  coalesce(max(gap_h), 0) AS longest_gap_h,
         |  min(te) AS first_ts, max(te) AS last_ts
         |FROM g GROUP BY 1""".stripMargin,

    "q_mstl" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |dx AS (SELECT event_type, ts, value,
         |         extract(hour FROM ts)::INT AS hod,
         |         ((epoch(ts)::BIGINT // 3600 + 72) % 168)::INT AS how
         |       FROM dense),
         |s24 AS (SELECT event_type, hod, round(avg(value), 6) AS seas24
         |        FROM dx GROUP BY 1, 2),
         |r1 AS (SELECT d.event_type, d.ts, d.value, d.how, s.seas24,
         |         round(d.value - s.seas24, 6) AS r1
         |       FROM dx d JOIN s24 s ON d.event_type = s.event_type AND d.hod = s.hod),
         |s168 AS (SELECT event_type, how, round(avg(r1), 6) AS seas168
         |         FROM r1 GROUP BY 1, 2)
         |SELECT r.event_type, epoch(r.ts)::BIGINT AS ts, r.value, r.seas24, s.seas168,
         |  round(r.r1 - s.seas168, 6) AS resid
         |FROM r1 r JOIN s168 s ON r.event_type = s.event_type AND r.how = s.how""".stripMargin,

    "q_jarque_bera" ->
      s"""WITH hourly AS ($H),
         |ord AS (SELECT event_type, value, count(*) OVER (PARTITION BY event_type) AS n FROM hourly),
         |mu AS (SELECT event_type, round(sum(value), 4) / max(n) AS mu, max(n) AS n
         |       FROM ord GROUP BY 1),
         |mo AS (SELECT o.event_type, max(m.n) AS n,
         |         round(sum((o.value - m.mu) * (o.value - m.mu)) / max(m.n), 4) AS m2,
         |         round(sum((o.value - m.mu) * (o.value - m.mu) * (o.value - m.mu)) / max(m.n), 4) AS m3,
         |         round(sum((o.value - m.mu) * ((o.value - m.mu) * (o.value - m.mu) * (o.value - m.mu))) / max(m.n), 4) AS m4
         |       FROM ord o JOIN mu m ON o.event_type = m.event_type GROUP BY 1),
         |st AS (SELECT event_type, n,
         |         m3 / pow(m2, 1.5E0) AS skew,
         |         m4 / (m2 * m2) - 3.0E0 AS kurt
         |       FROM mo),
         |jb AS (SELECT event_type, skew, kurt,
         |         n / 6.0E0 * (skew * skew + kurt * kurt / 4.0E0) AS jb
         |       FROM st)
         |SELECT event_type, round(skew, 6) AS skewness, round(kurt, 6) AS excess_kurtosis,
         |  round(jb, 6) AS jb_stat, round(exp(-jb / 2.0E0), 6) AS p_value,
         |  CASE WHEN exp(-jb / 2.0E0) < 0.05 THEN 1 ELSE 0 END AS non_normal
         |FROM jb""".stripMargin,

    "q_data_checks" ->
      s"""SELECT 'documents.doc_id unique' AS check,
         |  (count(*) - count(DISTINCT doc_id))::DOUBLE AS m,
         |  CASE WHEN count(*) = count(DISTINCT doc_id) THEN 1 ELSE 0 END AS pass
         |FROM documents
         |UNION ALL
         |SELECT 'documents.text complete',
         |  sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)::DOUBLE,
         |  CASE WHEN sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
         |FROM documents
         |UNION ALL
         |SELECT 'documents.n_chars consistent',
         |  sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)::DOUBLE,
         |  CASE WHEN sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
         |FROM documents
         |UNION ALL
         |SELECT 'events.value non-negative',
         |  sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)::DOUBLE,
         |  CASE WHEN sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
         |FROM events
         |UNION ALL
         |SELECT 'events.event_type in domain',
         |  sum(CASE WHEN event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view') THEN 1 ELSE 0 END)::DOUBLE,
         |  CASE WHEN sum(CASE WHEN event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view') THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
         |FROM events
         |UNION ALL
         |SELECT 'embeddings.dim = 64',
         |  sum(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END)::DOUBLE,
         |  CASE WHEN sum(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
         |FROM embeddings
         |UNION ALL
         |SELECT 'embeddings.vec_id in documents',
         |  count(*)::DOUBLE,
         |  CASE WHEN count(*) = 0 THEN 1 ELSE 0 END
         |FROM embeddings e WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)""".stripMargin,

    // regexp extraction of the k property (DuckDB's JSON functions live in
    // an extension; the regex form needs none and matches Spark's
    // get_json_object on this integer-valued payload, including NULL when
    // the property is absent or non-numeric)
    "q_props_profile" ->
      s"""WITH x AS (SELECT event_type,
         |             TRY_CAST(nullif(regexp_extract(props, '"k":[ ]*(-?[0-9]+)', 1), '') AS BIGINT) AS k
         |           FROM events)
         |SELECT event_type,
         |  count(*)::BIGINT AS n,
         |  count(k)::BIGINT AS n_k,
         |  round(count(k)::DOUBLE / count(*)::DOUBLE, 6) AS coverage,
         |  min(k) AS k_min,
         |  max(k) AS k_max,
         |  sum(k)::BIGINT AS k_sum,
         |  count(DISTINCT k)::BIGINT AS k_distinct,
         |  round(sum(k)::DOUBLE / count(k)::DOUBLE, 6) AS k_mean
         |FROM x GROUP BY 1""".stripMargin
  )
}
