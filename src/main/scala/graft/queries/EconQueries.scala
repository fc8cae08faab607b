package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SeriesOps, TS, TSSchema, Tables}

/** Econometric residual diagnostics + operations-research forecasting —
  * the production pack around the GARCH/Croston family:
  *
  *  - `q_tsb` — Teunter-Syntetos-Babai intermittent demand
  *    (models/Tsb.scala): Croston with a per-period demand-PROBABILITY
  *    smoother, so obsolete items decay to zero instead of freezing at
  *    the last Croston forecast. Oracle replays both smoothers as
  *    closed-form power sums (the q_croston precedent).
  *  - `q_durbin_watson` — Durbin-Watson serial-correlation test on the
  *    residuals of the per-series OLS linear trend, computed ENTIRELY
  *    from moments: e_t − e_{t−1} = Δy_t − b, so
  *    DW = (ΣΔy² − 2bΣΔy + (n−1)b²)/SSE — no residual materialization,
  *    one lag window + one aggregate per series.
  *  - `q_arch_lm` — Engle's ARCH LM test (Engle 1982): regress e²_t on
  *    e²_{t−1}; LM = n·R² ~ χ²(1). The volatility-clustering TEST next
  *    to q_garch_vol's volatility MODEL. e² is normalized by its mean
  *    before the moment pass (R² is scale-invariant) so the 4-dp moment
  *    snap sits 300× above the cross-engine float-sum noise.
  *  - `q_newsvendor` — critical-fractile stocking levels per order
  *    priority: optimal stock at ratio r = smallest q with F(q) ≥ r over
  *    the daily-demand distribution, via the q_leadtime value-domain
  *    cumulative-count lookup (integer math, never a per-group sort —
  *    the shape that survives 100 TB lineitem).
  *
  * Moment sums are snapped (2-4 dp by magnitude, the q_adf discipline)
  * and every downstream expression is written once and spliced into both
  * engines, so the IEEE op sequence is identical.
  */
object EconQueries {

  private val H = Tables.hourlySql

  /** TSB smoothing constants (models/Tsb.scala). */
  private val A = graft.models.Tsb.Alpha
  private val B = graft.models.Tsb.Beta

  // ── q_durbin_watson shared fragments (identical in both engines) ──
  // t-moments are exact integers: st = Σt = n(n+1)/2, stt = Σt².
  private val dwB =
    "(sty - (CAST(st AS DOUBLE) * sy) / n) / (CAST(stt AS DOUBLE) - (CAST(st AS DOUBLE) * st) / n)"
  private val dwSse =
    "(syy - (sy * sy) / n) - 2.0 * b * (sty - (CAST(st AS DOUBLE) * sy) / n) + b * b * (CAST(stt AS DOUBLE) - (CAST(st AS DOUBLE) * st) / n)"
  private val dwNum = "sdy2 - 2.0 * b * sdy + (n - 1) * b * b"

  // ── q_arch_lm shared fragments ──
  private val archR2 =
    "((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy))"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_tsb" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      val dense = Tables.denseHourly(s, dir)
      SeriesOps.aggSeries(dense, S,
        Seq("n_periods", "n_nonzero", "p_hat", "z_hat", "tsb")) { xs =>
        graft.models.Tsb.fit(xs)
      }
    }),

    "q_durbin_watson" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val base = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("rn", row_number().over(w))
        .withColumn("dy", col("value") - lag("value", 1).over(w))
      base.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sy"),
        round(sum(col("rn") * col("value")), 2).as("sty"),
        round(sum(col("value") * col("value")), 2).as("syy"),
        round(sum("dy"), 2).as("sdy"),
        round(sum(col("dy") * col("dy")), 2).as("sdy2"))
        .withColumn("st", expr("(n * (n + 1)) DIV 2"))
        .withColumn("stt", expr("(n * (n + 1) * (2 * n + 1)) DIV 6"))
        .withColumn("b", round(expr(dwB), 6))
        .withColumn("dw", expr(s"($dwNum) / ($dwSse)"))
        .select(col("event_type"), col("n").as("n_obs"),
          col("b").as("slope"), round(col("dw"), 6).as("dw"),
          round(lit(1.0) - col("dw") / 2.0, 6).as("rho1"),
          when(col("dw") < 1.5, 1).otherwise(0).as("positive_autocorr"))
    }),

    "q_arch_lm" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wp = Window.partitionBy("event_type")
      val e2 = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("m", round(avg("value").over(wp), 6))
        .withColumn("e2", (col("value") - col("m")) * (col("value") - col("m")))
      val nrm = e2
        .withColumn("me2", round(avg("e2").over(wp), 4))
        .withColumn("y", round(col("e2") / col("me2"), 6))
        .withColumn("x", lag("y", 1).over(w))
        .where(col("x").isNotNull)
      val chi = udf { x: Double => graft.detectors.ChiSq.sf(x, 1) }
      nrm.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        round(sum("x"), 4).as("sx"), round(sum("y"), 4).as("sy"),
        round(sum(col("x") * col("x")), 4).as("sxx"),
        round(sum(col("y") * col("y")), 4).as("syy"),
        round(sum(col("x") * col("y")), 4).as("sxy"))
        .withColumn("r2", expr(archR2))
        .withColumn("lm", round(col("n") * col("r2"), 6))
        .withColumn("p", chi(col("lm")))
        .select(col("event_type"), col("n").cast("long").as("n_obs"),
          round(col("r2"), 6).as("r2"), col("lm").as("lm_stat"),
          round(col("p"), 6).as("p_value"),
          when(col("p") < 0.05, 1).otherwise(0).as("arch_present"))
    }),

    // Haar discrete-wavelet energy decomposition per series: detail-band
    // energies over the most recent 2^k points (k ≤ 9) — the
    // multi-resolution "where does the variance live" feature next to
    // q_seasonality_fft's single-band periodogram. One-series-per-row
    // kernel; the oracle replays the identical pairwise cascade as a
    // recursive CTE over lists (same ascending-index float order).
    "q_haar_energy" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      val dense = Tables.denseHourly(s, dir)
      val fn = udf { xs: Seq[Double] =>
        var m = 1
        while (m * 2 <= xs.length && m * 2 <= 512) m *= 2
        var a = xs.takeRight(m).toArray
        val levels = scala.collection.mutable.ArrayBuffer.empty[Double]
        var total = 0.0
        while (a.length >= 2) {
          val half = a.length / 2
          val ap = new Array[Double](half)
          var e = 0.0
          var i = 0
          while (i < half) {
            val u = a(2 * i); val v = a(2 * i + 1)
            val d = (u - v) / math.sqrt(2.0)
            ap(i) = (u + v) / math.sqrt(2.0)
            e = e + d * d
            i += 1
          }
          levels += e
          total = total + e
          a = ap
        }
        levels.zipWithIndex.map { case (e, i) =>
          Seq((i + 1).toDouble, e, e / total)
        }.toSeq
      }
      SeriesOps.collect(dense, S)
        .withColumn("_lv", explode(fn(col("xs"))))
        .select(col("event_type"), col("_lv")(0).cast("int").as("level"),
          round(col("_lv")(1), 6).as("energy"), round(col("_lv")(2), 6).as("share"))
    }),

    // Cook's distance influence diagnostics on the per-series linear
    // trend: D_t = e²h/(2s²(1−h)²) with leverage h = 1/n + (t−t̄)²/Sxx —
    // WHICH points drive the fitted trend (the regression-diagnostics
    // complement to q_outlier_zscore). Residuals come from the
    // 6-dp-snapped (a,b), s² from the moment closed form (never an
    // unordered Σe²), t-moments exact integers. Flag D > 4/n.
    "q_cooks_distance" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val base = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("rn", row_number().over(w))
      val mom = base.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sy"),
        round(sum(col("rn") * col("value")), 2).as("sty"),
        round(sum(col("value") * col("value")), 2).as("syy"))
        .withColumn("st", expr("(n * (n + 1)) DIV 2"))
        .withColumn("stt", expr("(n * (n + 1) * (2 * n + 1)) DIV 6"))
        .withColumn("sxx", expr("CAST(stt AS DOUBLE) - (CAST(st AS DOUBLE) * st) / n"))
        .withColumn("sxy", expr("sty - (CAST(st AS DOUBLE) * sy) / n"))
        .withColumn("b", round(expr("sxy / sxx"), 6))
        .withColumn("a", round(expr("(sy - b * st) / n"), 6))
        .withColumn("s2", expr(
          "((syy - (sy * sy) / n) - 2.0 * b * sxy + b * b * sxx) / (n - 2)"))
      base.join(broadcast(mom.select("event_type", "n", "st", "sxx", "a", "b", "s2")), "event_type")
        .withColumn("e", col("value") - (col("a") + col("b") * col("rn")))
        .withColumn("h", expr("1.0E0 / n + (rn - CAST(st AS DOUBLE) / n) * (rn - CAST(st AS DOUBLE) / n) / sxx"))
        .withColumn("d", expr("e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h))"))
        .where(col("d") * col("n") > 4.0)
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"), col("value"),
          round(col("d"), 6).as("cooks_d"), round(col("h"), 6).as("leverage"))
    }),

    // Box-Cox transformation selection per series (Box & Cox 1964 — the
    // variance-stabilization step the reference's Holt-Winters MLE runs
    // before fitting): profile log-likelihood
    // LL(λ) = −n/2·ln(σ̂²_λ) + (λ−1)·Σln y over the λ grid
    // {−1, −0.5, 0, 0.5, 1}, each transform expressed via
    // correctly-rounded IEEE ops only (1/y, 1/√y, ln y, √y, y — never
    // libm pow, whose last ulp differs across engines); moments
    // 4-dp-snapped.
    "q_boxcox" -> ((s, dir) => {
      val pos = Tables.hourlyEvents(s, dir).drop("n").where(col("value") > 0)
      def tr(lam: Double) = lam match {
        case -1.0 => (lit(1.0) / col("value") - 1.0) / lit(-1.0)
        case -0.5 => (lit(1.0) / sqrt(col("value")) - 1.0) / lit(-0.5)
        case 0.0  => log(col("value"))
        case 0.5  => (sqrt(col("value")) - 1.0) / lit(0.5)
        case _    => col("value") - 1.0
      }
      // per-arm snap scales: the λ=−1 transform maps onto (0,1) where the
      // centered moment is ~1e-3·n — a coarse snap would swamp it (and can
      // even make the variance negative); the λ=1 arm sits at ~1e9 where a
      // fine snap would be below cross-engine float-sum noise
      def dps(lam: Double): (Int, Int) = lam match {
        case -1.0 => (6, 6)
        case -0.5 => (4, 4)
        case 0.0  => (4, 4)
        case 0.5  => (4, 2)
        case _    => (2, 2)
      }
      val lls = Seq(-1.0, -0.5, 0.0, 0.5, 1.0).map { lam =>
        val (sDp, ssDp) = dps(lam)
        pos.withColumn("yt", tr(lam))
          .groupBy("event_type").agg(
            count(lit(1)).as("n"),
            round(sum("yt"), sDp).as("s"),
            round(sum(col("yt") * col("yt")), ssDp).as("ss"),
            round(sum(log(col("value"))), 4).as("slog"))
          .withColumn("lam", lit(lam))
          .withColumn("ll", expr(
            s"-(n / 2.0E0) * ln((ss - s * s / n) / n) + (${lam}E0 - 1.0E0) * slog"))
          .select(col("event_type"), col("lam"), col("n"), col("ll"))
      }.reduce(_ unionAll _)
      val wPick = Window.partitionBy("event_type").orderBy(col("ll").desc, col("lam"))
      lls.withColumn("rk", row_number().over(wPick)).where(col("rk") === 1)
        .select(col("event_type"), col("n").as("n_obs"),
          round(col("lam"), 6).as("lambda_star"), round(col("ll"), 6).as("ll"),
          when(col("lam") === 0.0, 1).otherwise(0).as("log_recommended"))
    }),

    "q_newsvendor" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), to_date(col("o_orderdate")).as("od"))
      val dem = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("od"))
        .agg(sum("qty").as("demand"))
      val cnt = dem.groupBy("o_orderpriority", "demand").agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("o_orderpriority")
        .orderBy("demand").rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy("o_orderpriority")
      // critical fractile: smallest stock q with F(q) = cum/n ≥ r,
      // checked in integer math (cum·100 ≥ r100·n — no float quantile)
      def stock(r100: Int) =
        min(when(col("cum") * 100 >= lit(r100) * col("n"), col("demand"))).as(s"stock_$r100")
      cnt
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(wAll))
        .withColumn("dsum", sum(col("demand") * col("c")).over(wAll))
        .groupBy("o_orderpriority").agg(
          first("n").as("n_days"),
          round(first("dsum").cast("double") / first("n"), 6).as("mean_demand"),
          stock(75), stock(90), stock(99))
    })
  )

  val sql: Map[String, String] = Map(

    "q_tsb" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM dense),
         |nz AS (SELECT event_type, value AS z, rn, n,
         |    row_number() OVER (PARTITION BY event_type ORDER BY rn) AS k
         |  FROM ord WHERE value > 0),
         |kk AS (SELECT event_type, max(k) AS kmax, max(n) AS n FROM nz GROUP BY 1),
         |zs AS (SELECT a.event_type,
         |    sum(CASE WHEN a.k = 1 THEN power(${1 - A}, c.kmax - 1) * a.z
         |             ELSE $A * power(${1 - A}, c.kmax - a.k) * a.z END) AS z_hat
         |  FROM nz a JOIN kk c USING (event_type) GROUP BY 1),
         |ps AS (SELECT a.event_type,
         |    sum(CASE WHEN a.rn = 1 THEN power(${1 - B}, c.n - 1)
         |             ELSE $B * power(${1 - B}, c.n - a.rn) END) AS p_hat
         |  FROM nz a JOIN kk c USING (event_type) GROUP BY 1)
         |SELECT k.event_type, round(CAST(k.n AS DOUBLE), 6) AS n_periods,
         |  round(CAST(k.kmax AS DOUBLE), 6) AS n_nonzero,
         |  round(p.p_hat, 6) AS p_hat, round(z.z_hat, 6) AS z_hat,
         |  round(p.p_hat * z.z_hat, 6) AS tsb
         |FROM kk k JOIN zs z USING (event_type) JOIN ps p USING (event_type)""".stripMargin,

    "q_durbin_watson" ->
      s"""WITH hourly AS ($H),
         |lg AS (SELECT event_type, value,
         |    row_number() OVER w AS rn, value - lag(value, 1) OVER w AS dy
         |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(value), 2) AS sy, round(sum(rn * value), 2) AS sty,
         |    round(sum(value * value), 2) AS syy,
         |    round(sum(dy), 2) AS sdy, round(sum(dy * dy), 2) AS sdy2
         |  FROM lg GROUP BY 1),
         |tm AS (SELECT *, (n * (n + 1)) // 2 AS st,
         |    (n * (n + 1) * (2 * n + 1)) // 6 AS stt FROM mom),
         |bb AS (SELECT *, round($dwB, 6) AS b FROM tm),
         |dd AS (SELECT *, ($dwNum) / ($dwSse) AS dw FROM bb)
         |SELECT event_type, n AS n_obs, b AS slope, round(dw, 6) AS dw,
         |  round(1.0 - dw / 2.0, 6) AS rho1,
         |  CASE WHEN dw < 1.5 THEN 1 ELSE 0 END AS positive_autocorr
         |FROM dd""".stripMargin,

    "q_arch_lm" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |e2t AS (SELECT event_type, ts,
         |    (value - round(avg(value) OVER p, 6)) * (value - round(avg(value) OVER p, 6)) AS e2
         |  FROM hourly WINDOW p AS (PARTITION BY event_type)),
         |nrm AS (SELECT event_type, ts,
         |    round(e2 / round(avg(e2) OVER (PARTITION BY event_type), 4), 6) AS y
         |  FROM e2t),
         |xy AS (SELECT event_type, y,
         |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY ts) AS x
         |  FROM nrm),
         |mom AS (SELECT event_type, count(*)::DOUBLE AS n,
         |    round(sum(x), 4) AS sx, round(sum(y), 4) AS sy,
         |    round(sum(x * x), 4) AS sxx, round(sum(y * y), 4) AS syy,
         |    round(sum(x * y), 4) AS sxy
         |  FROM xy WHERE x IS NOT NULL GROUP BY 1),
         |st AS (SELECT event_type, n, $archR2 AS r2,
         |    round(n * ($archR2), 6) AS lm FROM mom),
         |chsrc AS (SELECT event_type, lm AS x, 1 AS k FROM st),
         |${graft.detectors.ChiSq.sqlReplay("chsrc", Seq("event_type"))}
         |SELECT s.event_type, s.n::BIGINT AS n_obs, round(s.r2, 6) AS r2,
         |  s.lm AS lm_stat, round(f.p, 6) AS p_value,
         |  CASE WHEN f.p < 0.05 THEN 1 ELSE 0 END AS arch_present
         |FROM st s JOIN chisf f USING (event_type)""".stripMargin,

    "q_haar_energy" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ser AS (SELECT event_type, list(value ORDER BY ts) AS xs0, count(*) AS n
         |        FROM dense GROUP BY 1),
         |tr AS (SELECT event_type,
         |    CASE WHEN n >= 512 THEN 512 WHEN n >= 256 THEN 256 WHEN n >= 128 THEN 128
         |         WHEN n >= 64 THEN 64 WHEN n >= 32 THEN 32 WHEN n >= 16 THEN 16
         |         WHEN n >= 8 THEN 8 WHEN n >= 4 THEN 4 WHEN n >= 2 THEN 2
         |         ELSE 1 END AS m, xs0, n
         |  FROM ser),
         |t2 AS (SELECT event_type, xs0[(n - m + 1):n] AS xs FROM tr),
         |rec AS (
         |  SELECT event_type, 1 AS lvl, xs FROM t2 WHERE len(xs) >= 2
         |  UNION ALL
         |  SELECT event_type, lvl + 1,
         |    list_transform(range(1, len(xs) // 2 + 1),
         |      i -> (xs[2 * i - 1] + xs[2 * i]) / sqrt(2.0))
         |  FROM rec WHERE len(xs) >= 4),
         |en AS (SELECT event_type, lvl,
         |    list_sum(list_transform(range(1, len(xs) // 2 + 1),
         |      i -> ((xs[2 * i - 1] - xs[2 * i]) / sqrt(2.0))
         |         * ((xs[2 * i - 1] - xs[2 * i]) / sqrt(2.0)))) AS e
         |  FROM rec),
         |tot AS (SELECT event_type, list_sum(list(e ORDER BY lvl)) AS total
         |        FROM en GROUP BY 1)
         |SELECT e.event_type, e.lvl::INT AS level, round(e.e, 6) AS energy,
         |  round(e.e / t.total, 6) AS share
         |FROM en e JOIN tot t USING (event_type)""".stripMargin,

    "q_cooks_distance" ->
      s"""WITH hourly AS ($H),
         |base AS (SELECT event_type, ts, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn
         |  FROM hourly),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(value), 2) AS sy, round(sum(rn * value), 2) AS sty,
         |    round(sum(value * value), 2) AS syy
         |  FROM base GROUP BY 1),
         |tm AS (SELECT *, (n * (n + 1)) // 2 AS st,
         |    (n * (n + 1) * (2 * n + 1)) // 6 AS stt FROM mom),
         |cf AS (SELECT *,
         |    CAST(stt AS DOUBLE) - (CAST(st AS DOUBLE) * st) / n AS sxx,
         |    sty - (CAST(st AS DOUBLE) * sy) / n AS sxy
         |  FROM tm),
         |bb AS (SELECT *, round(sxy / sxx, 6) AS b FROM cf),
         |ab AS (SELECT *, round((sy - b * st) / n, 6) AS a,
         |    ((syy - (sy * sy) / n) - 2.0 * b * sxy + b * b * sxx) / (n - 2) AS s2
         |  FROM bb),
         |pts AS (SELECT p.event_type, p.ts, p.value, p.rn, m.n, m.st, m.sxx, m.a, m.b, m.s2,
         |    p.value - (m.a + m.b * p.rn) AS e,
         |    1.0E0 / m.n + (p.rn - CAST(m.st AS DOUBLE) / m.n) * (p.rn - CAST(m.st AS DOUBLE) / m.n) / m.sxx AS h
         |  FROM base p JOIN ab m USING (event_type)),
         |dd AS (SELECT *, e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) AS d FROM pts)
         |SELECT event_type, epoch_us(ts) // 1000000 AS ts_s, value,
         |  round(d, 6) AS cooks_d, round(h, 6) AS leverage
         |FROM dd WHERE d * n > 4.0""".stripMargin,

    "q_boxcox" -> {
      def arm(lam: Double): String = {
        val t = lam match {
          case -1.0 => "(1.0E0 / value - 1.0E0) / -1.0E0"
          case -0.5 => "(1.0E0 / sqrt(value) - 1.0E0) / -0.5E0"
          case 0.0  => "ln(value)"
          case 0.5  => "(sqrt(value) - 1.0E0) / 0.5E0"
          case _    => "value - 1.0E0"
        }
        val (sDp, ssDp) = lam match {
          case -1.0 => (6, 6)
          case -0.5 => (4, 4)
          case 0.0  => (4, 4)
          case 0.5  => (4, 2)
          case _    => (2, 2)
        }
        s"""SELECT event_type, ${lam}E0 AS lam, count(*)::BIGINT AS n,
           |    round(sum($t), $sDp) AS s, round(sum(($t) * ($t)), $ssDp) AS ss,
           |    round(sum(ln(value)), 4) AS slog
           |  FROM pos GROUP BY 1""".stripMargin
      }
      val arms = Seq(-1.0, -0.5, 0.0, 0.5, 1.0).map(arm).mkString("\n  UNION ALL\n")
      s"""WITH hourly AS ($H),
         |pos AS (SELECT event_type, value FROM hourly WHERE value > 0),
         |lls0 AS (
         |$arms),
         |lls AS (SELECT event_type, lam, n,
         |    -(n / 2.0E0) * ln((ss - s * s / n) / n) + (lam - 1.0E0) * slog AS ll
         |  FROM lls0),
         |pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY ll DESC, lam) AS rk FROM lls)
         |SELECT event_type, n AS n_obs, round(lam, 6) AS lambda_star,
         |  round(ll, 6) AS ll,
         |  CASE WHEN lam = 0.0 THEN 1 ELSE 0 END AS log_recommended
         |FROM pick WHERE rk = 1""".stripMargin
    },

    "q_newsvendor" ->
      """WITH d AS (
        |  SELECT o.o_orderpriority, o.o_orderdate::DATE AS od,
        |         sum(l.l_quantity::BIGINT) AS demand
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |cnt AS (SELECT o_orderpriority, demand, count(*) AS c FROM d GROUP BY 1, 2),
        |w AS (SELECT *,
        |    sum(c) OVER (PARTITION BY o_orderpriority ORDER BY demand
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY o_orderpriority) AS n,
        |    sum(demand * c) OVER (PARTITION BY o_orderpriority) AS dsum
        |  FROM cnt)
        |SELECT o_orderpriority, max(n)::BIGINT AS n_days,
        |  round(max(dsum)::DOUBLE / max(n), 6) AS mean_demand,
        |  min(CASE WHEN cum * 100 >= 75 * n THEN demand END)::BIGINT AS stock_75,
        |  min(CASE WHEN cum * 100 >= 90 * n THEN demand END)::BIGINT AS stock_90,
        |  min(CASE WHEN cum * 100 >= 99 * n THEN demand END)::BIGINT AS stock_99
        |FROM w GROUP BY 1""".stripMargin
  )
}
