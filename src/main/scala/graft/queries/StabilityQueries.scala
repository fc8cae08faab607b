package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Structural-stability + rate battery over the event series — the
  * parameter-constancy complement to the changepoint detectors (CUSUM /
  * PELT / MOSUM localize WHERE a series moved; these test WHETHER a fitted
  * relationship itself is stable, the econometrician's framing):
  *
  *  - `q_chow_test` — Chow (1960) structural-break F-test at the series
  *    midpoint: OLS y = a + b·t fitted pooled vs split, F = ((SSE_p −
  *    SSE_1 − SSE_2)/k) / ((SSE_1+SSE_2)/(n−2k)), k = 2. Runs on the
  *    hourly COUNT series so every moment (Σt, Σt², Σy, Σty, Σy²) is an
  *    exact integer — both engines derive identical doubles from identical
  *    integers; one window pass for rn + one conditional aggregation.
  *  - `q_quandt_andrews` — Quandt (1960) / Andrews (1993) sup-F: the Chow
  *    F evaluated at EVERY candidate break in the middle 70% of the
  *    series, sup over candidates. The scale discipline is the point:
  *    prefix sums of the integer moments make all O(n) candidate fits
  *    closed-form per row — ONE window pass, no per-candidate refit
  *    (Σi and Σi² are polynomial identities in rn, only the y-moments
  *    need running frames). Flagged at the Andrews (1993, Table I) 5%
  *    critical value for p = 2, 15% trim.
  *  - `q_anova` — one-way fixed-effects ANOVA of event value across
  *    event types (the parametric twin of q_kruskal): F = (SSB/(k−1)) /
  *    (SSW/(n−k)) + η² effect size. Per-group moments are snapped
  *    (round 4/2, the q_mosum discipline); the k-group reduction runs in
  *    scaled-BIGINT space (round(x·10⁴) summed as longs) so the
  *    cross-group sum is order-free in both engines.
  *  - `q_poisson_rate` — two-sample Poisson rate test per event type:
  *    first-half vs second-half counts at the microsecond-integer
  *    midpoint cut (equal exposure by construction), tested with the
  *    variance-stabilizing square-root transform z = (√c₂ − √c₁)·√2
  *    (Anscombe; Var √c → 1/4). sqrt is a correctly-rounded IEEE op —
  *    zero cross-engine drift by construction.
  *  - `q_ewma_chart` — EWMA control chart (Roberts 1959; Lucas &
  *    Saccucci 1990), the SPC standard for small sustained shifts that
  *    Shewhart/WE-rules charts (q_spc_rules) miss: z_t = λy_t + (1−λ)z_{t−1}
  *    against time-varying limits μ ± Lσ·√(λ/(2−λ)·(1−(1−λ)^{2t})).
  *    The (1−λ)^{2t} inflation factor is carried recursively (w ← w·(1−λ)²)
  *    — no libm pow — and the whole per-series recursion is replayed
  *    step-for-step by the oracle's recursive CTE, identical IEEE op
  *    sequence in both engines; baseline μ/σ from snapped moments.
  *
  * Scale: every query is one shuffle keyed by series (plus a broadcast
  * 1-row midpoint for q_poisson_rate); driver state nil; candidate breaks
  * cost O(series length) rows inside the series partition, never a refit.
  * Reference frame: Kats exposes trend-change detection
  * (kats/detectors/trend_mk.py, cusum_detection.py); the F-test-on-moments
  * framing here is the standard econometrics companion a production user
  * expects next to them.
  */
object StabilityQueries {

  private val H = Tables.hourlySql

  // ── computed critical values ───────────────────────────────────────────
  // Closes the r9 declared "shared literal" deviations: q(0.95, 5, ∞) and
  // F(0.95, 4, ∞) are now DERIVED from the normal / chi-square CDFs by
  // both engines (identical arithmetic, 6-dp-snapped at every comparison)
  // and emitted as output columns, so the hash gate certifies parity.

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Φ(x) via the Abramowitz-Stegun 7.1.26 erf polynomial (all-literal
    * coefficients, odd symmetry) — the exact expression the oracle's SQL
    * fragment evaluates, so both engines walk the same float sequence. */
  private def normCdf(x: Double): Double = {
    val ax = math.abs(x) / 1.4142135623730951
    val t = 1.0 / (1.0 + 0.3275911 * ax)
    val poly = ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t
    val erf = 1.0 - poly * math.exp(-ax * ax)
    if (x >= 0.0) 0.5 * (1.0 + erf) else 0.5 * (1.0 - erf)
  }

  /** Studentized-range q(0.95, k=5, df=∞) as a grid-min: the CDF
    * P(Q≤q) = k∫φ(z)[Φ(z)−Φ(z−q)]^{k−1}dz evaluated by rectangle sum
    * (z = −8 + j/128, j ≤ 2048; exact-dyadic grid) at candidates
    * q_c = 3.5 + c/2048, crit = first candidate whose 6-dp-snapped CDF
    * reaches 0.95. Candidates are exact dyadics → the selected crit is
    * bit-identical across engines; CDF spacing between candidates
    * (~1.5e-4) dwarfs any libm-exp ulp drift in the snapped sum. */
  private[queries] lazy val TukeyQCrit: Double = {
    var c = 0
    var res = Double.NaN
    while (c <= 1024 && res.isNaN) {
      val qc = 3.5 + c / 2048.0
      var s = 0.0
      var j = 0
      while (j <= 2048) {
        val z = -8.0 + j / 128.0
        val d = normCdf(z) - normCdf(z - qc)
        s += math.exp(-z * z / 2.0) * 0.3989422804014327 * 5.0 * d * d * d * d
        j += 1
      }
      if (round6(s / 128.0) >= 0.95) res = qc
      c += 1
    }
    res // = 3.85791015625 (tables: 3.858)
  }

  /** F(0.95, 4, ∞) = χ²₀.₉₅(4)/4 by 60-step bisection on the closed-form
    * even-df chi-square CDF 1 − e^{−x/2}(1 + x/2), the CDF 6-dp-snapped
    * at each comparison so both engines take the same branch; the oracle
    * replays the identical bisection as a recursive CTE. */
  private[queries] lazy val LeveneFCrit: Double = {
    var lo = 0.0; var hi = 50.0
    var it = 0
    while (it < 60) {
      val mid = (lo + hi) / 2.0
      if (round6(1.0 - math.exp(-mid / 2.0) * (1.0 + mid / 2.0)) < 0.95) lo = mid else hi = mid
      it += 1
    }
    round6((lo + hi) / 2.0 / 4.0) // = 2.371926 (tables: 2.372)
  }

  /** Oracle SQL: Φ(x) as an inline fragment (A&S 7.1.26, literals only). */
  private def phiSql(x: String): String = {
    val ax = s"(abs($x) / 1.4142135623730951)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $ax))"
    val poly = s"((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t - 0.284496736) * $t + 0.254829592) * $t"
    val erf = s"(1.0 - $poly * exp(-$ax * $ax))"
    s"(CASE WHEN $x >= 0.0 THEN 0.5 * (1.0 + $erf) ELSE 0.5 * (1.0 - $erf) END)"
  }

  /** Oracle CTE list yielding `tcrit(qcrit)` — [[TukeyQCrit]] replayed. */
  private def tukeyCritSql: String = {
    val z = "(-8.0 + j / 128.0)"
    val d = s"(${phiSql(z)} - ${phiSql(s"($z - qc)")})"
    s"""tq AS (SELECT 3.5 + c / 2048.0 AS qc FROM generate_series(0, 1024) AS t_(c)),
       |tz AS (SELECT j::DOUBLE AS j FROM generate_series(0, 2048) AS t2_(j)),
       |tcdf AS (SELECT qc,
       |    round(sum(exp(-$z * $z / 2.0) * 0.3989422804014327 * 5.0 * $d * $d * $d * $d) / 128.0, 6) AS cdf
       |  FROM tq, tz GROUP BY qc),
       |tcrit AS (SELECT min(qc) AS qcrit FROM tcdf WHERE cdf >= 0.95)""".stripMargin
  }

  /** Oracle CTE list (requires WITH RECURSIVE) yielding `fcrit(fcrit)` —
    * [[LeveneFCrit]]'s bisection replayed. */
  private def leveneCritSql: String = {
    val cdf = "round(1.0 - exp(-((lo + hi) / 2.0) / 2.0) * (1.0 + ((lo + hi) / 2.0) / 2.0), 6)"
    s"""fb(it, lo, hi) AS (
       |  SELECT 0, 0.0::DOUBLE, 50.0::DOUBLE
       |  UNION ALL
       |  SELECT it + 1,
       |    CASE WHEN $cdf < 0.95 THEN (lo + hi) / 2.0 ELSE lo END,
       |    CASE WHEN $cdf < 0.95 THEN hi ELSE (lo + hi) / 2.0 END
       |  FROM fb WHERE it < 60),
       |fcrit AS (SELECT round((lo + hi) / 2.0 / 4.0, 6) AS fcrit FROM fb WHERE it = 60)""".stripMargin
  }

  /** Chow F 1% critical value for k=2 restrictions, large n (χ²(2)/2). */
  private val ChowCrit = 4.61

  /** Andrews (1993) Table I sup-F 5% critical value, p = 2, π₀ = 0.15. */
  private val AndrewsCrit = 11.79

  /** EWMA chart smoothing + limit width (Lucas & Saccucci 1990 defaults). */
  private val Lam = 0.2
  private val Lw = 3.0

  /** Closed-form SSE of OLS y = a + b·t from integer moments.
    * den = m·Σtt − (Σt)²; b = (m·Σty − Σt·Σy)/den; a = (Σy − b·Σt)/m;
    * SSE = Σyy − a·Σy − b·Σty. All inputs are exact longs.
    */
  private def sse(m: Column, st: Column, stt: Column, sy: Column,
                  sty: Column, syy: Column): Column = {
    val den = (m * stt - st * st).cast("double")
    val b = (m * sty - st * sy).cast("double") / den
    val a = (sy.cast("double") - b * st.cast("double")) / m.cast("double")
    syy.cast("double") - a * sy.cast("double") - b * sty.cast("double")
  }

  /** The oracle-side twin of [[sse]] over BIGINT moment columns. */
  private def sseSql(m: String, st: String, stt: String, sy: String,
                     sty: String, syy: String): String =
    s"""($syy::DOUBLE
       |  - (($sy::DOUBLE - (($m * $sty - $st * $sy)::DOUBLE / ($m * $stt - $st * $st)::DOUBLE) * $st::DOUBLE) / $m::DOUBLE) * $sy::DOUBLE
       |  - (($m * $sty - $st * $sy)::DOUBLE / ($m * $stt - $st * $st)::DOUBLE) * $sty::DOUBLE)""".stripMargin.replace("\n", " ")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── Seasonal-profile shift: χ² homogeneity of the hour-of-day COUNT
    // profile, first half vs second half (24 cells, df = 23) — the
    // PATTERN-change detector next to the level-change family (a series
    // whose volume merely doubled passes; one whose daily shape rotated
    // fails). Exact integer cells, expected counts ratios of integers,
    // p via the shared detectors/ChiSq kernel (odd df → fixed-series
    // incomplete gamma), oracle replays the same series. ──
    "q_seasonal_shift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cut = ev.agg(timestamp_micros(
        expr("(unix_micros(min(ts)) + unix_micros(max(ts))) DIV 2")).as("cut"))
      val cells = ev.crossJoin(broadcast(cut))
        .withColumn("h", hour(col("ts")))
        .withColumn("grp", when(col("ts") < col("cut"), 1).otherwise(2))
        .groupBy("event_type", "h").agg(
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("grp") === 2, 1L).otherwise(0L)).as("c2"))
      val wp = Window.partitionBy("event_type")
      val chi = udf { (x: Double, k: Int) => graft.detectors.ChiSq.sf(x, k) }
      val st = cells
        .withColumn("n1", sum("c1").over(wp))
        .withColumn("n2", sum("c2").over(wp))
        .withColumn("rt", col("c1") + col("c2"))
        .withColumn("e1", col("rt").cast("double") * col("n1") / (col("n1") + col("n2")))
        .withColumn("e2", col("rt").cast("double") * col("n2") / (col("n1") + col("n2")))
        .withColumn("term",
          (col("c1") - col("e1")) * (col("c1") - col("e1")) / col("e1") +
            (col("c2") - col("e2")) * (col("c2") - col("e2")) / col("e2"))
        .groupBy("event_type").agg(
          first("n1").as("n1"), first("n2").as("n2"),
          (count(lit(1)) - 1).cast("int").as("df"),
          round(sum("term"), 6).as("x2"))
      st.withColumn("p", chi(col("x2"), col("df")))
        .select(col("event_type"), col("n1"), col("n2"), col("df"),
          col("x2").as("chi2"), round(col("p"), 6).as("p_value"),
          when(col("p") < 0.01, 1).otherwise(0).as("pattern_shifted"))
    }),

    // ── Process capability (Cp / Cpk): natural tolerance limits fit on
    // the first half of the dense grid (μ₀ ± 3σ₀ from snapped moments),
    // capability evaluated on the second half — Cp = tolerance width /
    // 6σ₁, Cpk = min(USL−μ₁, μ₁−LSL)/3σ₁, plus the exact share of
    // second-half hours outside the limits. Cpk < 1 means the process
    // drifted or widened relative to its own baseline — the SPC summary
    // next to q_spc_rules' pointwise alarms. One window split + two
    // moment passes. ──
    "q_capability" -> ((s, dir) => {
      val wo = Window.partitionBy("event_type").orderBy("ts")
      val wp = Window.partitionBy("event_type")
      val dense = Tables.denseHourly(s, dir)
      val half = dense
        .withColumn("rn", row_number().over(wo))
        .withColumn("nn", count(lit(1)).over(wp))
        .withColumn("grp", when(col("rn") <= col("nn") / 2, 1).otherwise(2))
      def mom(g: Int, p: String) = half.where(col("grp") === g)
        .groupBy("event_type").agg(
          count(lit(1)).as(s"n$p"),
          round(sum("value"), 4).as(s"sv$p"),
          round(sum(col("value") * col("value")), 2).as(s"svv$p"))
        .withColumn(s"mu$p", expr(s"sv$p / n$p"))
        .withColumn(s"sd$p", expr(s"sqrt((svv$p - sv$p * sv$p / n$p) / (n$p - 1))"))
        .select("event_type", s"n$p", s"mu$p", s"sd$p")
      val base = mom(1, "0")
        .withColumn("usl", expr("mu0 + 3.0E0 * sd0"))
        .withColumn("lsl", expr("mu0 - 3.0E0 * sd0"))
      val ev = mom(2, "1").join(broadcast(base), "event_type")
      val outCnt = half.where(col("grp") === 2)
        .join(broadcast(base), "event_type")
        .groupBy("event_type").agg(
          sum(when(col("value") > col("usl") || col("value") < col("lsl"), 1L)
            .otherwise(0L)).as("n_out"))
      ev.join(outCnt, "event_type")
        .withColumn("cp", expr("(usl - lsl) / (6.0E0 * sd1)"))
        .withColumn("cpk", expr("least(usl - mu1, mu1 - lsl) / (3.0E0 * sd1)"))
        .select(col("event_type"), col("n0").as("n_baseline"), col("n1").as("n_eval"),
          round(col("usl"), 6).as("usl"), round(col("lsl"), 6).as("lsl"),
          round(col("cp"), 6).as("cp"), round(col("cpk"), 6).as("cpk"),
          round(col("n_out").cast("double") / col("n1").cast("double"), 6).as("out_share"),
          when(col("cpk") < 1.0, 1).otherwise(0).as("not_capable"))
    }),

    // ── Forecast tracking signal (Trigg 1964): cumulative seasonal-naive
    // forecast error over its cumulative MAD, alarming at |TS| > 4 — the
    // demand-planning bias monitor that catches a forecast that is
    // consistently wrong in ONE direction long before accuracy metrics
    // degrade. The cumulative sums run sequentially over the ordered
    // grid (identical IEEE order both engines); alarms are exact
    // comparisons. One window pass. ──
    "q_tracking_signal" -> ((s, dir) => {
      val wo = Window.partitionBy("event_type").orderBy("ts")
      val dense = Tables.denseHourly(s, dir)
      val e = dense
        .withColumn("yhat", lag("value", 24).over(wo))
        .where(col("yhat").isNotNull)
        .withColumn("e", col("value") - col("yhat"))
      val cumW = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ts = e
        .withColumn("k", row_number().over(wo))
        .withColumn("ce", sum("e").over(cumW))
        .withColumn("cae", sum(abs(col("e"))).over(cumW))
        .withColumn("tsig", expr("CASE WHEN cae > 0 THEN ce / (cae / k) END"))
      ts.groupBy("event_type").agg(
        count(lit(1)).as("n_obs"),
        round(max_by(col("tsig"), col("k")), 6).as("final_ts"),
        round(max(abs(col("tsig"))), 6).as("max_abs_ts"),
        sum(when(abs(col("tsig")) > 4.0, 1L).otherwise(0L)).as("n_alarm_hours"))
        .withColumn("biased", when(col("max_abs_ts") > 4.0, 1).otherwise(0))
    }),

    // ── Tukey-Kramer HSD post-hoc (Tukey 1949): which PAIRS differ once
    // q_anova says "something does" — |mean_i − mean_j| against
    // HSD = q₀.₀₅·√(MSW/2·(1/nᵢ+1/nⱼ)). The studentized-range critical
    // q(0.95, k=5, df=∞) is COMPUTED from the normal CDF ([[TukeyQCrit]];
    // the oracle replays the identical grid-min) and emitted as q_crit —
    // the former shared-literal deviation is closed. Group moments ride
    // the q_anova scaled-BIGINT reduction; the pair frame is #series². ──
    "q_tukey_hsd" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val grp = ev.groupBy("event_type").agg(
        count(lit(1)).as("m"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"))
        .withColumn("ssw_s", round(((col("svv") - col("sv") * col("sv") / col("m")) * lit(1e4))).cast("long"))
      val msw = grp.groupBy().agg(
        count(lit(1)).as("k"), sum("m").as("n"), sum("ssw_s").as("ssw_s"))
        .withColumn("msw",
          (col("ssw_s").cast("double") / lit(1e4)) / (col("n") - col("k")).cast("double"))
        .select("msw", "n", "k")
      val a = grp.select(col("event_type").as("ta"), col("m").as("ma"), col("sv").as("sva"))
      val b = grp.select(col("event_type").as("tb"), col("m").as("mb"), col("sv").as("svb"))
      a.join(broadcast(b), col("ta") < col("tb"))
        .crossJoin(broadcast(msw))
        .withColumn("diff", expr("abs(sva / ma - svb / mb)"))
        .withColumn("hsd", expr(s"${TukeyQCrit}E0 * sqrt(msw / 2.0E0 * (1.0E0 / ma + 1.0E0 / mb))"))
        .select(col("ta"), col("tb"), col("ma").as("n_a"), col("mb").as("n_b"),
          round(col("diff"), 6).as("mean_diff"), round(col("hsd"), 6).as("hsd"),
          round(lit(TukeyQCrit), 6).as("q_crit"),
          when(col("diff") > col("hsd"), 1).otherwise(0).as("significant"))
    }),

    // ── Brown-Forsythe/Levene variance-homogeneity test (Levene 1960;
    // Brown & Forsythe 1974): one-way F on z = |x − median_g| over the
    // hourly panel — the heteroscedasticity gate before q_anova's
    // equal-variance F means anything. Group medians are exact order
    // statistics ((n+1)//2, (n+2)//2 picks over the series-keyed rank);
    // the F rides the q_anova scaled-BIGINT reduction; flagged at
    // F(0.95, 4, ∞) COMPUTED by chi-square bisection ([[LeveneFCrit]];
    // oracle replays it as a recursive CTE) and emitted as f_crit. ──
    "q_levene" -> ((s, dir) => {
      val hourly = Tables.hourlyEvents(s, dir).drop("n")
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("ts"))
      val wp = Window.partitionBy("event_type")
      val rk = hourly
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wp))
      val med = rk
        .where(col("rn") === expr("(nn + 1) DIV 2") || col("rn") === expr("(nn + 2) DIV 2"))
        .groupBy("event_type")
        .agg((sum("value") / count(lit(1))).as("med"))
      val z = hourly.join(broadcast(med), "event_type")
        .withColumn("z", abs(col("value") - col("med")))
      val grp = z.groupBy("event_type").agg(
        count(lit(1)).as("m"),
        round(sum("z"), 4).as("sv"),
        round(sum(col("z") * col("z")), 2).as("svv"))
        .withColumn("ssw_s", round(((col("svv") - col("sv") * col("sv") / col("m")) * lit(1e4))).cast("long"))
        .withColumn("ssb_term_s", round((col("sv") * col("sv") / col("m") * lit(1e4))).cast("long"))
        .withColumn("sv_s", round(col("sv") * lit(1e4)).cast("long"))
      grp.groupBy().agg(
        count(lit(1)).as("k"), sum("m").as("n"),
        sum("ssw_s").as("ssw_s"), sum("ssb_term_s").as("ssb_s"), sum("sv_s").as("gs_s"))
        .withColumn("ssw", col("ssw_s").cast("double") / lit(1e4))
        .withColumn("ssb",
          col("ssb_s").cast("double") / lit(1e4) -
            (col("gs_s").cast("double") / lit(1e4)) * (col("gs_s").cast("double") / lit(1e4)) / col("n").cast("double"))
        .withColumn("w_stat",
          (col("ssb") / (col("k") - lit(1L)).cast("double")) /
            (col("ssw") / (col("n") - col("k")).cast("double")))
        .select(col("k"), col("n"), round(col("w_stat"), 6).as("w_stat"),
          round(lit(LeveneFCrit), 6).as("f_crit"),
          when(col("w_stat") > lit(LeveneFCrit), 1).otherwise(0).as("heteroscedastic"))
    }),

    "q_chow_test" -> ((s, dir) => {
      val hourly = Tables.hourlyEvents(s, dir).drop("value")
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wAll = Window.partitionBy("event_type")
      val base = hourly
        .withColumn("rn", row_number().over(w))
        .withColumn("nt", count(lit(1)).over(wAll))
        .withColumn("h1", expr("rn <= nt DIV 2")) // integer division, both engines
        .withColumn("t", col("rn").cast("long"))
        .withColumn("y", col("n").cast("long"))
      def seg(flag: Column, suf: String): Seq[Column] = Seq(
        sum(when(flag, lit(1L)).otherwise(lit(0L))).as(s"m$suf"),
        sum(when(flag, col("t")).otherwise(lit(0L))).as(s"st$suf"),
        sum(when(flag, col("t") * col("t")).otherwise(lit(0L))).as(s"stt$suf"),
        sum(when(flag, col("y")).otherwise(lit(0L))).as(s"sy$suf"),
        sum(when(flag, col("t") * col("y")).otherwise(lit(0L))).as(s"sty$suf"),
        sum(when(flag, col("y") * col("y")).otherwise(lit(0L))).as(s"syy$suf"))
      val aggs = seg(col("h1"), "1") ++ seg(!col("h1"), "2")
      val mom = base.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
        .withColumn("m", col("m1") + col("m2"))
        .withColumn("st", col("st1") + col("st2"))
        .withColumn("stt", col("stt1") + col("stt2"))
        .withColumn("sy", col("sy1") + col("sy2"))
        .withColumn("sty", col("sty1") + col("sty2"))
        .withColumn("syy", col("syy1") + col("syy2"))
        .where(col("m") >= 8) // both segments need >2 points for the df
      val ssep = sse(col("m"), col("st"), col("stt"), col("sy"), col("sty"), col("syy"))
      val sse1 = sse(col("m1"), col("st1"), col("stt1"), col("sy1"), col("sty1"), col("syy1"))
      val sse2 = sse(col("m2"), col("st2"), col("stt2"), col("sy2"), col("sty2"), col("syy2"))
      mom
        .withColumn("sse_p", ssep)
        .withColumn("sse_s", sse1 + sse2)
        .withColumn("fstat",
          ((col("sse_p") - col("sse_s")) / lit(2.0)) /
            (col("sse_s") / (col("m") - lit(4L)).cast("double")))
        .select(col("event_type"), col("m").as("n_obs"),
          round(col("sse_p"), 6).as("sse_pooled"),
          round(col("sse_s"), 6).as("sse_split"),
          round(col("fstat"), 6).as("fstat"),
          (col("fstat") > lit(ChowCrit)).as("break_flag"))
    }),

    "q_quandt_andrews" -> ((s, dir) => {
      val hourly = Tables.hourlyEvents(s, dir).drop("value")
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wAll = Window.partitionBy("event_type")
      val wPre = w.rowsBetween(Window.unboundedPreceding, 0)
      val base = hourly
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("y", col("n").cast("long"))
        .withColumn("nt", count(lit(1)).over(wAll))
        // y-moment prefixes: the only running sums needed (Σi, Σi² are
        // polynomial identities in rn — no frame at all)
        .withColumn("py", sum("y").over(wPre))
        .withColumn("pty", sum(col("rn") * col("y")).over(wPre))
        .withColumn("pyy", sum(col("y") * col("y")).over(wPre))
        .withColumn("sy", sum("y").over(wAll))
        .withColumn("sty", sum(col("rn") * col("y")).over(wAll))
        .withColumn("syy", sum(col("y") * col("y")).over(wAll))
      def stOf(m: Column) = m * (m + lit(1L)) / lit(2L)
      def sttOf(m: Column) = m * (m + lit(1L)) * (m * lit(2L) + lit(1L)) / lit(6L)
      val lo = greatest(lit(3L), expr("nt * 15 DIV 100"))
      val hi = least(col("nt") - lit(3L), expr("nt * 85 DIV 100"))
      val m2 = col("nt") - col("rn")
      val cand = base
        .where(col("nt") >= 20 && col("rn").between(lo, hi))
        .withColumn("sse_p",
          sse(col("nt"), stOf(col("nt")), sttOf(col("nt")), col("sy"), col("sty"), col("syy")))
        .withColumn("sse_1",
          sse(col("rn"), stOf(col("rn")), sttOf(col("rn")), col("py"), col("pty"), col("pyy")))
        .withColumn("sse_2",
          sse(m2, stOf(col("nt")) - stOf(col("rn")), sttOf(col("nt")) - sttOf(col("rn")),
            col("sy") - col("py"), col("sty") - col("pty"), col("syy") - col("pyy")))
        .withColumn("f",
          ((col("sse_p") - col("sse_1") - col("sse_2")) / lit(2.0)) /
            ((col("sse_1") + col("sse_2")) / (col("nt") - lit(4L)).cast("double")))
      val wPick = Window.partitionBy("event_type").orderBy(col("f").desc, col("rn"))
      cand.withColumn("rk", row_number().over(wPick)).where(col("rk") === 1)
        .select(col("event_type"), col("nt").as("n_obs"),
          col("rn").as("break_rn"),
          unix_timestamp(col("ts")).as("break_ts_s"),
          round(col("f"), 6).as("sup_f"),
          (col("f") > lit(AndrewsCrit)).as("break_flag"))
    }),

    "q_anova" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val grp = ev.groupBy("event_type").agg(
        count(lit(1)).as("m"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"))
        // scaled-BIGINT terms so the k-group reduction is order-free:
        // round(x·10⁴) is exact long arithmetic in both engines
        .withColumn("ssw_s", round(((col("svv") - col("sv") * col("sv") / col("m")) * lit(1e4))).cast("long"))
        .withColumn("ssb_term_s", round((col("sv") * col("sv") / col("m") * lit(1e4))).cast("long"))
        .withColumn("sv_s", round(col("sv") * lit(1e4)).cast("long"))
      grp.groupBy().agg(
        count(lit(1)).as("k"),
        sum("m").as("n"),
        sum("ssw_s").as("ssw_s"),
        sum("ssb_term_s").as("ssb_s"),
        sum("sv_s").as("gs_s"))
        .withColumn("ssw", col("ssw_s").cast("double") / lit(1e4))
        .withColumn("ssb",
          col("ssb_s").cast("double") / lit(1e4) -
            (col("gs_s").cast("double") / lit(1e4)) * (col("gs_s").cast("double") / lit(1e4)) / col("n").cast("double"))
        .withColumn("fstat",
          (col("ssb") / (col("k") - lit(1L)).cast("double")) /
            (col("ssw") / (col("n") - col("k")).cast("double")))
        .select(col("k"), col("n"),
          round(col("ssb"), 6).as("ss_between"),
          round(col("ssw"), 6).as("ss_within"),
          round(col("fstat"), 6).as("fstat"),
          round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta_sq"))
    }),

    "q_poisson_rate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cut = ev.agg(timestamp_micros(
        expr("(unix_micros(min(ts)) + unix_micros(max(ts))) DIV 2")).as("cut"))
      ev.crossJoin(broadcast(cut))
        .groupBy("event_type").agg(
          sum(when(col("ts") < col("cut"), lit(1L)).otherwise(lit(0L))).as("c1"),
          sum(when(col("ts") >= col("cut"), lit(1L)).otherwise(lit(0L))).as("c2"))
        .where(col("c1") > 0)
        .withColumn("z", (sqrt(col("c2").cast("double")) - sqrt(col("c1").cast("double"))) * sqrt(lit(2.0)))
        .select(col("event_type"), col("c1"), col("c2"),
          round(col("c2").cast("double") / col("c1").cast("double"), 6).as("rate_ratio"),
          round(col("z"), 6).as("z_vst"),
          (abs(col("z")) > lit(3.0)).as("rate_shift"))
    }),

    "q_ewma_chart" -> ((s, dir) => {
      import s.implicits._
      val hourly = Tables.hourlyEvents(s, dir).drop("n")
      val agg = hourly.groupBy("event_type").agg(
        sort_array(collect_list(struct(col("ts").as("t"), col("value").cast("double").as("x")))).as("pts"),
        count(lit(1)).as("n"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"))
        .where(col("n") >= 2)
        .withColumn("mu", col("sv") / col("n").cast("double"))
        .withColumn("sd", sqrt((col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - lit(1L)).cast("double")))
      // per-series recursion: z ← λx + (1−λ)z, w ← w·(1−λ)² — the oracle
      // replays the identical IEEE sequence in a recursive CTE
      val kern = udf { (xs: Seq[Double], mu: Double, sd: Double) =>
        var z = mu; var w = 1.0; val q = (1.0 - Lam) * (1.0 - Lam)
        var ooc = 0L; var first = 0L; var lim = 0.0
        var i = 0
        while (i < xs.length) {
          z = Lam * xs(i) + (1.0 - Lam) * z
          w = w * q
          lim = Lw * sd * math.sqrt(Lam / (2.0 - Lam) * (1.0 - w))
          if (math.abs(z - mu) > lim) {
            ooc += 1L
            if (first == 0L) first = i + 1L
          }
          i += 1
        }
        (z, lim, ooc, first)
      }
      agg.withColumn("r", kern(col("pts.x"), col("mu"), col("sd")))
        .select(col("event_type"), col("n").as("n_obs"),
          round(col("r._1"), 6).as("ewma_final"),
          round(col("r._2"), 6).as("limit_final"),
          col("r._3").as("n_ooc"),
          col("r._4").as("first_ooc"))
    })
  )

  val sql: Map[String, String] = Map(

    "q_seasonal_shift" ->
      s"""WITH RECURSIVE bounds AS (SELECT min(epoch_us(ts)) +
         |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS midus FROM events),
         |cells AS (SELECT event_type, hour(e.ts) AS h,
         |    sum(CASE WHEN epoch_us(e.ts) < b.midus THEN 1 ELSE 0 END)::BIGINT AS c1,
         |    sum(CASE WHEN epoch_us(e.ts) >= b.midus THEN 1 ELSE 0 END)::BIGINT AS c2
         |  FROM events e, bounds b GROUP BY 1, 2),
         |st AS (SELECT *,
         |    sum(c1) OVER (PARTITION BY event_type)::BIGINT AS n1,
         |    sum(c2) OVER (PARTITION BY event_type)::BIGINT AS n2,
         |    (c1 + c2) AS rt
         |  FROM cells),
         |tm AS (SELECT *,
         |    rt::DOUBLE * n1 / (n1 + n2) AS e1,
         |    rt::DOUBLE * n2 / (n1 + n2) AS e2
         |  FROM st),
         |agg AS (SELECT event_type, max(n1) AS n1, max(n2) AS n2,
         |    (count(*) - 1)::INT AS df,
         |    round(sum((c1 - e1) * (c1 - e1) / e1 + (c2 - e2) * (c2 - e2) / e2), 6) AS x2
         |  FROM tm GROUP BY 1),
         |chsrc AS (SELECT event_type, x2 AS x, df AS k FROM agg),
         |${graft.detectors.ChiSq.sqlReplay("chsrc", Seq("event_type"))}
         |SELECT a.event_type, a.n1, a.n2, a.df, a.x2 AS chi2,
         |  round(f.p, 6) AS p_value,
         |  CASE WHEN f.p < 0.01E0 THEN 1 ELSE 0 END AS pattern_shifted
         |FROM agg a JOIN chisf f USING (event_type)""".stripMargin,

    "q_capability" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |half AS (SELECT event_type, value,
         |    CASE WHEN rn <= nn / 2 THEN 1 ELSE 2 END AS grp
         |  FROM (SELECT event_type, value,
         |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS nn
         |        FROM dense)),
         |m0 AS (SELECT event_type, count(*)::BIGINT AS n0,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
         |  FROM half WHERE grp = 1 GROUP BY 1),
         |b0 AS (SELECT event_type, n0, sv / n0 AS mu0,
         |    sqrt((svv - sv * sv / n0) / (n0 - 1)) AS sd0 FROM m0),
         |bl AS (SELECT *, mu0 + 3.0E0 * sd0 AS usl, mu0 - 3.0E0 * sd0 AS lsl FROM b0),
         |m1 AS (SELECT event_type, count(*)::BIGINT AS n1,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
         |  FROM half WHERE grp = 2 GROUP BY 1),
         |b1 AS (SELECT event_type, n1, sv / n1 AS mu1,
         |    sqrt((svv - sv * sv / n1) / (n1 - 1)) AS sd1 FROM m1),
         |oc AS (SELECT h.event_type,
         |    sum(CASE WHEN h.value > b.usl OR h.value < b.lsl THEN 1 ELSE 0 END)::BIGINT AS n_out
         |  FROM half h JOIN bl b USING (event_type) WHERE h.grp = 2 GROUP BY 1),
         |fin AS (SELECT b.event_type, b.n0, e.n1, b.usl, b.lsl, o.n_out,
         |    (b.usl - b.lsl) / (6.0E0 * e.sd1) AS cp,
         |    least(b.usl - e.mu1, e.mu1 - b.lsl) / (3.0E0 * e.sd1) AS cpk
         |  FROM bl b JOIN b1 e USING (event_type) JOIN oc o USING (event_type))
         |SELECT event_type, n0 AS n_baseline, n1 AS n_eval,
         |  round(usl, 6) AS usl, round(lsl, 6) AS lsl,
         |  round(cp, 6) AS cp, round(cpk, 6) AS cpk,
         |  round(n_out::DOUBLE / n1::DOUBLE, 6) AS out_share,
         |  CASE WHEN cpk < 1.0E0 THEN 1 ELSE 0 END AS not_capable
         |FROM fin""".stripMargin,

    "q_tracking_signal" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |e AS (SELECT event_type, ts, value - yhat AS e
         |      FROM (SELECT event_type, ts, value,
         |              lag(value, 24) OVER (PARTITION BY event_type ORDER BY ts) AS yhat
         |            FROM dense)
         |      WHERE yhat IS NOT NULL),
         |ts AS (SELECT event_type,
         |    row_number() OVER w AS k,
         |    sum(e) OVER (PARTITION BY event_type ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce,
         |    sum(abs(e)) OVER (PARTITION BY event_type ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cae
         |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |tsig AS (SELECT event_type, k,
         |    CASE WHEN cae > 0 THEN ce / (cae / k) END AS tsig FROM ts),
         |agg AS (SELECT event_type, count(*)::BIGINT AS n_obs,
         |    round(max_by(tsig, k), 6) AS final_ts,
         |    round(max(abs(tsig)), 6) AS max_abs_ts,
         |    sum(CASE WHEN abs(tsig) > 4.0E0 THEN 1 ELSE 0 END)::BIGINT AS n_alarm_hours
         |  FROM tsig GROUP BY 1)
         |SELECT *, CASE WHEN max_abs_ts > 4.0E0 THEN 1 ELSE 0 END AS biased FROM agg""".stripMargin,

    "q_tukey_hsd" ->
      s"""WITH grp AS (SELECT event_type, count(*)::BIGINT AS m,
        |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
        |  FROM events GROUP BY 1),
        |g2 AS (SELECT *, round((svv - sv * sv / m) * 1e4)::BIGINT AS ssw_s FROM grp),
        |msw AS (SELECT count(*)::BIGINT AS k, sum(m)::BIGINT AS n,
        |    sum(ssw_s)::BIGINT AS ssw_s FROM g2),
        |mw AS (SELECT (ssw_s::DOUBLE / 1e4) / (n - k)::DOUBLE AS msw FROM msw),
        |$tukeyCritSql,
        |pr AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    a.m AS ma, b.m AS mb, a.sv AS sva, b.sv AS svb
        |  FROM g2 a JOIN g2 b ON a.event_type < b.event_type)
        |SELECT ta, tb, ma AS n_a, mb AS n_b,
        |  round(abs(sva / ma - svb / mb), 6) AS mean_diff,
        |  round(qcrit * sqrt(msw / 2.0E0 * (1.0E0 / ma + 1.0E0 / mb)), 6) AS hsd,
        |  round(qcrit, 6) AS q_crit,
        |  CASE WHEN abs(sva / ma - svb / mb)
        |       > qcrit * sqrt(msw / 2.0E0 * (1.0E0 / ma + 1.0E0 / mb))
        |       THEN 1 ELSE 0 END AS significant
        |FROM pr, mw, tcrit""".stripMargin,

    "q_levene" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |$leveneCritSql,
         |rk AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value, ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM hourly),
         |med AS (SELECT event_type, sum(value) / count(*) AS med
         |  FROM rk WHERE rn = (nn + 1) // 2 OR rn = (nn + 2) // 2 GROUP BY 1),
         |z AS (SELECT h.event_type, abs(h.value - m.med) AS z
         |      FROM hourly h JOIN med m USING (event_type)),
         |grp AS (SELECT event_type, count(*)::BIGINT AS m,
         |    round(sum(z), 4) AS sv, round(sum(z * z), 2) AS svv
         |  FROM z GROUP BY 1),
         |g2 AS (SELECT *,
         |    round((svv - sv * sv / m) * 1e4)::BIGINT AS ssw_s,
         |    round(sv * sv / m * 1e4)::BIGINT AS ssb_term_s,
         |    round(sv * 1e4)::BIGINT AS sv_s
         |  FROM grp),
         |agg AS (SELECT count(*)::BIGINT AS k, sum(m)::BIGINT AS n,
         |    sum(ssw_s)::BIGINT AS ssw_s, sum(ssb_term_s)::BIGINT AS ssb_s,
         |    sum(sv_s)::BIGINT AS gs_s FROM g2),
         |st AS (SELECT k, n, ssw_s::DOUBLE / 1e4 AS ssw,
         |    ssb_s::DOUBLE / 1e4
         |      - (gs_s::DOUBLE / 1e4) * (gs_s::DOUBLE / 1e4) / n::DOUBLE AS ssb
         |  FROM agg),
         |ww AS (SELECT k, n,
         |    (ssb / (k - 1)::DOUBLE) / (ssw / (n - k)::DOUBLE) AS w_stat FROM st)
         |SELECT k, n, round(w_stat, 6) AS w_stat, fcrit AS f_crit,
         |  CASE WHEN w_stat > fcrit THEN 1 ELSE 0 END AS heteroscedastic
         |FROM ww, fcrit""".stripMargin,

    "q_chow_test" -> {
      val sseP = sseSql("m", "st", "stt", "sy", "sty", "syy")
      val sse1 = sseSql("m1", "st1", "stt1", "sy1", "sty1", "syy1")
      val sse2 = sseSql("m2", "st2", "stt2", "sy2", "sty2", "syy2")
      s"""WITH hourly AS ($H),
         |base AS (SELECT event_type, n AS y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nt
         |  FROM hourly),
         |mom AS (SELECT event_type,
         |    sum(CASE WHEN rn <= nt // 2 THEN 1 ELSE 0 END)::BIGINT AS m1,
         |    sum(CASE WHEN rn <= nt // 2 THEN rn ELSE 0 END)::BIGINT AS st1,
         |    sum(CASE WHEN rn <= nt // 2 THEN rn * rn ELSE 0 END)::BIGINT AS stt1,
         |    sum(CASE WHEN rn <= nt // 2 THEN y ELSE 0 END)::BIGINT AS sy1,
         |    sum(CASE WHEN rn <= nt // 2 THEN rn * y ELSE 0 END)::BIGINT AS sty1,
         |    sum(CASE WHEN rn <= nt // 2 THEN y * y ELSE 0 END)::BIGINT AS syy1,
         |    sum(CASE WHEN rn > nt // 2 THEN 1 ELSE 0 END)::BIGINT AS m2,
         |    sum(CASE WHEN rn > nt // 2 THEN rn ELSE 0 END)::BIGINT AS st2,
         |    sum(CASE WHEN rn > nt // 2 THEN rn * rn ELSE 0 END)::BIGINT AS stt2,
         |    sum(CASE WHEN rn > nt // 2 THEN y ELSE 0 END)::BIGINT AS sy2,
         |    sum(CASE WHEN rn > nt // 2 THEN rn * y ELSE 0 END)::BIGINT AS sty2,
         |    sum(CASE WHEN rn > nt // 2 THEN y * y ELSE 0 END)::BIGINT AS syy2
         |  FROM base GROUP BY 1),
         |tot AS (SELECT *, (m1 + m2) AS m, (st1 + st2) AS st, (stt1 + stt2) AS stt,
         |    (sy1 + sy2) AS sy, (sty1 + sty2) AS sty, (syy1 + syy2) AS syy
         |  FROM mom WHERE m1 + m2 >= 8),
         |f AS (SELECT event_type, m, $sseP AS sse_p, ($sse1 + $sse2) AS sse_s FROM tot)
         |SELECT event_type, m::BIGINT AS n_obs,
         |  round(sse_p, 6) AS sse_pooled, round(sse_s, 6) AS sse_split,
         |  round(((sse_p - sse_s) / 2.0E0) / (sse_s / (m - 4)::DOUBLE), 6) AS fstat,
         |  (((sse_p - sse_s) / 2.0E0) / (sse_s / (m - 4)::DOUBLE)) > $ChowCrit AS break_flag
         |FROM f""".stripMargin
    },

    "q_quandt_andrews" -> {
      val sseP = sseSql("nt", "stn", "sttn", "sy", "sty", "syy")
      val sse1 = sseSql("rn", "st1", "stt1", "py", "pty", "pyy")
      val sse2 = sseSql("m2", "st2", "stt2", "qy", "qty", "qyy")
      s"""WITH hourly AS ($H),
         |b0 AS (SELECT event_type, ts, n AS y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nt
         |  FROM hourly),
         |base AS (SELECT *,
         |    sum(y) OVER w AS py,
         |    sum(rn * y) OVER w AS pty,
         |    sum(y * y) OVER w AS pyy,
         |    sum(y) OVER wa AS sy,
         |    sum(rn * y) OVER wa AS sty,
         |    sum(y * y) OVER wa AS syy
         |  FROM b0
         |  WINDOW w AS (PARTITION BY event_type ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wa AS (PARTITION BY event_type)),
         |cand AS (SELECT *,
         |    rn * (rn + 1) // 2 AS st1,
         |    rn * (rn + 1) * (2 * rn + 1) // 6 AS stt1,
         |    nt * (nt + 1) // 2 AS stn,
         |    nt * (nt + 1) * (2 * nt + 1) // 6 AS sttn,
         |    (nt - rn) AS m2,
         |    nt * (nt + 1) // 2 - rn * (rn + 1) // 2 AS st2,
         |    nt * (nt + 1) * (2 * nt + 1) // 6 - rn * (rn + 1) * (2 * rn + 1) // 6 AS stt2,
         |    (sy - py) AS qy, (sty - pty) AS qty, (syy - pyy) AS qyy
         |  FROM base
         |  WHERE nt >= 20 AND rn >= greatest(3, nt * 15 // 100)
         |    AND rn <= least(nt - 3, nt * 85 // 100)),
         |f AS (SELECT event_type, ts, rn, nt,
         |    (($sseP - $sse1 - $sse2) / 2.0E0) / (($sse1 + $sse2) / (nt - 4)::DOUBLE) AS f
         |  FROM cand),
         |pick AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY f DESC, rn) AS rk
         |    FROM f) WHERE rk = 1)
         |SELECT event_type, nt::BIGINT AS n_obs, rn::BIGINT AS break_rn,
         |  (epoch_us(ts) // 1000000)::BIGINT AS break_ts_s,
         |  round(f, 6) AS sup_f, f > $AndrewsCrit AS break_flag
         |FROM pick""".stripMargin
    },

    "q_anova" ->
      s"""WITH grp AS (SELECT event_type, count(*)::BIGINT AS m,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
         |  FROM events GROUP BY 1),
         |terms AS (SELECT m,
         |    round((svv - sv * sv / m) * 1e4)::BIGINT AS ssw_s,
         |    round(sv * sv / m * 1e4)::BIGINT AS ssb_term_s,
         |    round(sv * 1e4)::BIGINT AS sv_s
         |  FROM grp),
         |red AS (SELECT count(*)::BIGINT AS k, sum(m)::BIGINT AS n,
         |    sum(ssw_s)::BIGINT AS ssw_s, sum(ssb_term_s)::BIGINT AS ssb_s,
         |    sum(sv_s)::BIGINT AS gs_s
         |  FROM terms),
         |fin AS (SELECT k, n,
         |    ssw_s::DOUBLE / 1e4 AS ssw,
         |    ssb_s::DOUBLE / 1e4 - (gs_s::DOUBLE / 1e4) * (gs_s::DOUBLE / 1e4) / n::DOUBLE AS ssb
         |  FROM red)
         |SELECT k, n, round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
         |  round((ssb / (k - 1)::DOUBLE) / (ssw / (n - k)::DOUBLE), 6) AS fstat,
         |  round(ssb / (ssb + ssw), 6) AS eta_sq
         |FROM fin""".stripMargin,

    "q_poisson_rate" ->
      s"""WITH cut AS (SELECT make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2) AS cut
         |  FROM events),
         |c AS (SELECT event_type,
         |    sum(CASE WHEN ts < cut THEN 1 ELSE 0 END)::BIGINT AS c1,
         |    sum(CASE WHEN ts >= cut THEN 1 ELSE 0 END)::BIGINT AS c2
         |  FROM events CROSS JOIN cut GROUP BY 1)
         |SELECT event_type, c1, c2,
         |  round(c2::DOUBLE / c1::DOUBLE, 6) AS rate_ratio,
         |  round((sqrt(c2::DOUBLE) - sqrt(c1::DOUBLE)) * sqrt(2.0E0), 6) AS z_vst,
         |  abs((sqrt(c2::DOUBLE) - sqrt(c1::DOUBLE)) * sqrt(2.0E0)) > 3.0E0 AS rate_shift
         |FROM c WHERE c1 > 0""".stripMargin,

    "q_ewma_chart" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn
         |  FROM hourly),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
         |  FROM hourly GROUP BY 1),
         |ms AS (SELECT event_type, n, sv / n AS mu,
         |    sqrt((svv - sv * sv / n) / (n - 1)) AS sd
         |  FROM mom WHERE n >= 2),
         |rec AS (
         |  SELECT event_type, n, mu, sd, 0 AS i, mu AS z, 1.0E0 AS w,
         |         0.0E0 AS lim, 0::BIGINT AS ooc, 0::BIGINT AS first
         |  FROM ms
         |  UNION ALL
         |  SELECT r.event_type, r.n, r.mu, r.sd, r.i + 1,
         |    ${Lam}E0 * o.value + ${1.0 - Lam}E0 * r.z,
         |    r.w * ${(1.0 - Lam) * (1.0 - Lam)}E0,
         |    ${Lw}E0 * r.sd * sqrt(${Lam}E0 / (2.0E0 - ${Lam}E0) * (1.0E0 - r.w * ${(1.0 - Lam) * (1.0 - Lam)}E0)),
         |    r.ooc + CASE WHEN abs(${Lam}E0 * o.value + ${1.0 - Lam}E0 * r.z - r.mu) >
         |        ${Lw}E0 * r.sd * sqrt(${Lam}E0 / (2.0E0 - ${Lam}E0) * (1.0E0 - r.w * ${(1.0 - Lam) * (1.0 - Lam)}E0))
         |      THEN 1 ELSE 0 END,
         |    CASE WHEN r.first = 0 AND abs(${Lam}E0 * o.value + ${1.0 - Lam}E0 * r.z - r.mu) >
         |        ${Lw}E0 * r.sd * sqrt(${Lam}E0 / (2.0E0 - ${Lam}E0) * (1.0E0 - r.w * ${(1.0 - Lam) * (1.0 - Lam)}E0))
         |      THEN r.i + 1 ELSE r.first END
         |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.i + 1
         |  WHERE r.i + 1 <= r.n)
         |SELECT event_type, n AS n_obs, round(z, 6) AS ewma_final,
         |  round(lim, 6) AS limit_final, ooc::BIGINT AS n_ooc, first::BIGINT AS first_ooc
         |FROM rec WHERE i = n""".stripMargin
  )
}
