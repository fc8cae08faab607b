package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Temporal-scan + correlation-structure battery over the hourly panel:
  *
  *  - `q_scan_stat` — Kulldorff temporal scan (Poisson LLR): the
  *    highest-scoring contiguous window of {6,12,24,48} hours per
  *    series, LLR = c·ln(c/E) + (N−c)·ln((N−c)/(N−E)) for c > E — WHERE
  *    an anomaly lives, not just whether (the localization complement
  *    to q_anomaly_window). Counts are integers, E a ratio of integers,
  *    so both engines derive identical doubles; candidates are sliding
  *    ROWS frames over the dense grid — one window pass per length,
  *    argmax by (llr desc, start asc, len asc).
  *  - `q_record_stats` — record-breaking test: count of strict running
  *    maxima vs the exchangeability expectation H_n (E[R] = Σ1/k,
  *    Var[R] = Σ(1/k − 1/k²)) — a distribution-free trend test next to
  *    q_mann_kendall.
  *  - `q_mahalanobis` — bivariate Mahalanobis outlier hours per series:
  *    D² of the hourly (value, count) pair under the series' own 2×2
  *    covariance (Cramer inverse, the q_cusum_multi machinery) — hours
  *    where value and volume are JOINTLY inconsistent even when each is
  *    individually in range (the multivariate complement to
  *    q_outlier_zscore). Flag at the χ²₂(0.999) quantile 13.815511
  *    (identical decimal literal in both engines); covariance from
  *    snapped moments, D² a closed-form ratio — no matrix op at scale,
  *    one broadcast of the 5-row moment table.
  *  - `q_ess` — autocorrelation-adjusted effective sample size:
  *    ESS = n/(1 + 2Σ_{k≤24} ρ_k) — how many independent observations
  *    an experiment on this series actually has (the q_cuped
  *    companion); autocovariances 4-dp-snapped, 24 lag columns in one
  *    window pass.
  */
object ScanQueries {

  private val H = Tables.hourlySql

  /** Scan-window candidate lengths (hours). */
  private val Lens = Seq(6, 12, 24, 48)

  /** ESS autocorrelation horizon. */
  private val K = 24

  /** Lanczos Γ(z) for z in (0.5, 1.5) (g = 7, 9 coefficients) as an
    * engine-shared SQL fragment — every literal E-notation so Spark's
    * expr() never falls into DECIMAL arithmetic. */
  private def gammaSql(z: String): String = {
    val cs = Seq(
      "676.5203681218851E0", "-1259.1392167224028E0", "771.32342877765313E0",
      "-176.61502916214059E0", "12.507343278686905E0", "-0.13857109526572012E0",
      "9.9843695780195716E-6", "1.5056327351493116E-7")
    val a = "0.99999999999980993E0" +
      cs.zipWithIndex.map { case (c, i) => s" + ($c) / (($z) + $i)" }.mkString
    s"(sqrt(2.0E0 * pi()) * exp((($z) - 0.5E0) * ln(($z) + 6.5E0)) * exp(-(($z) + 6.5E0)) * ($a))"
  }

  /** The shared GEV chain (L-moments → Hosking (κ, σ, μ) → return
    * levels), spliced verbatim into both engines. */
  private val GevExprs: Seq[(String, String)] = Seq(
    "b0" -> "s0 / n",
    "b1" -> "s1 / (n * (n - 1))",
    "b2" -> "s2 / (n * (n - 1) * (n - 2))",
    "l2" -> "2.0E0 * b1 - b0",
    "t3" -> "(6.0E0 * b2 - 6.0E0 * b1 + b0) / l2",
    "c" -> "2.0E0 / (3.0E0 + t3) - ln(2.0E0) / ln(3.0E0)",
    "kappa" -> "7.8590E0 * c + 2.9554E0 * c * c",
    "g" -> gammaSql("1.0E0 + kappa"),
    "sigma" -> "l2 * kappa / (g * (1.0E0 - exp(-kappa * ln(2.0E0))))",
    "mu" -> "b0 - sigma * (1.0E0 - g) / kappa",
    "rl30" -> rlExpr(30),
    "rl90" -> rlExpr(90),
    "rl365" -> rlExpr(365))

  private def rlExpr(t: Int): String =
    s"mu + sigma * (1.0E0 - exp(kappa * ln(-ln(1.0E0 - 1.0E0 / $t.0E0)))) / kappa"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_scan_stat" -> ((s, dir) => {
      // dense hourly COUNT grid (zeros where no events): contiguity of
      // the scan windows must not skip gap hours
      val S = graft.TSSchema(keys = Seq("event_type"), value = "n")
      val dense = graft.TS.fillGaps(
        Tables.hourlyEvents(s, dir).drop("value").withColumn("n", col("n").cast("double")),
        S, 3600L, Some(0.0))
        .withColumn("c1", col("n").cast("long"))
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wAll = Window.partitionBy("event_type")
      val base = dense
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", sum("c1").over(wAll))
        .withColumn("tt", count(lit(1)).over(wAll))
      val cands = Lens.map { l =>
        val win = Window.partitionBy("event_type").orderBy("ts").rowsBetween(-(l - 1), 0)
        base
          .withColumn("len", lit(l))
          .withColumn("c", sum("c1").over(win))
          .where(col("rn") >= l)
          .withColumn("e", col("nn").cast("double") * l / col("tt"))
          .withColumn("llr",
            when(col("c").cast("double") <= col("e"), lit(0.0))
              .when(col("c") === col("nn"),
                col("c") * log(col("c").cast("double") / col("e")))
              .otherwise(col("c") * log(col("c").cast("double") / col("e")) +
                (col("nn") - col("c")) * log((col("nn") - col("c")).cast("double") /
                  (col("nn").cast("double") - col("e")))))
          .select(col("event_type"), col("ts"), col("len"), col("c"), col("e"), col("llr"))
      }.reduce(_ unionAll _)
      val wPick = Window.partitionBy("event_type")
        .orderBy(col("llr").desc, col("ts"), col("len"))
      cands.withColumn("rk", row_number().over(wPick)).where(col("rk") === 1)
        .select(col("event_type"),
          (unix_timestamp(col("ts")) - (col("len") - 1) * 3600L).as("window_start_s"),
          col("len").as("window_h"), col("c").as("c_window"),
          round(col("e"), 6).as("expected"), round(col("llr"), 6).as("llr"))
    }),

    // MOSUM change detector (moving-sum; Chu, Hornik & Kuan 1995): the
    // windowed complement to CUSUM's cumulative drift — M_t =
    // (Σ_{t−23..t} v − 24μ)/(σ√24) against the global snapped baseline,
    // |M| > 3 flags a local level shift without CUSUM's reset heuristics.
    // One series-keyed sliding frame; baseline from snapped moment sums.
    "q_mosum" -> ((s, dir) => {
      val hourly = Tables.hourlyEvents(s, dir).drop("n")
      val mom = hourly.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"))
        .withColumn("mu", expr("sv / n"))
        .withColumn("sd", expr("sqrt((svv - sv * sv / n) / (n - 1))"))
        .select("event_type", "mu", "sd")
      val hWin = 24
      val win = Window.partitionBy("event_type").orderBy("ts").rowsBetween(-(hWin - 1), 0)
      val w = Window.partitionBy("event_type").orderBy("ts")
      hourly.join(broadcast(mom), "event_type")
        .withColumn("rn", row_number().over(w))
        .withColumn("ws", sum("value").over(win))
        .where(col("rn") >= hWin)
        .withColumn("m", expr(s"(ws - $hWin * mu) / (sd * sqrt(${hWin}E0))"))
        .where(abs(col("m")) > 3.0)
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
          round(col("ws"), 6).as("window_sum"), round(col("m"), 6).as("mosum"))
    }),

    "q_record_stats" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("pmax", max("value").over(w))
        .withColumn("rec", when(col("pmax").isNull || col("value") > col("pmax"), 1L).otherwise(0L))
      val agg = base.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("rec").as("n_records"))
      // E[R] = H_n, Var[R] = H_n − H_n^(2): harmonic sums of O(1) terms
      val hFn = udf { n: Long =>
        var h = 0.0; var h2 = 0.0; var k = 1L
        while (k <= n) { h += 1.0 / k; h2 += 1.0 / (k.toDouble * k); k += 1 }
        (h, h - h2)
      }
      agg.withColumn("_h", hFn(col("n")))
        .select(col("event_type"), col("n").as("n_obs"), col("n_records"),
          round(col("_h._1"), 6).as("expected"),
          round((col("n_records") - col("_h._1")) / sqrt(col("_h._2")), 6).as("z"))
        .withColumn("trending", when(col("z") >= 1.96, 1).otherwise(0))
    }),

    // Permutation entropy (Bandt & Pompe 2002): ordinal-pattern
    // complexity over order-3 windows — a noise-robust "how predictable
    // is this series" measure next to q_feat_entropy's spectral form.
    // Patterns are pure comparisons (no float arithmetic), counts are
    // integers, so both engines derive identical entropies.
    "q_perm_entropy" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val pat = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("l1", lag("value", 1).over(w))
        .withColumn("l2", lag("value", 2).over(w))
        .where(col("l2").isNotNull)
        .withColumn("code",
          when(col("l2") <= col("l1"), 4).otherwise(0) +
            when(col("l1") <= col("value"), 2).otherwise(0) +
            when(col("l2") <= col("value"), 1).otherwise(0))
      val cnt = pat.groupBy("event_type", "code").agg(count(lit(1)).as("c"))
      val wp = Window.partitionBy("event_type")
      cnt
        .withColumn("n", sum("c").over(wp))
        .withColumn("term", (col("c").cast("double") / col("n")) *
          log(col("n").cast("double") / col("c")))
        .groupBy("event_type").agg(
          first("n").as("n_windows"),
          count(lit(1)).as("n_patterns"),
          round(sum("term"), 6).as("h"))
        .withColumn("h_norm", round(col("h") / log(lit(6.0)), 6))
        .withColumn("low_complexity", when(col("h_norm") < 0.6, 1).otherwise(0))
    }),

    // Turning-points randomness test: local extrema count vs the iid
    // expectation 2(n−2)/3 with Var = (16n−29)/90 — a third
    // distribution-free trend/structure screen next to q_record_stats
    // and q_runs_test. Strict comparisons, integer counts.
    "q_turning_points" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val base = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("pv", lag("value", 1).over(w))
        .withColumn("nx", lead("value", 1).over(w))
        .where(col("pv").isNotNull && col("nx").isNotNull)
        .withColumn("tp",
          when((col("value") > col("pv") && col("value") > col("nx")) ||
            (col("value") < col("pv") && col("value") < col("nx")), 1L).otherwise(0L))
      base.groupBy("event_type").agg(
        (count(lit(1)) + 2).as("n"), sum("tp").as("n_turning"))
        .withColumn("expected", expr("2.0E0 * (n - 2) / 3.0E0"))
        .withColumn("z", expr("(n_turning - expected) / sqrt((16.0E0 * n - 29.0E0) / 90.0E0)"))
        .select(col("event_type"), col("n").as("n_obs"), col("n_turning"),
          round(col("expected"), 6).as("expected"), round(col("z"), 6).as("z"),
          when(abs(col("z")) >= 1.96, 1).otherwise(0).as("non_random"))
    }),

    "q_mahalanobis" -> ((s, dir) => {
      val hourly = Tables.hourlyEvents(s, dir)
      val mom = hourly.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"),
        sum("n").as("sc"),
        sum(col("n") * col("n")).as("scc"),
        round(sum(col("value") * col("n")), 2).as("svc"))
        .where(col("n") >= 3)
        .withColumn("mv", col("sv") / col("n").cast("double"))
        .withColumn("mc", col("sc").cast("double") / col("n").cast("double"))
        .withColumn("a", (col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - lit(1L)).cast("double"))
        .withColumn("dd", (col("scc").cast("double") - col("sc").cast("double") * col("sc").cast("double") / col("n")) / (col("n") - lit(1L)).cast("double"))
        .withColumn("b", (col("svc") - col("sv") * col("sc").cast("double") / col("n")) / (col("n") - lit(1L)).cast("double"))
        .withColumn("det", col("a") * col("dd") - col("b") * col("b"))
        .where(col("det") > 0)
        .select("event_type", "mv", "mc", "a", "dd", "b", "det")
      hourly.join(broadcast(mom), "event_type")
        .withColumn("ev", col("value") - col("mv"))
        .withColumn("ec", col("n").cast("double") - col("mc"))
        .withColumn("d2",
          (col("dd") * col("ev") * col("ev") - lit(2.0) * col("b") * col("ev") * col("ec") +
            col("a") * col("ec") * col("ec")) / col("det"))
        .where(col("d2") > lit(13.815511))
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
          col("value"), col("n").as("n_events"), round(col("d2"), 6).as("d2"))
    }),

    // Detrended fluctuation analysis (Peng et al. 1994): long-range
    // correlation exponent α from the RMS fluctuation of the OLS-detrended
    // cumulative profile over box sizes {8,16,32,64} — the
    // nonstationarity-robust Hurst complement to q_feat_hurst's R/S.
    // The profile is a sequential cumulative sum (identical IEEE order
    // both engines), per-box time moments are integer literals in s,
    // per-box Y-moments 4/2-dp-snapped, SSE by the normal-equations
    // identity; the log-log fit runs on a 4-row frame. One window pass
    // + one (series, s, box) aggregation.
    "q_dfa" -> ((s, dir) => {
      val dense0 = Tables.denseHourly(s, dir)
      val wp = Window.partitionBy("event_type")
      val wo = Window.partitionBy("event_type").orderBy("ts")
      val prof = dense0
        .withColumn("mu", (round(sum("value").over(wp), 4) / count(lit(1)).over(wp)))
        .withColumn("yy", sum(col("value") - col("mu")).over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(wo))
      val sizes = Seq(8, 16, 32, 64)
      val boxes = sizes.map { sz =>
        prof.select(col("event_type"), lit(sz).as("s"),
          expr(s"(rn - 1) DIV $sz").as("box"),
          (((col("rn") - 1) % sz) + 1).as("t"), col("yy"))
      }.reduce(_ unionAll _)
      val perBox = boxes.groupBy("event_type", "s", "box").agg(
        count(lit(1)).as("cnt"),
        round(sum("yy"), 4).as("sy"),
        round(sum(col("t") * col("yy")), 2).as("sty"),
        round(sum(col("yy") * col("yy")), 2).as("syy"))
        .where(col("cnt") === col("s"))
        .withColumn("st", expr("(s * (s + 1)) DIV 2"))
        .withColumn("stt", expr("(s * (s + 1) * (2 * s + 1)) DIV 6"))
        .withColumn("sxx", expr("CAST(stt AS DOUBLE) - (CAST(st AS DOUBLE) * st) / s"))
        .withColumn("sxy", expr("sty - (CAST(st AS DOUBLE) * sy) / s"))
        .withColumn("b", expr("sxy / sxx"))
        .withColumn("a", expr("(sy - b * st) / s"))
        .withColumn("sse", expr("syy - a * sy - b * sty"))
      val fl = perBox.groupBy("event_type", "s").agg(
        count(lit(1)).as("n_boxes"),
        round(sum("sse"), 4).as("ssse"))
        .withColumn("fs", expr("sqrt(ssse / (n_boxes * s))"))
        .withColumn("lx", log(col("s").cast("double")))
        .withColumn("ly", log(col("fs")))
      val wAll = Window.partitionBy("event_type")
      fl
        .withColumn("np", count(lit(1)).over(wAll).cast("double"))
        .withColumn("sx", round(sum("lx").over(wAll), 6))
        .withColumn("sy2", round(sum("ly").over(wAll), 6))
        .withColumn("sxx2", round(sum(col("lx") * col("lx")).over(wAll), 6))
        .withColumn("sxy2", round(sum(col("lx") * col("ly")).over(wAll), 6))
        .withColumn("alpha", expr("(np * sxy2 - sx * sy2) / (np * sxx2 - sx * sx)"))
        .select(col("event_type"), col("s").cast("int").as("box_size"),
          col("n_boxes"), round(col("fs"), 6).as("fluctuation"),
          round(col("alpha"), 6).as("dfa_alpha"))
    }),

    // Sample entropy (Richman & Moorman 2000): −ln(A/B) with B = m=2
    // template matches and A = m=3 matches under Chebyshev tolerance
    // r = 0.2σ — the complexity measure that, unlike q_perm_entropy's
    // ordinal patterns, sees amplitude. All matches are integer counts
    // of snapped-value comparisons from ONE O(n²) key-equality self-join
    // per series (n = dense grid, time-span-bounded).
    "q_sampen" -> ((s, dir) => {
      val mom = Tables.denseHourly(s, dir).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"))
        .withColumn("r", round(
          expr("0.2E0 * sqrt((svv - sv * sv / n) / (n - 1))"), 6))
        .select("event_type", "n", "r")
      // Per-series kernel (r12, the q_kendall treatment): the old shape
      // self-joined the template rows per series — Θ(#series·L²) joined
      // rows, 12.9 G at the 50 000-series decade (measured exp 1.8,
      // 924 s). The template-match counts are exact integers over the
      // same doubles, so one bounded kernel row per series (518 k
      // comparisons each) replaces the join; r still comes from the
      // snapped distributed moments, and the oracle is unchanged.
      val sampenCounts = udf { (xs: Seq[Double], r: Double) =>
        val a = xs.toArray
        val n = a.length
        var bc = 0L; var ac = 0L
        var i = 0
        while (i < n - 1) {
          var j = i + 1
          while (j < n - 1) {
            if (math.abs(a(i) - a(j)) <= r && math.abs(a(i + 1) - a(j + 1)) <= r) {
              bc += 1
              if (i < n - 2 && j < n - 2 && math.abs(a(i + 2) - a(j + 2)) <= r) ac += 1
            }
            j += 1
          }
          i += 1
        }
        Seq(bc, ac)
      }
      graft.SeriesOps.collect(Tables.denseHourly(s, dir), graft.TSSchema(keys = Seq("event_type")))
        .join(broadcast(mom), "event_type")
        .withColumn("c", sampenCounts(col("xs"), col("r")))
        .select(col("event_type"), col("n"), col("r"),
          col("c")(0).as("b_cnt"), col("c")(1).as("a_cnt"))
        .select(col("event_type"), col("n").as("n_obs"), col("r").as("tolerance"),
          col("b_cnt"), col("a_cnt"),
          when(col("a_cnt") > 0,
            round(-log(col("a_cnt").cast("double") / col("b_cnt").cast("double")), 6))
            .as("sampen"))
    }),

    // GEV block-maxima return levels via L-moments (Hosking, Wallis &
    // Wood 1985): daily maxima per series, probability-weighted moments
    // from exact integer rank weights (2-dp-snapped weighted sums),
    // Hosking's closed-form (κ, σ, μ) with Γ(1+κ) as a shared Lanczos
    // fragment, and the 30/90/365-day return levels — "what hourly load
    // arrives once a quarter", the block-maxima complement to
    // q_gpd_tail's peaks-over-threshold view. One daily-max aggregate +
    // a #series-row closed-form frame.
    "q_gev_return" -> ((s, dir) => {
      val daily = Tables.hourlyEvents(s, dir).drop("n")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(max("value").as("x"))
      val w = Window.partitionBy("event_type").orderBy(col("x"), col("d"))
      var mom = daily.withColumn("r", row_number().over(w))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          round(sum("x"), 4).as("s0"),
          round(sum((col("r") - 1) * col("x")), 2).as("s1"),
          round(sum((col("r") - 1) * (col("r") - 2) * col("x")), 2).as("s2"))
      GevExprs.foreach { case (nm, e) => mom = mom.withColumn(nm, expr(e)) }
      mom.select(col("event_type"), col("n").as("n_blocks"),
        round(col("kappa"), 6).as("kappa"), round(col("sigma"), 6).as("sigma"),
        round(col("mu"), 6).as("mu"),
        round(col("rl30"), 6).as("rl_30d"), round(col("rl90"), 6).as("rl_90d"),
        round(col("rl365"), 6).as("rl_365d"))
    }),

    // Lomb-Scargle periodogram (Lomb 1976; Scargle 1982) on the RAW
    // (gappy) hourly grid — the periodicity scan that does NOT need the
    // zero-filled dense grid q_seasonality_fft works on: missing hours
    // simply contribute no terms, which is exactly the unevenly-sampled
    // case LS was built for. Candidate periods {6,12,24,48,168}h; the
    // tau phase correction and all four projection moments are
    // 4-dp-snapped sums (trig rows are engine-ulp-sensitive), so the
    // normalized power and the per-series peak argmax are identical
    // doubles. Shape: one 5-row period broadcast, two aggregation
    // passes, 25-row tau/stat broadcasts — scales with the grid, never
    // the corpus.
    "q_lomb_scargle" -> ((s, dir) => {
      import s.implicits._
      val periods = Seq(6.0, 12.0, 24.0, 48.0, 168.0).toDF("p")
      val stats = Tables.hourlyEvents(s, dir).drop("n").groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"))
        .withColumn("mu", expr("sv / n"))
        .withColumn("vr", expr("(svv - sv * sv / n) / (n - 1)"))
        .select("event_type", "n", "mu", "vr")
      val base = graft.Scratch.materialize(
        Tables.hourlyEvents(s, dir).drop("n")
          .withColumn("t0", min(unix_timestamp(col("ts")))
            .over(Window.partitionBy("event_type")))
          .withColumn("tt", ((unix_timestamp(col("ts")) - col("t0")) / lit(3600L)).cast("double"))
          .select("event_type", "tt", "value"),
        "ls_base")
      val bp = base.crossJoin(broadcast(periods))
        .withColumn("w", expr("2.0E0 * pi() / p"))
      val tau = bp.groupBy("event_type", "p").agg(
        round(sum(expr("sin(2.0E0 * w * tt)")), 4).as("s2"),
        round(sum(expr("cos(2.0E0 * w * tt)")), 4).as("c2"))
        .withColumn("w", expr("2.0E0 * pi() / p"))
        .withColumn("tau", expr("round(atan2(s2, c2) / (2.0E0 * w), 6)"))
        .select("event_type", "p", "tau")
      val mom = bp
        .join(broadcast(tau), Seq("event_type", "p"))
        .join(broadcast(stats), "event_type")
        .withColumn("ph", expr("w * (tt - tau)"))
        .groupBy("event_type", "p").agg(
          first("n").as("n"), first("vr").as("vr"),
          round(sum(expr("(value - mu) * cos(ph)")), 4).as("cc"),
          round(sum(expr("(value - mu) * sin(ph)")), 4).as("ss"),
          round(sum(expr("cos(ph) * cos(ph)")), 4).as("cd"),
          round(sum(expr("sin(ph) * sin(ph)")), 4).as("sd"))
        .withColumn("power", expr("(cc * cc / cd + ss * ss / sd) / (2.0E0 * vr)"))
      val wPk = Window.partitionBy("event_type").orderBy(col("power").desc, col("p"))
      mom.withColumn("rk", row_number().over(wPk))
        .select(col("event_type"), col("p").cast("int").as("period_h"),
          col("n").as("n_obs"), round(col("power"), 6).as("power"),
          when(col("rk") === 1, 1).otherwise(0).as("is_peak"))
    }),

    // ── Empirical VaR(95) + CVaR/expected shortfall per series: the
    // 95th-percentile hourly load and the MEAN of everything above it —
    // the coherent tail-risk number capacity planning actually needs
    // (VaR says where the tail starts, CVaR says how bad it is inside).
    // Threshold = exact integer-rank order statistic; the shortfall mean
    // is a snapped sum over the deterministic exceedance set; empirical
    // twin of q_gev_return's parametric return levels. ──
    "q_cvar" -> ((s, dir) => {
      val wv = Window.partitionBy("event_type").orderBy(col("value"), col("ts"))
      val wp = Window.partitionBy("event_type")
      val rk = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("rn", row_number().over(wv))
        .withColumn("nn", count(lit(1)).over(wp))
      val thr = rk.where(col("rn") * 20 > col("nn") * 19)
        .groupBy("event_type").agg(
          min("value").as("var95"),
          count(lit(1)).as("n_tail"),
          round(sum("value"), 4).as("stail"))
      rk.groupBy("event_type").agg(max("nn").as("n"))
        .join(broadcast(thr), "event_type")
        .select(col("event_type"), col("n").as("n_obs"), col("n_tail"),
          round(col("var95"), 6).as("var_95"),
          round(col("stail") / col("n_tail").cast("double"), 6).as("cvar_95"),
          round((col("stail") / col("n_tail").cast("double")) / col("var95"), 6)
            .as("tail_severity"))
    }),

    "q_ess" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wp = Window.partitionBy("event_type")
      var df = Tables.hourlyEvents(s, dir).drop("n")
        .withColumn("m", round(avg("value").over(wp), 6))
        .withColumn("e", col("value") - col("m"))
      (1 to K).foreach { k => df = df.withColumn(s"l$k", lag("e", k).over(w)) }
      val covs = col("event_type") +: count(lit(1)).as("n") +:
        round(sum(col("e") * col("e")), 4).as("c0") +:
        (1 to K).map(k => round(sum(col("e") * col(s"l$k")), 4).as(s"c$k"))
      val mom = df.groupBy("event_type").agg(covs.tail.head, covs.drop(2): _*)
      val sumRho = (1 to K).map(k => col(s"c$k") / col("c0")).reduce(_ + _)
      mom
        .withColumn("sum_rho", sumRho)
        .withColumn("ess", col("n") / (lit(1.0) + lit(2.0) * col("sum_rho")))
        .select(col("event_type"), col("n").as("n_obs"),
          round(col("c1") / col("c0"), 6).as("rho1"),
          round(col("sum_rho"), 6).as("sum_rho"),
          round(col("ess"), 6).as("ess"),
          round(col("ess") / col("n"), 6).as("ess_ratio"))
    })
  )

  val sql: Map[String, String] = Map(

    "q_scan_stat" -> {
      val lensSel = Lens.map(l => s"SELECT $l AS len").mkString(" UNION ALL ")
      s"""WITH hourly0 AS (SELECT event_type, date_trunc('hour', ts) AS ts,
         |    count(*)::BIGINT AS c1 FROM events GROUP BY 1, 2),
         |hb AS (SELECT event_type, min(ts) t0, max(ts) t1 FROM hourly0 GROUP BY 1),
         |hgrid AS (SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts FROM hb),
         |dense AS (SELECT g.event_type, g.ts, coalesce(h.c1, 0) AS c1
         |          FROM hgrid g LEFT JOIN hourly0 h ON g.event_type = h.event_type AND g.ts = h.ts),
         |base AS (SELECT event_type, ts, c1,
         |    row_number() OVER w AS rn,
         |    sum(c1) OVER (PARTITION BY event_type) AS nn,
         |    count(*) OVER (PARTITION BY event_type) AS tt
         |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |lens AS ($lensSel),
         |cand AS (SELECT b.event_type, b.ts, l.len,
         |    sum(b.c1) OVER (PARTITION BY b.event_type, l.len ORDER BY b.ts
         |      ROWS BETWEEN l.len - 1 PRECEDING AND CURRENT ROW) AS c,
         |    b.rn, b.nn, b.tt
         |  FROM base b CROSS JOIN lens l),
         |sc AS (SELECT event_type, ts, len, c,
         |    nn::DOUBLE * len / tt AS e, nn
         |  FROM cand WHERE rn >= len),
         |llr AS (SELECT *,
         |    CASE WHEN c::DOUBLE <= e THEN 0.0E0
         |         WHEN c = nn THEN c * ln(c::DOUBLE / e)
         |         ELSE c * ln(c::DOUBLE / e)
         |            + (nn - c) * ln((nn - c)::DOUBLE / (nn::DOUBLE - e))
         |    END AS llr
         |  FROM sc),
         |pick AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY event_type
         |      ORDER BY llr DESC, ts, len) AS rk FROM llr) WHERE rk = 1)
         |SELECT event_type,
         |  (epoch_us(ts) // 1000000 - (len - 1) * 3600)::BIGINT AS window_start_s,
         |  len::INT AS window_h, c::BIGINT AS c_window,
         |  round(e, 6) AS expected, round(llr, 6) AS llr
         |FROM pick""".stripMargin
    },

    "q_mosum" ->
      s"""WITH hourly AS ($H),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
         |  FROM hourly GROUP BY 1),
         |ms AS (SELECT event_type, sv / n AS mu,
         |    sqrt((svv - sv * sv / n) / (n - 1)) AS sd FROM mom),
         |wn AS (SELECT h.event_type, h.ts,
         |    row_number() OVER w AS rn,
         |    sum(h.value) OVER (PARTITION BY h.event_type ORDER BY h.ts
         |      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS ws,
         |    m.mu, m.sd
         |  FROM hourly h JOIN ms m USING (event_type)
         |  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.ts)),
         |st AS (SELECT event_type, ts, ws,
         |    (ws - 24 * mu) / (sd * sqrt(24E0)) AS m
         |  FROM wn WHERE rn >= 24)
         |SELECT event_type, epoch_us(ts) // 1000000 AS ts_s,
         |  round(ws, 6) AS window_sum, round(m, 6) AS mosum
         |FROM st WHERE abs(m) > 3.0""".stripMargin,

    "q_record_stats" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |rc AS (SELECT event_type, value,
         |    max(value) OVER (PARTITION BY event_type ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM hourly),
         |agg AS (SELECT event_type, count(*)::BIGINT AS n,
         |    sum(CASE WHEN pmax IS NULL OR value > pmax THEN 1 ELSE 0 END)::BIGINT AS n_records
         |  FROM rc GROUP BY 1),
         |hrec AS (
         |  SELECT event_type, n, 1::BIGINT AS k, 1.0E0 AS h, 1.0E0 AS h2 FROM agg
         |  UNION ALL
         |  SELECT event_type, n, k + 1, h + 1.0E0 / (k + 1),
         |         h2 + 1.0E0 / ((k + 1)::DOUBLE * (k + 1))
         |  FROM hrec WHERE k < n),
         |hn AS (SELECT event_type, h, h - h2 AS v FROM hrec WHERE k = n)
         |SELECT a.event_type, a.n AS n_obs, a.n_records,
         |  round(h.h, 6) AS expected,
         |  round((a.n_records - h.h) / sqrt(h.v), 6) AS z,
         |  CASE WHEN (a.n_records - h.h) / sqrt(h.v) >= 1.96 THEN 1 ELSE 0 END AS trending
         |FROM agg a JOIN hn h USING (event_type)""".stripMargin,

    "q_perm_entropy" ->
      s"""WITH hourly AS ($H),
         |lg AS (SELECT event_type, value,
         |    lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2
         |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |pat AS (SELECT event_type,
         |    (CASE WHEN l2 <= l1 THEN 4 ELSE 0 END)
         |    + (CASE WHEN l1 <= value THEN 2 ELSE 0 END)
         |    + (CASE WHEN l2 <= value THEN 1 ELSE 0 END) AS code
         |  FROM lg WHERE l2 IS NOT NULL),
         |cnt AS (SELECT event_type, code, count(*) AS c FROM pat GROUP BY 1, 2),
         |tm AS (SELECT event_type, c,
         |    sum(c) OVER (PARTITION BY event_type) AS n
         |  FROM cnt),
         |agg AS (SELECT event_type, max(n)::BIGINT AS n_windows,
         |    count(*)::BIGINT AS n_patterns,
         |    round(sum((c::DOUBLE / n) * ln(n::DOUBLE / c)), 6) AS h
         |  FROM tm GROUP BY 1)
         |SELECT event_type, n_windows, n_patterns, h,
         |  round(h / ln(6.0E0), 6) AS h_norm,
         |  CASE WHEN h / ln(6.0E0) < 0.6 THEN 1 ELSE 0 END AS low_complexity
         |FROM agg""".stripMargin,

    "q_turning_points" ->
      s"""WITH hourly AS ($H),
         |lg AS (SELECT event_type, value,
         |    lag(value, 1) OVER w AS pv, lead(value, 1) OVER w AS nx
         |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |mid AS (SELECT event_type,
         |    CASE WHEN (value > pv AND value > nx) OR (value < pv AND value < nx)
         |         THEN 1 ELSE 0 END AS tp
         |  FROM lg WHERE pv IS NOT NULL AND nx IS NOT NULL),
         |agg AS (SELECT event_type, (count(*) + 2)::BIGINT AS n,
         |    sum(tp)::BIGINT AS n_turning FROM mid GROUP BY 1),
         |st AS (SELECT *, 2.0E0 * (n - 2) / 3.0E0 AS expected FROM agg),
         |zz AS (SELECT *,
         |    (n_turning - expected) / sqrt((16.0E0 * n - 29.0E0) / 90.0E0) AS z
         |  FROM st)
         |SELECT event_type, n AS n_obs, n_turning,
         |  round(expected, 6) AS expected, round(z, 6) AS z,
         |  CASE WHEN abs(z) >= 1.96 THEN 1 ELSE 0 END AS non_random
         |FROM zz""".stripMargin,

    "q_mahalanobis" ->
      s"""WITH hourly AS ($H),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv,
         |    sum(n)::BIGINT AS sc, sum(n * n)::BIGINT AS scc,
         |    round(sum(value * n), 2) AS svc
         |  FROM hourly GROUP BY 1),
         |cv AS (SELECT event_type, sv / n AS mv, sc::DOUBLE / n AS mc,
         |    (svv - sv * sv / n) / (n - 1) AS a,
         |    (scc::DOUBLE - sc::DOUBLE * sc::DOUBLE / n) / (n - 1) AS dd,
         |    (svc - sv * sc::DOUBLE / n) / (n - 1) AS b
         |  FROM mom WHERE n >= 3),
         |cvd AS (SELECT *, a * dd - b * b AS det FROM cv WHERE a * dd - b * b > 0),
         |sc AS (SELECT h.event_type, h.ts, h.value, h.n,
         |    (c.dd * (h.value - c.mv) * (h.value - c.mv)
         |     - 2.0E0 * c.b * (h.value - c.mv) * (h.n::DOUBLE - c.mc)
         |     + c.a * (h.n::DOUBLE - c.mc) * (h.n::DOUBLE - c.mc)) / c.det AS d2
         |  FROM hourly h JOIN cvd c USING (event_type))
         |SELECT event_type, (epoch_us(ts) // 1000000)::BIGINT AS ts_s,
         |  value, n::BIGINT AS n_events, round(d2, 6) AS d2
         |FROM sc WHERE d2 > 13.815511E0""".stripMargin,

    "q_dfa" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |mu AS (SELECT event_type, round(sum(value), 4) / count(*) AS mu FROM dense GROUP BY 1),
         |prof AS (SELECT d.event_type, d.ts,
         |    sum(d.value - m.mu) OVER (PARTITION BY d.event_type ORDER BY d.ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS yy,
         |    row_number() OVER (PARTITION BY d.event_type ORDER BY d.ts) AS rn
         |  FROM dense d JOIN mu m USING (event_type)),
         |boxes AS (SELECT p.event_type, s.s, (p.rn - 1) // s.s AS box,
         |    ((p.rn - 1) % s.s) + 1 AS t, p.yy
         |  FROM prof p CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS s) s),
         |pb AS (SELECT event_type, s, box, count(*)::BIGINT AS cnt,
         |    round(sum(yy), 4) AS sy, round(sum(t * yy), 2) AS sty,
         |    round(sum(yy * yy), 2) AS syy
         |  FROM boxes GROUP BY 1, 2, 3),
         |fit AS (SELECT *, (s * (s + 1)) // 2 AS st,
         |    (s * (s + 1) * (2 * s + 1)) // 6 AS stt
         |  FROM pb WHERE cnt = s),
         |ab AS (SELECT *,
         |    CAST(stt AS DOUBLE) - (CAST(st AS DOUBLE) * st) / s AS sxx,
         |    sty - (CAST(st AS DOUBLE) * sy) / s AS sxy
         |  FROM fit),
         |bb AS (SELECT *, sxy / sxx AS b FROM ab),
         |aa AS (SELECT *, (sy - b * st) / s AS a FROM bb),
         |sse AS (SELECT event_type, s, syy - a * sy - b * sty AS sse FROM aa),
         |fl AS (SELECT event_type, s, count(*)::BIGINT AS n_boxes,
         |    round(sum(sse), 4) AS ssse FROM sse GROUP BY 1, 2),
         |fs AS (SELECT *, sqrt(ssse / (n_boxes * s)) AS fs,
         |    ln(s::DOUBLE) AS lx FROM fl),
         |f2 AS (SELECT *, ln(fs) AS ly FROM fs),
         |ag AS (SELECT *,
         |    count(*) OVER (PARTITION BY event_type)::DOUBLE AS np,
         |    round(sum(lx) OVER (PARTITION BY event_type), 6) AS sx,
         |    round(sum(ly) OVER (PARTITION BY event_type), 6) AS sy2,
         |    round(sum(lx * lx) OVER (PARTITION BY event_type), 6) AS sxx2,
         |    round(sum(lx * ly) OVER (PARTITION BY event_type), 6) AS sxy2
         |  FROM f2)
         |SELECT event_type, s::INT AS box_size, n_boxes,
         |  round(fs, 6) AS fluctuation,
         |  round((np * sxy2 - sx * sy2) / (np * sxx2 - sx * sx), 6) AS dfa_alpha
         |FROM ag""".stripMargin,

    "q_sampen" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |base AS (SELECT event_type, value,
         |    row_number() OVER w AS rn,
         |    lead(value, 1) OVER w AS v1, lead(value, 2) OVER w AS v2
         |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
         |  FROM base GROUP BY 1),
         |rr AS (SELECT event_type, n,
         |    round(0.2E0 * sqrt((svv - sv * sv / n) / (n - 1)), 6) AS r FROM mom),
         |tmpl AS (SELECT b.event_type, b.rn, b.value AS v0, b.v1, b.v2, r.r
         |         FROM base b JOIN rr r USING (event_type) WHERE b.v1 IS NOT NULL),
         |cnts AS (SELECT p.event_type,
         |    sum(CASE WHEN abs(p.v0 - q.v0) <= p.r AND abs(p.v1 - q.v1) <= p.r
         |        THEN 1 ELSE 0 END)::BIGINT AS b_cnt,
         |    sum(CASE WHEN abs(p.v0 - q.v0) <= p.r AND abs(p.v1 - q.v1) <= p.r
         |             AND p.v2 IS NOT NULL AND q.v2 IS NOT NULL AND abs(p.v2 - q.v2) <= p.r
         |        THEN 1 ELSE 0 END)::BIGINT AS a_cnt
         |  FROM tmpl p JOIN tmpl q ON p.event_type = q.event_type AND p.rn < q.rn
         |  GROUP BY 1)
         |SELECT c.event_type, r.n AS n_obs, r.r AS tolerance, c.b_cnt, c.a_cnt,
         |  CASE WHEN c.a_cnt > 0 THEN round(-ln(c.a_cnt::DOUBLE / c.b_cnt::DOUBLE), 6) END AS sampen
         |FROM cnts c JOIN rr r USING (event_type)""".stripMargin,

    "q_gev_return" -> {
      // fold the shared expression chain into nested CTE layers so each
      // name is visible to the next (DuckDB has no lateral column refs)
      val layers = GevExprs.zipWithIndex.map { case ((nm, e), i) =>
        s"g$i AS (SELECT *, $e AS $nm FROM ${if (i == 0) "mom" else s"g${i - 1}"})"
      }.mkString(",\n         |")
      s"""WITH hourly AS ($H),
         |daily AS (SELECT event_type, date_trunc('day', ts) AS d, max(value) AS x
         |          FROM hourly GROUP BY 1, 2),
         |rk AS (SELECT event_type, x,
         |    row_number() OVER (PARTITION BY event_type ORDER BY x, d) AS r
         |  FROM daily),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(x), 4) AS s0,
         |    round(sum((r - 1) * x), 2) AS s1,
         |    round(sum((r - 1) * (r - 2) * x), 2) AS s2
         |  FROM rk GROUP BY 1),
         |$layers
         |SELECT event_type, n AS n_blocks,
         |  round(kappa, 6) AS kappa, round(sigma, 6) AS sigma, round(mu, 6) AS mu,
         |  round(rl30, 6) AS rl_30d, round(rl90, 6) AS rl_90d, round(rl365, 6) AS rl_365d
         |FROM g${GevExprs.length - 1}""".stripMargin
    },

    "q_lomb_scargle" ->
      s"""WITH hourly AS ($H),
         |stats AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
         |  FROM hourly GROUP BY 1),
         |sm AS (SELECT event_type, n, sv / n AS mu, (svv - sv * sv / n) / (n - 1) AS vr FROM stats),
         |t0 AS (SELECT event_type, min(epoch_us(ts) // 1000000) AS t0 FROM hourly GROUP BY 1),
         |base AS (SELECT h.event_type,
         |    ((epoch_us(h.ts) // 1000000 - t.t0) / 3600)::DOUBLE AS tt, h.value
         |  FROM hourly h JOIN t0 t USING (event_type)),
         |periods AS (SELECT unnest([6.0E0, 12.0E0, 24.0E0, 48.0E0, 168.0E0]) AS p),
         |bp AS (SELECT b.*, p.p, 2.0E0 * pi() / p.p AS w FROM base b CROSS JOIN periods p),
         |tau AS (SELECT event_type, p,
         |    round(atan2(round(sum(sin(2.0E0 * w * tt)), 4), round(sum(cos(2.0E0 * w * tt)), 4))
         |      / (2.0E0 * (2.0E0 * pi() / p)), 6) AS tau
         |  FROM bp GROUP BY 1, 2),
         |ph AS (SELECT bp.event_type, bp.p, bp.value, s.n, s.mu, s.vr,
         |    bp.w * (bp.tt - t.tau) AS ph
         |  FROM bp JOIN tau t USING (event_type, p) JOIN sm s USING (event_type)),
         |mom AS (SELECT event_type, p, max(n) AS n, max(vr) AS vr,
         |    round(sum((value - mu) * cos(ph)), 4) AS cc,
         |    round(sum((value - mu) * sin(ph)), 4) AS ss,
         |    round(sum(cos(ph) * cos(ph)), 4) AS cd,
         |    round(sum(sin(ph) * sin(ph)), 4) AS sd
         |  FROM ph GROUP BY 1, 2),
         |pw AS (SELECT *, (cc * cc / cd + ss * ss / sd) / (2.0E0 * vr) AS power FROM mom),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY power DESC, p) AS rk FROM pw)
         |SELECT event_type, p::INT AS period_h, n::BIGINT AS n_obs,
         |  round(power, 6) AS power,
         |  CASE WHEN rk = 1 THEN 1 ELSE 0 END AS is_peak
         |FROM rk""".stripMargin,

    "q_cvar" ->
      s"""WITH hourly AS ($H),
         |rk AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value, ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM hourly),
         |thr AS (SELECT event_type, min(value) AS var95, count(*)::BIGINT AS n_tail,
         |    round(sum(value), 4) AS stail
         |  FROM rk WHERE rn * 20 > nn * 19 GROUP BY 1),
         |nn AS (SELECT event_type, max(nn)::BIGINT AS n FROM rk GROUP BY 1)
         |SELECT n.event_type, n.n AS n_obs, t.n_tail,
         |  round(t.var95, 6) AS var_95,
         |  round(t.stail / t.n_tail::DOUBLE, 6) AS cvar_95,
         |  round((t.stail / t.n_tail::DOUBLE) / t.var95, 6) AS tail_severity
         |FROM nn n JOIN thr t USING (event_type)""".stripMargin,

    "q_ess" -> {
      val lagCols = (1 to K).map(k => s"lag(e, $k) OVER w AS l$k").mkString(",\n         |    ")
      val covCols = (1 to K).map(k => s"round(sum(e * l$k), 4) AS c$k").mkString(",\n         |    ")
      val rhoSum = (1 to K).map(k => s"c$k / c0").mkString(" + ")
      s"""WITH hourly AS ($H),
         |ev AS (SELECT event_type, ts,
         |    value - round(avg(value) OVER (PARTITION BY event_type), 6) AS e
         |  FROM hourly),
         |lg AS (SELECT event_type, e,
         |    $lagCols
         |  FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |mom AS (SELECT event_type, count(*)::BIGINT AS n,
         |    round(sum(e * e), 4) AS c0,
         |    $covCols
         |  FROM lg GROUP BY 1),
         |st AS (SELECT event_type, n, c1 / c0 AS rho1, ($rhoSum) AS sum_rho FROM mom)
         |SELECT event_type, n AS n_obs, round(rho1, 6) AS rho1,
         |  round(sum_rho, 6) AS sum_rho,
         |  round(n / (1.0 + 2.0 * sum_rho), 6) AS ess,
         |  round((n / (1.0 + 2.0 * sum_rho)) / n, 6) AS ess_ratio
         |FROM st""".stripMargin
    }
  )
}
