package graft.queries

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 additions: the last uncovered Kats detector surface plus two
  * corpus/embedding analysis operators.
  *
  * - `q_stat_sig_multi` — MultiStatSigDetectorModel
  *   (kats/detectors/stat_sig_detector.py:934): per-metric equal-variance
  *   two-sample t-test between the trailing n_test window and the
  *   n_control window before it, then Benjamini-Hochberg FDR adjustment
  *   across metrics (detector_consts.py:477 multipletests(method='fdr_bh')).
  *   The t CDF is evaluated through the closed-form finite sum for EVEN
  *   degrees of freedom — F(t) = 1/2 + (x/2)·Σ c_j (1−x²)^j with
  *   x = t/√(ν+t²), c_j = c_{j−1}(2j−1)/(2j) — so n_control=26 and
  *   n_test=8 pin ν = 32 and both engines run the identical 16-term
  *   Horner polynomial (no scipy, no incomplete beta). Deviation noted:
  *   the reference converts adjusted p back into a t-score via t.ppf
  *   (an inverse CDF with no SQL form); we emit the adjusted p and the
  *   significance call instead. Scale: one series-keyed window + one
  *   aggregation; the FDR stage is #metrics-sized by construction (a
  *   multivariate detector run spans one metric family).
  *
  * - `q_date_features` — the date_features battery
  *   (kats/utils/feature_engineering.py:85): quarter/season/ISO week/
  *   week-of-month/leap flags/month-end, incl. the reference's literal
  *   `is_month_end & (month % 4 == 3)` quarter-end quirk (so March, July
  *   and November ends are flagged, exactly as the reference computes it).
  *   Zero-shuffle map-side row math.
  *
  * - `q_pmi_collocations` — PMI-ranked word-bigram collocations (the
  *   phrase-mining / vocabulary-construction step of a tokenizer
  *   pipeline): pmi = ln(p(xy)/(p(x)p(y))) over corpus bigram and unigram
  *   frequencies, min support 5, global top-20 via TakeOrderedAndProject.
  *   Scale: one (gram) aggregation shuffle + two vocabulary-keyed joins;
  *   never a doc×doc or vocab×vocab product.
  *
  * - `q_embed_pca` — top-2 principal components of the embedding prefix
  *   (dims 1..8) by fixed-40-step power iteration with deflation: the
  *   covariance moments are ONE distributed aggregation (the Gram-matrix
  *   pass — the only stage that touches data), the 8×8 eigen-iteration is
  *   driver-side scalar math (the k×dim-state discipline of KMeansDet),
  *   and the oracle replays the identical iteration as two recursive CTEs
  *   over the same 4-dp-snapped moments. Emits eigenvalue, explained
  *   variance share and loadings per component.
  */
object AnalysisQueries {
  private def hourly(s: SparkSession, dir: String) = Tables.hourlyEvents(s, dir)
  private val H = Tables.hourlySql
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  // ── q_stat_sig_multi shared fragments ────────────────────────────────
  private val NC = 26 // n_control
  private val NT = 8 // n_test
  private val DF = NC + NT - 2 // 32, even — required by the closed-form CDF

  /** Horner form of Σ_{j=0}^{ν/2−1} c_j u^j, c_0=1, c_j=c_{j−1}(2j−1)/(2j).
    * Literals via Double.toString (shortest round-trip repr) so Spark and
    * DuckDB parse bit-identical coefficients.
    */
  private val tCoefs: Array[Double] =
    Array.iterate((1.0, 0), DF / 2) { case (c, j) => (c * (2 * (j + 1) - 1) / (2.0 * (j + 1)), j + 1) }.map(_._1)
  private val tPoly: String =
    tCoefs.reverse.tail.foldLeft(tCoefs.last.toString)((acc, c) => s"($c + u * $acc)")

  /** Scala twin of the sigChain CDF fragments: two-sided p at t ≥ 0 with
    * the IDENTICAL op sequence (x → u → Horner → 1 − x·poly), so the
    * bisection below and the oracle's recursive replay take the same
    * branch at every step.
    */
  private def tTwoSided(t: Double): Double = {
    val x = t / math.sqrt(DF.toDouble + t * t)
    val u = 1.0 - x * x
    var acc = tCoefs.last
    var i = tCoefs.length - 2
    while (i >= 0) { acc = tCoefs(i) + u * acc; i -= 1 }
    1.0 - x * acc
  }

  /** t.ppf(1 − p/2, DF) by 80-step bisection on [0, 1000] over
    * [[tTwoSided]] — the inverse-CDF back-conversion the reference
    * applies to BH-adjusted p-values (detector_consts.py:477 →
    * stat_sig_detector.py:934). 80 halvings of a fixed bracket are a
    * deterministic comparison sequence both engines replay exactly;
    * p below ~1e-72 saturates at the 1000 bracket edge (declared). */
  private def tPpfUpper(p: Double): Double = {
    var lo = 0.0; var hi = 1000.0
    var i = 0
    while (i < 80) {
      val mid = (lo + hi) / 2.0
      if (tTwoSided(mid) > p) lo = mid else hi = mid
      i += 1
    }
    (lo + hi) / 2.0
  }

  /** (name, fragment) chain from snapped moments to the raw p-value; both
    * engines evaluate these strings verbatim so every float op sequence is
    * identical.
    */
  private val sigChain: Seq[(String, String)] = Seq(
    "m_c" -> s"(s_c / $NC.0)",
    "m_t" -> s"(s_t / $NT.0)",
    "var_c" -> s"greatest((ss_c - s_c * s_c / $NC.0) / ${NC - 1}.0, 0.0)",
    "var_t" -> s"greatest((ss_t - s_t * s_t / $NT.0) / ${NT - 1}.0, 0.0)",
    "sp" -> s"sqrt((${NC - 1}.0 * var_c + ${NT - 1}.0 * var_t) / $DF.0)",
    // E-notation literals: Spark parses plain `1.0 / 26.0` as DECIMAL
    // division (scale-truncated to 0.038462) while DuckDB folds it in
    // double — 1.0E0 forces IEEE double on both engines.
    "t_raw" -> s"(CASE WHEN sp <= 0.0 THEN 0.0 ELSE (m_t - m_c) / (sp * sqrt(1.0E0 / $NT.0E0 + 1.0E0 / $NC.0E0)) END)",
    "x" -> s"(abs(t_raw) / sqrt($DF.0 + t_raw * t_raw))",
    "u" -> "(1.0 - x * x)",
    "p_raw" -> s"(1.0 - x * $tPoly)")

  // ── q_pmi_collocations shared fragment ───────────────────────────────
  private val pmiFrag = "ln((cxy * nu * nu) / (nb * cx * cy))"

  // ── q_embed_pca machinery ────────────────────────────────────────────
  private val PD = 8 // prefix dims
  // 120 steps: convergence error decays as (λ2/λ1)^k; the synthetic
  // embeddings' eigengap (~0.92 ratio) needs >100 steps for loadings
  // orthogonal to 1e-3. Both engines run the identical fixed count.
  private val ITERS = 120

  /** Moment column names: s$i, ss${i}_$j (i<=j), n. */
  private def covFrag(i: Int, j: Int): String = {
    val (a, b) = if (i <= j) (i, j) else (j, i)
    s"(ss${a}_$b - s$a * s$b / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
  }

  /** Scala twin of the oracle's recursive replay: identical op order
    * (row-major dot products, left-to-right square sums).
    */
  private def powerIter(c: Array[Array[Double]]): (Array[Double], Double) = {
    var v = Array.fill(PD)(1.0 / math.sqrt(8.0))
    def mul(vv: Array[Double]): Array[Double] = Array.tabulate(PD) { i =>
      var acc = 0.0; var j = 0
      while (j < PD) { acc = acc + c(i)(j) * vv(j); j += 1 }
      acc
    }
    var k = 0
    while (k < ITERS) {
      val w = mul(v)
      var n2 = 0.0; var i = 0
      while (i < PD) { n2 = n2 + w(i) * w(i); i += 1 }
      val nrm = math.sqrt(n2)
      v = w.map(_ / nrm)
      k += 1
    }
    val w = mul(v)
    var lam = 0.0; var i = 0
    while (i < PD) { lam = lam + v(i) * w(i); i += 1 }
    (v, lam)
  }

  /** One recursive power-iteration CTE (DuckDB side). `cov` must expose
    * c${i}_${j} columns for ALL (i, j) pairs.
    */
  private def iterCte(name: String, cov: String): String = {
    def wExpr(i: Int) = (0 until PD).map(j => s"c${i}_$j * v$j").mkString("(", " + ", ")")
    val nrm = "sqrt(" + (0 until PD).map(i => s"${wExpr(i)} * ${wExpr(i)}").mkString(" + ") + ")"
    val init = (0 until PD).map(i => s"1.0/sqrt(8.0) AS v$i").mkString(", ")
    val step = (0 until PD).map(i => s"${wExpr(i)} / $nrm AS v$i").mkString(", ")
    s"""$name AS (
       |  SELECT 0 AS step, $init
       |  UNION ALL
       |  SELECT step + 1, $step FROM $name, $cov WHERE step < $ITERS)""".stripMargin
  }

  /** lam = Σ v_i·(C·v)_i at the final iterate. */
  private def lamExpr: String = {
    def wExpr(i: Int) = (0 until PD).map(j => s"c${i}_$j * v$j").mkString("(", " + ", ")")
    (0 until PD).map(i => s"v$i * ${wExpr(i)}").mkString("(", " + ", ")")
  }

  // ── q_cusum_multi oracle machinery ───────────────────────────────────
  /** Q((x,y) − (mx,my)) under Σ=[[aa,bb],[bb,cc]] via the 2×2 Cramer
    * inverse — the exact float-op order of MultiCusum.q.
    */
  private def qForm(mx: String, my: String): String =
    s"(g.cc * (o.x - $mx) * (o.x - $mx) - 2.0 * g.bb * (o.x - $mx) * (o.y - $my) + g.aa * (o.y - $my) * (o.y - $my)) / g.det"

  private def cusumMultiSql: String = {
    val iters = (1 to graft.detectors.MultiCusum.MaxIter).map { k =>
      s"""mu$k AS (SELECT o.event_type, max(c.cp) AS prev_cp,
         |    round(avg(CASE WHEN o.rn - 1 <= c.cp THEN o.x END), 6) AS m0x,
         |    round(avg(CASE WHEN o.rn - 1 <= c.cp THEN o.y END), 6) AS m0y,
         |    round(avg(CASE WHEN o.rn - 1 > c.cp THEN o.x END), 6) AS m1x,
         |    round(avg(CASE WHEN o.rn - 1 > c.cp THEN o.y END), 6) AS m1y
         |  FROM ord o JOIN cp${k - 1} c USING (event_type) GROUP BY 1),
         |cs$k AS (SELECT o.event_type, m.prev_cp, o.rn, o.n,
         |    sum(${qForm("m.m0x", "m.m0y")} - ${qForm("m.m1x", "m.m1y")})
         |      OVER (PARTITION BY o.event_type ORDER BY o.rn) AS cs
         |  FROM ord o JOIN mu$k m USING (event_type) JOIN sig g USING (event_type)),
         |cp$k AS (SELECT event_type, prev_cp, greatest(1, least(pick, n - 2)) AS cp FROM (
         |    SELECT event_type, prev_cp, rn - 1 AS pick, n,
         |      row_number() OVER (PARTITION BY event_type ORDER BY cs, rn) AS rk
         |    FROM cs$k) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val last = s"cp${graft.detectors.MultiCusum.MaxIter}"
    s"""WITH RECURSIVE hourly AS ($H),
       |ord AS (SELECT event_type, value AS x, n::DOUBLE AS y,
       |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM hourly),
       |mt AS (SELECT event_type, round(avg(x), 6) AS mtx, round(avg(y), 6) AS mty,
       |    count(*) AS nn FROM ord GROUP BY 1),
       |sig AS (SELECT o.event_type,
       |    round(sum((o.x - t.mtx) * (o.x - t.mtx)) / (t.nn - 1), 6) AS aa,
       |    round(sum((o.x - t.mtx) * (o.y - t.mty)) / (t.nn - 1), 6) AS bb,
       |    round(sum((o.y - t.mty) * (o.y - t.mty)) / (t.nn - 1), 6) AS cc,
       |    greatest(round(round(sum((o.x - t.mtx) * (o.x - t.mtx)) / (t.nn - 1), 6)
       |        * round(sum((o.y - t.mty) * (o.y - t.mty)) / (t.nn - 1), 6)
       |      - round(sum((o.x - t.mtx) * (o.y - t.mty)) / (t.nn - 1), 6)
       |        * round(sum((o.x - t.mtx) * (o.y - t.mty)) / (t.nn - 1), 6), 6), 1e-12) AS det
       |  FROM ord o JOIN mt t USING (event_type) GROUP BY 1, t.nn),
       |cp0 AS (SELECT event_type, nn // 2 AS cp, -1 AS prev_cp FROM mt),
       |$iters,
       |seg AS (SELECT o.event_type, max(c.cp) AS cp,
       |    max(CASE WHEN c.cp = c.prev_cp THEN 1.0 ELSE 0.0 END) AS stable,
       |    round(avg(CASE WHEN o.rn - 1 <= c.cp THEN o.x END), 6) AS m0x,
       |    round(avg(CASE WHEN o.rn - 1 <= c.cp THEN o.y END), 6) AS m0y,
       |    round(avg(CASE WHEN o.rn - 1 > c.cp THEN o.x END), 6) AS m1x,
       |    round(avg(CASE WHEN o.rn - 1 > c.cp THEN o.y END), 6) AS m1y
       |  FROM ord o JOIN $last c USING (event_type) GROUP BY 1),
       |llr AS (SELECT o.event_type, max(f.cp) AS cp, max(f.stable) AS stable,
       |    max(f.m0x) AS m0x, max(f.m0y) AS m0y, max(f.m1x) AS m1x, max(f.m1y) AS m1y,
       |    sum(CASE WHEN o.rn - 1 <= f.cp
       |          THEN ${qForm("t.mtx", "t.mty")} - ${qForm("f.m0x", "f.m0y")} END) AS suma,
       |    sum(CASE WHEN o.rn - 1 > f.cp
       |          THEN ${qForm("t.mtx", "t.mty")} - ${qForm("f.m1x", "f.m1y")} END) AS sumb
       |  FROM ord o JOIN seg f USING (event_type) JOIN sig g USING (event_type)
       |    JOIN mt t USING (event_type) GROUP BY 1),
       |chsrc AS (SELECT event_type, round(-2.0 * (suma - sumb), 6) AS x, 3 AS k FROM llr),
       |${graft.detectors.ChiSq.sqlReplay("chsrc", Seq("event_type"))}
       |SELECT l.event_type, round(cp::DOUBLE, 6) AS cp_idx,
       |  round(m0x, 6) AS m0x, round(m0y, 6) AS m0y,
       |  round(m1x, 6) AS m1x, round(m1y, 6) AS m1y,
       |  round(m1x - m0x, 6) AS delta_x, round(m1y - m0y, 6) AS delta_y,
       |  round(-2.0 * (suma - sumb), 6) AS llr, round(stable, 6) AS stable,
       |  round(CASE WHEN -2.0 * (suma - sumb) > ${graft.detectors.MultiCusum.Chi2Crit3}
       |        THEN 1.0 ELSE 0.0 END, 6) AS detected,
       |  round(c.p, 6) AS p_value
       |FROM llr l JOIN chisf c ON l.event_type = c.event_type""".stripMargin
  }

  // ── q_interval_ab shared fragments ───────────────────────────────────
  // TwoSampleProportionIntervalDetectorModel (interval_detector.py:1725):
  // per time index, z = (p_b − p_a − effect)/√(p_a(1−p_a)/n_a + p_b(1−p_b)/n_b)
  // (normal approximation to the binomial), ONE_SIDED_UPPER rejection at
  // |norm.ppf(α=0.05)|; explicit duration=3 (the user-supplied override of
  // the reference's automatic run-length sizing). Degenerate hours
  // (se = 0) clamp z to 0 — the same fail-to-reject decision the
  // reference's NaN propagation produces.
  private val NormCrit05 = "1.6448536269514722" // |norm.ppf(0.05)|
  private val AbDuration = 3
  private val abChain: Seq[(String, String)] = Seq(
    "p_a" -> "(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))",
    "p_b" -> "(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))",
    "se" -> "sqrt(p_a * (1.0 - p_a) / CAST(n_a AS DOUBLE) + p_b * (1.0 - p_b) / CAST(n_b AS DOUBLE))",
    "z" -> "(CASE WHEN se <= 0.0 THEN 0.0 ELSE (p_b - p_a) / se END)")

  // ── q_drift_psi tiny literal dimensions ──────────────────────────────
  private def spark_k(s: SparkSession): DataFrame = {
    import s.implicits._
    (1 to 9).toDF("k")
  }
  private def spark_bins(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 to 9).toDF("bin")
  }

  // ── q_date_features shared column set (Spark expr strings) ───────────
  // dow is pandas Monday=0 throughout; season is the reference's month
  // map {12,1→0 | 2..5→1 | 6..8→2 | 9..11→3} (feature_engineering.py:20).
  private val seasonCase =
    "(CASE WHEN month IN (12, 1) THEN 0 WHEN month <= 5 THEN 1 WHEN month <= 8 THEN 2 ELSE 3 END)"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stat_sig_multi" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("ts").desc)
      val mo = hourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= NC + NT)
        .groupBy("event_type")
        .agg(
          round(sum(when(col("rn") <= NT, col("value"))), 4).as("s_t"),
          round(sum(when(col("rn") <= NT, col("value") * col("value"))), 4).as("ss_t"),
          round(sum(when(col("rn") > NT, col("value"))), 4).as("s_c"),
          round(sum(when(col("rn") > NT, col("value") * col("value"))), 4).as("ss_c"),
          count(lit(1)).as("nn"))
        .where(col("nn") === NC + NT)
      val scored = sigChain.foldLeft(mo) { case (df, (n, frag)) => df.withColumn(n, expr(frag)) }
      // BH across the metric family: ranks ascending by p, adjusted
      // q_(i) = min_{j≥i} m·p_(j)/j clamped to 1 — a running min from the
      // largest rank down. The family is #metrics-sized by construction,
      // so one partition is the intended shape; the zero-length substring
      // is a NON-FOLDABLE constant key (a foldable lit(1) gets optimized
      // to an empty partition spec and WindowExec warns).
      val one = substring(col("event_type"), 1, 0)
      val wAsc = Window.partitionBy(one).orderBy(col("p_raw"), col("event_type"))
      val wDesc = Window.partitionBy(one).orderBy(col("p_raw").desc, col("event_type").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the reference's reported score is the BH-adjusted p back through
      // the inverse t CDF, sign-restored from the raw t
      // (detector_consts.py:477/:492)
      val tppf = udf { (pAdj: Double, tRaw: Double) =>
        val t = tPpfUpper(pAdj)
        if (tRaw < 0) -t else t
      }
      scored
        .withColumn("m_cnt", count(lit(1)).over(Window.partitionBy(one)))
        .withColumn("rnk", row_number().over(wAsc))
        .withColumn("raw_adj", expr("CAST(m_cnt AS DOUBLE) * p_raw / CAST(rnk AS DOUBLE)"))
        .withColumn("p_adj", least(min(col("raw_adj")).over(wDesc), lit(1.0)))
        .select(col("event_type"), lit(NC).as("n_control"), lit(NT).as("n_test"),
          round(col("m_c"), 6).as("m_control"), round(col("m_t"), 6).as("m_test"),
          round(col("t_raw"), 6).as("t_score"), round(col("p_raw"), 6).as("p_value"),
          round(col("p_adj"), 6).as("p_adj"),
          round(tppf(col("p_adj"), col("t_raw")), 6).as("t_adj"),
          when(col("p_adj") < 0.05, 1).otherwise(0).as("significant"),
          signum(col("t_raw")).cast("int").as("direction"))
    }),

    "q_cusum_multi" -> ((s, dir) => {
      val coll = hourly(s, dir)
        .select(col("event_type"), col("ts"), col("value").cast("double").as("x"),
          col("n").cast("double").as("y"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("ts"), col("x"), col("y")))).as("p"))
        .select(col("event_type"), col("p.x").as("xs"), col("p.y").as("ys"))
      val fn = udf { (xs: Seq[Double], ys: Seq[Double]) =>
        graft.detectors.MultiCusum.detect(xs.toArray, ys.toArray).toSeq
      }
      val names = Seq("cp_idx", "m0x", "m0y", "m1x", "m1y", "delta_x", "delta_y",
        "llr", "stable", "detected", "p_value")
      coll.withColumn("_o", fn(col("xs"), col("ys")))
        .select(col("event_type") +:
          names.zipWithIndex.map { case (nm, i) => round(col("_o")(i), 6).as(nm) }: _*)
    }),

    "q_interval_ab" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("arm",
          conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))), 1, 1), 16, 10)
            .cast("int") % 2)
        .withColumn("h", date_trunc("hour", col("ts")))
      // per (hour, arm): trials = active users, successes = purchasing users
      val ph = ev.groupBy("h", "arm").agg(
        countDistinct(col("user_id")).as("n"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("ss"))
      val a = ph.where(col("arm") === 0).select(col("h"), col("n").as("n_a"), col("ss").as("s_a"))
      val b = ph.where(col("arm") === 1).select(col("h"), col("n").as("n_b"), col("ss").as("s_b"))
      val scored = abChain.foldLeft(a.join(b, "h")) { case (df, (n, f)) => df.withColumn(n, expr(f)) }
        .withColumn("reject", (col("z") > expr(NormCrit05)).cast("int"))
      // consecutive rejected hours → islands; the hour axis is weeks of
      // data (constant cardinality), so one partition is the intended
      // shape — keyed by a non-foldable constant so WindowExec doesn't
      // see an empty (warned) partition spec (n_a * 0 WOULD fold: count
      // is non-nullable, so Catalyst simplifies it to literal 0)
      val one = substring(col("h").cast("string"), 1, 0)
      val wAll = Window.partitionBy(one).orderBy("h")
      val runs = scored
        .withColumn("rn", row_number().over(wAll))
        .where(col("reject") === 1)
        .withColumn("grp", col("rn") - row_number().over(wAll))
      runs.groupBy("grp")
        .agg(unix_timestamp(min("h")).as("start_s"), unix_timestamp(max("h")).as("end_s"),
          count(lit(1)).as("n_hours"), round(max("z"), 6).as("max_z"))
        .withColumn("kind", when(col("n_hours") >= AbDuration, "anomaly").otherwise("caution"))
        .select("start_s", "end_s", "n_hours", "max_z", "kind")
    }),

    // ProphetTrendDetectorModel (prophet_detector.py:779): score each
    // trend changepoint with the magnitude of its slope change. r12
    // migration (closes the declared ridge deviation): the deltas are
    // the SPARSE changepoint deltas of the exact Laplace-prior MAP —
    // the same prophetMapFit orthant enumeration q_prophet_lite /
    // q_prophet_logistic prove against the oracle — scaled back to
    // original units (×yscale). Inactive changepoints are EXACT zeros,
    // so the ranking reads the model family prophet actually fits; top
    // changepoint = first argmax of |delta| over the 6-dp-rounded
    // deltas (both engines compare identical grid values — the MAP
    // coefficients are bit-identical by the shared-moment discipline).
    "q_prophet_trend" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      val dense = Tables.denseHourly(s, dir)
      val base = SeriesOps.aggSeries(dense, S, Seq("r1", "r2", "r3", "r4", "nn", "nact")) { xs =>
        val (b, na, yscale) =
          graft.models.Regressors.prophetMapFit(xs, period = 24, orders = 3, nChangepoints = 4)
        Array(b(2) * yscale, b(3) * yscale, b(4) * yscale, b(5) * yscale,
          xs.length.toDouble, na.toDouble)
      }
      val ds = (1 to 4).map(k => round(col(s"r$k"), 6))
      val Seq(abs1, abs2, abs3, abs4) = ds.map(abs(_))
      base
        .withColumn("n", col("nn").cast("long")).drop("nn")
        .withColumn("n_active", col("nact").cast("long")).drop("nact")
        .select((1 to 4).map(k => (round(col(s"r$k"), 6) + lit(0.0)).as(s"d$k")) ++
          Seq(col("event_type"), col("n"), col("n_active"),
            when(abs1 >= abs2 && abs1 >= abs3 && abs1 >= abs4, 1)
              .when(abs2 >= abs3 && abs2 >= abs4, 2)
              .when(abs3 >= abs4, 3).otherwise(4).as("top_cp")): _*)
        .withColumn("top_score",
          round(greatest(abs(col("d1")), abs(col("d2")), abs(col("d3")), abs(col("d4"))), 6))
        // knot locations: t = k·n/5 (0-based index into the dense grid)
        .withColumn("top_t", floor(col("top_cp") * col("n") / lit(5.0)).cast("long"))
    }),

    // Split-conformal prediction intervals (Vovk; Lei et al. 2018) — the
    // distribution-free guarantee the reference's Gaussian/empirical CIs
    // (q_emp_ci / q_ensemble_ci) don't give: train the hour-of-day-mean
    // model on the first 50%, take the ceil((n_cal+1)(1−α))-th order
    // statistic of |y−ŷ| on the next 25% as the radius q, certify
    // coverage on the last 25%. Finite-sample coverage ≥ 1−α holds by
    // exchangeability regardless of the model. One series shuffle + one
    // (series, hour) join; order statistic via row_number, no sort of
    // anything but the calibration slice.
    "q_conformal" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val base = hourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
        .withColumn("hod", hour(col("ts")))
        .withColumn("n_train", floor(col("nn") * 0.5))
        .withColumn("n_cal", floor(col("nn") * 0.25))
        .withColumn("fold",
          when(col("rn") <= col("n_train"), "train")
            .when(col("rn") <= col("n_train") + col("n_cal"), "cal")
            .otherwise("test"))
      val model = base.where(col("fold") === "train")
        .groupBy("event_type", "hod").agg(round(avg("value"), 6).as("yhat"))
      val fallback = base.where(col("fold") === "train")
        .groupBy("event_type").agg(round(avg("value"), 6).as("yhat_g"))
      val scored = base.where(col("fold") =!= "train")
        .join(model, Seq("event_type", "hod"), "left")
        .join(fallback, Seq("event_type"))
        .withColumn("score", abs(col("value") - coalesce(col("yhat"), col("yhat_g"))))
      val wc = Window.partitionBy("event_type").orderBy("score")
      val cal = scored.where(col("fold") === "cal")
        .withColumn("rk", row_number().over(wc))
        .withColumn("m", count(lit(1)).over(wk))
        // k = ceil((m+1)·9/10) in EXACT integer math (double 0.9·(m+1)
        // lands at 9.000000000000002 for m+1=10 — a ceil off-by-one vs
        // DuckDB's decimal fold), clamped to the max score when k > m
        .withColumn("k", least(expr("((m + 1) * 9 + 9) div 10"), col("m")))
        .where(col("rk") === col("k"))
        .select(col("event_type"), round(col("score"), 6).as("q_radius"), col("m").as("n_cal_rows"))
      scored.where(col("fold") === "test")
        .join(cal, "event_type")
        .groupBy("event_type")
        .agg(first(col("n_cal_rows")).as("n_cal"), count(lit(1)).as("n_test"),
          first(col("q_radius")).as("q_radius"),
          round(avg(when(col("score") <= col("q_radius"), 1.0).otherwise(0.0)), 6).as("coverage"),
          round(first(col("q_radius")) * 2, 6).as("width"))
    }),

    // Population Stability Index (the standard ML-monitoring drift
    // metric; complements q_distribution_distance's JS divergence and
    // q_source_kl): per series, decile edges come from the BASELINE half
    // (order statistics at exact integer ranks), both halves histogram
    // against those edges, PSI = Σ (p−q)·ln(p/q) with +0.5 Laplace
    // smoothing so empty bins stay finite; drift flag at the industry
    // 0.2 rule. Scale: one series shuffle for ranks + a 9-rows-per-series
    // edge join — never a distribution-wide sort of the current data.
    "q_drift_psi" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val base = hourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
        .withColumn("half", when(col("rn") <= expr("nn div 2"), "base").otherwise("cur"))
      val wv = Window.partitionBy("event_type").orderBy("value")
      val edges = base.where(col("half") === "base")
        .withColumn("vr", row_number().over(wv))
        .withColumn("nb", count(lit(1)).over(wk))
        .crossJoin(broadcast(spark_k(s)))
        .where(col("vr") === greatest(expr("(k * nb) div 10"), lit(1)))
        .select(col("event_type"), col("k"), col("value").as("edge"))
        .groupBy("event_type", "k").agg(min("edge").as("edge")) // ties on vr impossible; min = identity
      val binned = base
        .join(edges.groupBy("event_type").agg(collect_list(struct(col("k"), col("edge"))).as("es")), "event_type")
        .withColumn("bin", expr("aggregate(es, 0, (acc, e) -> acc + CASE WHEN value > e.edge THEN 1 ELSE 0 END)"))
      val counts = binned.groupBy("event_type", "half", "bin").agg(count(lit(1)).as("c"))
      val tot = binned.groupBy("event_type", "half").agg(count(lit(1)).as("n"))
      // dense (series × half × bin 0..9) grid so empty bins smooth, not vanish
      val grid = tot.crossJoin(broadcast(spark_bins(s)))
        .join(counts, Seq("event_type", "half", "bin"), "left")
        .withColumn("share", expr("(coalesce(c, 0) + 0.5) / (CAST(n AS DOUBLE) + 5.0)"))
      val p = grid.where(col("half") === "base")
        .select(col("event_type"), col("bin"), col("share").as("p"), col("n").as("n_base"))
      val q = grid.where(col("half") === "cur")
        .select(col("event_type"), col("bin"), col("share").as("q"), col("n").as("n_cur"))
      p.join(q, Seq("event_type", "bin"))
        .groupBy("event_type")
        .agg(first("n_base").as("n_base"), first("n_cur").as("n_cur"),
          round(sum(expr("(p - q) * ln(p / q)")), 6).as("psi"))
        .withColumn("drift", (col("psi") > 0.2).cast("int"))
    }),

    // A/B experiment power analysis — the design-side complement of
    // q_ab_test/q_interval_ab: per week, given the observed arm sizes and
    // pooled baseline purchase rate, the minimum detectable effect at
    // α=0.05 two-sided / power 0.8 is (z_{α/2}+z_β)·√(p(1−p)(1/n_a+1/n_b)).
    // Pure per-week scalar math after one user-week aggregation; the
    // "powered" flag asks whether a 10% relative lift is detectable.
    "q_power_mde" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("arm",
          conv(substring(md5(concat(col("user_id").cast("string"), lit(":ab1"))), 1, 1), 16, 10)
            .cast("int") % 2)
        .withColumn("wk", date_trunc("week", col("ts")))
      val pw = ev.groupBy("wk").agg(
        countDistinct(when(col("arm") === 0, col("user_id"))).as("n_a"),
        countDistinct(when(col("arm") === 1, col("user_id"))).as("n_b"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("s_all"),
        countDistinct(col("user_id")).as("n_all"))
      pw.withColumn("p", expr("CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)"))
        .withColumn("mde_abs", expr(
          "(1.9599639845400545 + 0.8416212335729143) * sqrt(p * (1.0 - p) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"))
        .withColumn("mde_rel", expr("CASE WHEN p <= 0.0 THEN NULL ELSE mde_abs / p END"))
        .select(unix_timestamp(col("wk")).as("week_s"), col("n_a"), col("n_b"),
          round(col("p"), 6).as("p_base"), round(col("mde_abs"), 6).as("mde_abs"),
          round(col("mde_rel"), 6).as("mde_rel"),
          when(col("mde_rel") <= 0.1, 1).otherwise(0).as("powered_10pct"))
    }),

    // Vocabulary Gini concentration per source (corpus-health profile
    // beside q_corpus_zipf): counts sorted ascending per source,
    // G = Σ(2i−n−1)·c_i / (n·Σc). Tied counts make the coefficient sum
    // order-free, so row_number tie order can't change the result; the
    // weighted sum stays integer until one final division.
    "q_gini_vocab" -> ((s, dir) => {
      val counts = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy("source").orderBy(col("c"), col("w"))
      val wk = Window.partitionBy("source")
      counts
        .withColumn("rn", row_number().over(wv))
        .withColumn("nv", count(lit(1)).over(wk))
        .withColumn("tot", sum("c").over(wk))
        .groupBy("source")
        .agg(first("nv").as("n_vocab"), first("tot").as("n_tokens"),
          round(sum((lit(2) * col("rn") - col("nv") - 1) * col("c")) /
            (first("nv") * first("tot")), 6).as("gini"))
    }),

    // Optimal-partitioning multi-changepoint segmentation (PELT objective,
    // Killick et al. 2012) — the globally optimal mean-change segment set
    // the single-changepoint CUSUM family can't produce. Kernel in
    // detectors/Pelt.scala; the oracle replays the ENTIRE DP as one
    // recursive CTE carrying the F and pointer lists, then backtracks the
    // pointers in a second recursion.
    "q_pelt" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      val coll = SeriesOps.collect(hourly(s, dir).drop("n"), S)
      val fn = udf { xs: Seq[Double] => graft.detectors.Pelt.segment(xs.toArray) }
      coll.withColumn("segs", fn(col("xs")))
        .select(col("event_type"), posexplode(col("segs")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("seg_no"),
          col("col._1").as("start_idx"), col("col._2").as("end_idx"),
          round(col("col._3"), 6).as("seg_mean"))
        .withColumn("n_segments", count(lit(1)).over(Window.partitionBy("event_type")))
    }),

    // Two-state Gaussian HMM regimes via Viterbi (detectors/HmmRegimes):
    // the regime-switching complement of q_pelt — regimes are LABELED and
    // can recur under the sticky-transition prior. Oracle replays the
    // Viterbi DP as a recursive CTE with backpointer lists + a
    // pointer-walk backtrack, islands from the decoded state path.
    "q_hmm_regimes" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      val coll = SeriesOps.collect(hourly(s, dir).drop("n"), S)
      val fn = udf { xs: Seq[Double] => graft.detectors.HmmRegimes.segment(xs.toArray) }
      coll.withColumn("segs", fn(col("xs")))
        .select(col("event_type"), posexplode(col("segs")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("seg_no"),
          col("col._1").as("state"), col("col._2").as("start_idx"), col("col._3").as("end_idx"),
          (col("col._3") - col("col._2")).cast("long").as("n_points"),
          round(col("col._4"), 6).as("mu_state"))
    }),

    // Croston intermittent-demand forecasting + SBA correction
    // (models/Croston.scala) over the dense zero-filled grid — the
    // sparse-series forecaster the reference's smoothing family lacks.
    "q_croston" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      val dense = Tables.denseHourly(s, dir)
      SeriesOps.aggSeries(dense, S,
        Seq("n_nonzero", "z_hat", "y_hat", "croston", "sba")) { xs =>
        graft.models.Croston.fit(xs)
      }
    }),

    // GARCH(1,1) volatility with variance targeting (models/Garch.scala):
    // the volatility-clustering regime the ARCH-LM feature only tests for.
    "q_garch_vol" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      SeriesOps.aggSeries(hourly(s, dir).drop("n"), S,
        Seq("n_returns", "omega", "sigma_last", "sigma_mean", "vol_ratio", "clustered")) { xs =>
        graft.models.Garch.fit(xs)
      }
    }),

    // First-order Markov entropy rate of the event-type process (extends
    // q_event_transitions): H = −Σ_ab (c_ab/N)·ln(c_ab/c_a), perplexity
    // e^H — the predictability health metric of an event stream. One
    // user-key window + vocabulary-scale aggregations.
    "q_entropy_rate" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .withColumn("nxt", lead("event_type", 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("event_type").as("cur"), col("nxt")).agg(count(lit(1)).as("c"))
      val curTot = pairs.groupBy("cur").agg(sum("c").as("ca"))
      val nTot = pairs.agg(sum("c").as("nn"))
      pairs.join(curTot, "cur").crossJoin(broadcast(nTot))
        .agg(count(lit(1)).as("n_pairs"), countDistinct(col("cur")).as("n_states"),
          expr("round(-sum((CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(ca AS DOUBLE))), 6)")
            .as("entropy_rate"))
        .withColumn("perplexity", round(exp(col("entropy_rate")), 6))
    }),

    // Damped-trend Holt (holtwinters.py damped=True) — long-horizon
    // forecasts flatten toward l + φ/(1−φ)·b instead of extrapolating.
    "q_holt_damped" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      SeriesOps.aggSeries(hourly(s, dir).drop("n"), S,
        Seq("level", "trend", "yhat_1", "yhat_24")) { xs =>
        val (l, b) = graft.models.Smoothers.holtDamped(xs, 0.3, 0.1, 0.9)
        def ds(h: Int) = 0.9 * (1.0 - math.pow(0.9, h)) / (1.0 - 0.9)
        Array(l, b, l + ds(1) * b, l + ds(24) * b)
      }
    }),

    // Multiplicative-seasonal Holt-Winters (holtwinters.py seasonal='mul')
    // — the seasonal swing scales with the level; clamps shared with the
    // oracle keep zero buckets finite.
    "q_holtwinters_mul" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      val dense = Tables.denseHourly(s, dir)
      SeriesOps.aggSeries(dense, S, Seq("level", "trend", "yhat_1", "yhat_24")) { xs =>
        val m = 24
        val (l, b, seas) = graft.models.Smoothers.holtWintersMul(xs, m, 0.3, 0.05, 0.1)
        val n = xs.length
        def f(h: Int) = (l + h * b) * seas((n + h - 1) % m)
        Array(l, b, f(1), f(24))
      }
    }),

    // Western Electric control-chart run rules (the SPC classic; beyond
    // the point-wise z detectors): baseline μ/σ from the first half,
    // the serve half is tested with the four run rules — 1 beyond 3σ,
    // 2-of-3 beyond 2σ same side, 4-of-5 beyond 1σ same side, 8
    // consecutive same side. Pure window frames over the serve sequence;
    // one series shuffle; emits only alarming points.
    "q_spc_rules" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val base = hourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(wk))
      val mo = base.where(col("rn") <= expr("nn div 2"))
        .groupBy("event_type")
        .agg(round(avg("value"), 6).as("mu"),
          round(greatest(stddev_pop(col("value")), lit(1e-6)), 6).as("sigma"))
      val serve = base.where(col("rn") > expr("nn div 2"))
        .join(mo, "event_type")
        .withColumn("z", expr("(value - mu) / sigma"))
      val ws = Window.partitionBy("event_type").orderBy("rn")
      def cnt(cond: Column, frame: Int) =
        sum(when(cond, 1).otherwise(0)).over(ws.rowsBetween(-(frame - 1), 0))
      serve
        .withColumn("r1", (abs(col("z")) > 3.0).cast("int"))
        .withColumn("r2", ((cnt(col("z") > 2.0, 3) >= 2 && col("z") > 2.0) ||
          (cnt(col("z") < -2.0, 3) >= 2 && col("z") < -2.0)).cast("int"))
        .withColumn("r3", ((cnt(col("z") > 1.0, 5) >= 4 && col("z") > 1.0) ||
          (cnt(col("z") < -1.0, 5) >= 4 && col("z") < -1.0)).cast("int"))
        .withColumn("r4", ((cnt(col("z") > 0.0, 8) === 8) ||
          (cnt(col("z") < 0.0, 8) === 8)).cast("int"))
        .where(col("r1") + col("r2") + col("r3") + col("r4") > 0)
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"),
          col("value"), round(col("z"), 6).as("z"),
          col("r1"), col("r2"), col("r3"), col("r4"))
    }),

    // Benford first-significant-digit audit over lineitem prices — the
    // classic fabricated-data / data-quality screen: observed digit
    // shares vs log10(1+1/d), per-digit deviation + the overall MAD
    // (Nigrini's conformity statistic). One scan + a 9-row aggregate.
    "q_benford" -> ((s, dir) => {
      val digits = Tables.lineitem(s, dir)
        .where(col("l_extendedprice") > 0)
        .withColumn("digit", expr(
          "CAST(floor(l_extendedprice * power(10.0, -floor(log10(l_extendedprice)))) AS INT)"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum("n").as("nn"))
      val base = digits.crossJoin(broadcast(tot))
        .withColumn("share", expr("CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)"))
        .withColumn("expected", expr("log10(1.0 + 1.0 / CAST(digit AS DOUBLE))"))
        .withColumn("dev", expr("abs(share - expected)"))
      val mad = base.agg(round(avg("dev"), 6).as("mad"))
      base.crossJoin(broadcast(mad))
        .select(col("digit"), col("n"), round(col("share"), 6).as("share"),
          round(col("expected"), 6).as("expected"), round(col("dev"), 6).as("dev"),
          col("mad"))
    }),

    // RFM customer segmentation over the orders table (the standard
    // marketing-analytics scoring): recency/frequency/monetary quintiles
    // by deterministic ntile (custkey tiebreak), classic segment rules.
    // Customer-keyed aggregation; the quintile stage is #customers-sized
    // and partitions on a non-foldable constant (see q_stat_sig_multi).
    "q_rfm" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val maxD = orders.agg(max("o_orderdate").as("mx"))
      val cust = orders.crossJoin(broadcast(maxD))
        .groupBy("o_custkey")
        .agg(expr("datediff(max(mx), max(o_orderdate))").as("recency_days"),
          count(lit(1)).as("frequency"),
          round(sum("o_totalprice"), 6).as("monetary"))
      val one = substring(col("o_custkey").cast("string"), 1, 0)
      val scored = cust
        .withColumn("r_score", ntile(5).over(
          Window.partitionBy(one).orderBy(col("recency_days").desc, col("o_custkey"))))
        .withColumn("f_score", ntile(5).over(
          Window.partitionBy(one).orderBy(col("frequency"), col("o_custkey"))))
        .withColumn("m_score", ntile(5).over(
          Window.partitionBy(one).orderBy(col("monetary"), col("o_custkey"))))
      scored.withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
          .when(col("r_score") >= 4, "recent")
          .when(col("f_score") >= 4, "loyal")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "at_risk")
          .otherwise("regular"))
    }),

    // Trending / receding terms between corpus halves (the heavy-changer
    // monitor a crawl pipeline runs between snapshots): per-token share
    // in the early vs late half (doc_id order as ingest order, the
    // q_dedup_incremental convention), top-20 by |Δshare| at min support
    // 10. One (half, token) aggregation + a token-keyed outer join +
    // TakeOrderedAndProject — never a vocab sort of the corpus.
    "q_trending_terms" -> ((s, dir) => {
      val mid = docs(s, dir).agg(expr("(min(doc_id) + max(doc_id)) div 2").as("mid"))
      val toks = docs(s, dir).crossJoin(broadcast(mid))
        .withColumn("half", when(col("doc_id") <= col("mid"), "old").otherwise("new"))
        .select(col("half"), explode(split(col("text"), " ")).as("w"))
        .groupBy("half", "w").agg(count(lit(1)).as("c"))
      val tot = toks.groupBy("half").agg(sum("c").as("n"))
      val wide = toks.join(tot, "half")
        .groupBy("w")
        .agg(sum(when(col("half") === "old", col("c")).otherwise(0L)).as("c_old"),
          sum(when(col("half") === "new", col("c")).otherwise(0L)).as("c_new"),
          max(when(col("half") === "old", col("n"))).as("n_old_m"),
          max(when(col("half") === "new", col("n"))).as("n_new_m"))
      val tots = wide.agg(max("n_old_m").as("n_old"), max("n_new_m").as("n_new"))
      wide.crossJoin(broadcast(tots))
        .where(col("c_old") + col("c_new") >= 10)
        .withColumn("share_old", expr("CAST(c_old AS DOUBLE) / CAST(n_old AS DOUBLE)"))
        .withColumn("share_new", expr("CAST(c_new AS DOUBLE) / CAST(n_new AS DOUBLE)"))
        .withColumn("delta", expr("share_new - share_old"))
        .select(col("w").as("token"), col("c_old"), col("c_new"),
          round(col("share_old"), 6).as("share_old"), round(col("share_new"), 6).as("share_new"),
          round(col("delta"), 6).as("delta"))
        .orderBy(abs(col("delta")).desc, col("token"))
        .limit(20)
    }),

    // Interrupted time-series analysis — the deterministic skeleton of
    // CausalImpact (Brodersen et al. 2015): fit the trend+seasonality
    // counterfactual on the pre-period (the proven prophet-lite ridge
    // basis), project it over the post-period, and read the cumulative
    // actual-vs-counterfactual effect with a z-test against the
    // pre-period residual scale. Per-series kernel after the one-row
    // reduction; the oracle refits the same 12-param Gauss-Jordan on the
    // pre rows and aggregates the same projections.
    "q_causal_impact" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      val dense = Tables.denseHourly(s, dir)
      SeriesOps.aggSeries(dense, S,
        Seq("n_pre", "n_post", "cum_actual", "cum_pred", "abs_effect", "rel_effect", "z", "significant")) { xs =>
        val n = xs.length
        val nPre = 3 * n / 4
        val pre = xs.take(nPre)
        val fitted = graft.models.Regressors.prophetLiteFitted(pre, period = 24, orders = 3, nChangepoints = 4)
        var ss = 0.0
        var i = 0
        while (i < nPre) { val e = pre(i) - fitted(i); ss += e * e; i += 1 }
        val sigma = BigDecimal(math.max(math.sqrt(ss / nPre), 1e-6))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val fc = graft.models.Regressors.prophetLite(pre, period = 24, orders = 3, nChangepoints = 4, h = n - nPre)
        var ca = 0.0; var cp = 0.0
        i = nPre
        while (i < n) { ca += xs(i); cp += fc(i - nPre); i += 1 }
        val nPost = (n - nPre).toDouble
        val eff = ca - cp
        val z = eff / (sigma * math.sqrt(nPost))
        Array(nPre.toDouble, nPost, ca, cp, eff,
          if (cp == 0.0) 0.0 else eff / cp, z, if (math.abs(z) > 1.96) 1.0 else 0.0)
      }
    }),

    // Augmented Dickey-Fuller unit-root test, constant-only, 2 lagged
    // diffs — the standard complement of q_feat_unitroot_kpss (ADF's H0
    // is a unit root, KPSS's H0 is stationarity; production practice
    // reads them as a pair). Δx_t = α + ρ·x_{t−1} + φ1Δx_{t−1} + φ2Δx_{t−2};
    // t(ρ) needs the (ρ,ρ) entry of (XᵀX)⁻¹, so the normal equations are
    // solved with TWO right-hand sides ([Xᵀy | e_ρ]) through the shared
    // no-pivot Gauss-Jordan (identical float sequence on both engines);
    // moments snap to the 4-dp grid (the Granger discipline). Reject the
    // unit root at the MacKinnon 5% constant-only critical value −2.86.
    "q_adf" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
      val lagged = hourly(s, dir).drop("n")
        .withColumn("l1", lag("value", 1).over(w))
        .withColumn("l2", lag("value", 2).over(w))
        .withColumn("l3", lag("value", 3).over(w))
        .where(col("l3").isNotNull)
        .withColumn("dy", col("value") - col("l1"))
        .withColumn("xl", col("l1"))
        .withColumn("d1", col("l1") - col("l2"))
        .withColumn("d2", col("l2") - col("l3"))
      val moments = Seq(
        "s0" -> "count(*)", "sxl" -> "round(sum(xl), 4)", "sd1" -> "round(sum(d1), 4)",
        "sd2" -> "round(sum(d2), 4)", "sdy" -> "round(sum(dy), 4)",
        "sxlxl" -> "round(sum(xl*xl), 4)", "sxld1" -> "round(sum(xl*d1), 4)",
        "sxld2" -> "round(sum(xl*d2), 4)", "sxldy" -> "round(sum(xl*dy), 4)",
        "sd1d1" -> "round(sum(d1*d1), 4)", "sd1d2" -> "round(sum(d1*d2), 4)",
        "sd1dy" -> "round(sum(d1*dy), 4)", "sd2d2" -> "round(sum(d2*d2), 4)",
        "sd2dy" -> "round(sum(d2*dy), 4)", "sdydy" -> "round(sum(dy*dy), 4)")
      val mom = lagged.groupBy("event_type")
        .agg(expr(moments.head._2).as(moments.head._1),
          moments.tail.map { case (nm, e) => expr(e).as(nm) }: _*)
        .withColumn("n0", col("s0").cast("double"))
      val aug = Seq(
        "n0", "sxl", "sd1", "sd2", "sdy", "0.0D",
        "sxl", "sxlxl", "sxld1", "sxld2", "sxldy", "1.0D",
        "sd1", "sxld1", "sd1d1", "sd1d2", "sd1dy", "0.0D",
        "sd2", "sxld2", "sd1d2", "sd2d2", "sd2dy", "0.0D")
      val solved = graft.models.GaussJordan.eliminate(
        mom.withColumn("_m", expr(aug.mkString("array(", ", ", ")"))), "_m", 4, 6)
      solved
        .withColumn("alpha", expr("_m[4]"))
        .withColumn("rho", expr("_m[10]"))
        .withColumn("phi1", expr("_m[16]"))
        .withColumn("phi2", expr("_m[22]"))
        .withColumn("v_rho", expr("_m[11]"))
        .withColumn("rss", expr("sdydy - (alpha * sdy + rho * sxldy + phi1 * sd1dy + phi2 * sd2dy)"))
        .withColumn("s2", expr("rss / (n0 - 4.0)"))
        .withColumn("t_adf", expr("rho / sqrt(s2 * v_rho)"))
        .select(col("event_type"), col("s0").as("n_obs"),
          round(col("rho"), 6).as("rho"), round(col("t_adf"), 6).as("t_adf"),
          when(col("t_adf") < -2.86, 1).otherwise(0).as("stationary"))
    }),

    // Stationary distribution of the event-type Markov chain (closes the
    // q_event_transitions / q_entropy_rate family): π = πP by 40 fixed
    // power-iteration steps from uniform; rows without outgoing
    // transitions fall back to the uniform row (the standard teleport
    // fix). The matrix is #states² (tiny by construction) — driver-side
    // iteration is the k×dim-state discipline; the oracle replays the
    // identical iteration on a flat row-major list.
    "q_stationary_dist" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .withColumn("nxt", lead("event_type", 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("event_type").as("cur"), col("nxt")).agg(count(lit(1)).as("c"))
        .collect()
      val states = pairs.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.sorted
      val k = states.length
      val si = states.zipWithIndex.toMap
      val cnt = Array.ofDim[Long](k, k)
      pairs.foreach(r => cnt(si(r.getString(0)))(si(r.getString(1))) = r.getLong(2))
      val rowTot = cnt.map(_.sum)
      val pm = Array.tabulate(k, k) { (i, j) =>
        if (rowTot(i) == 0L) 1.0 / k.toDouble else cnt(i)(j).toDouble / rowTot(i).toDouble
      }
      var pi = Array.fill(k)(1.0 / k.toDouble)
      var it = 0
      while (it < 40) {
        pi = Array.tabulate(k) { j =>
          var acc = 0.0; var i = 0
          while (i < k) { acc = acc + pi(i) * pm(i)(j); i += 1 }
          acc
        }
        it += 1
      }
      import s.implicits._
      states.zip(pi).toSeq
        .map { case (st, p) => (st, BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toDF("state", "pi")
    }),

    "q_date_features" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), unix_timestamp(col("ts")).as("ts_s"),
          year(col("ts")).as("year"), month(col("ts")).as("month"), dayofmonth(col("ts")).as("day"),
          ((dayofweek(col("ts")) + 5) % 7).as("dow"),
          dayofyear(col("ts")).as("doy"), quarter(col("ts")).as("quarter"),
          weekofyear(col("ts")).as("weekofyear"),
          ((dayofweek(trunc(col("ts"), "MM")) + lit(5)) % 7).as("dow1"),
          last_day(col("ts")).as("ld"))
        .withColumn("season", expr(seasonCase))
        .withColumn("weekofmonth", ceil((col("dow1") + col("day")) / 7.0).cast("int"))
        .withColumn("is_weekend", when(col("dow") >= 5, 1).otherwise(0))
        .withColumn("is_leap_year",
          when(col("year") % 4 === 0 && (col("year") % 100 =!= 0 || col("year") % 400 === 0), 1).otherwise(0))
        .withColumn("is_leap_day", when(col("month") === 2 && col("day") === 29, 1).otherwise(0))
        .withColumn("is_month_end", when(col("day") === dayofmonth(col("ld")), 1).otherwise(0))
        // the reference's literal quirk: month % 4 == 3 (Mar/Jul/Nov ends)
        .withColumn("is_quarter_end",
          when(col("is_month_end") === 1 && col("month") % 4 === 3, 1).otherwise(0))
        .select("event_id", "ts_s", "year", "month", "day", "dow", "doy", "quarter", "season",
          "weekofyear", "weekofmonth", "is_weekend", "is_leap_year", "is_leap_day",
          "is_month_end", "is_quarter_end")),

    "q_pmi_collocations" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .where(size(col("ws")) >= 2)
      val uni = base.select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val bi = base.select(explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> array_join(slice(ws, i + 1, 2), ' '))")).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cxy_l"))
        .withColumn("w1", expr("split_part(gram, ' ', 1)"))
        .withColumn("w2", expr("split_part(gram, ' ', 2)"))
      val nu = uni.agg(sum("c").as("nu_l"))
      val nb = bi.agg(sum("cxy_l").as("nb_l"))
      bi.where(col("cxy_l") >= 5)
        .join(uni.select(col("w").as("w1"), col("c").as("cx_l")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("cy_l")), Seq("w2"))
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .withColumn("cxy", col("cxy_l").cast("double"))
        .withColumn("cx", col("cx_l").cast("double"))
        .withColumn("cy", col("cy_l").cast("double"))
        .withColumn("nu", col("nu_l").cast("double"))
        .withColumn("nb", col("nb_l").cast("double"))
        .withColumn("pmi", round(expr(pmiFrag), 6))
        .select(col("gram"), col("cxy_l").as("c_pair"), col("cx_l").as("c_left"),
          col("cy_l").as("c_right"), col("pmi"))
        .orderBy(col("pmi").desc, col("gram"))
        .limit(20)
    }),

    // ── Synthetic control (Abadie et al. 2010, OLS-weight variant): the
    // lexicographically first series is "treated", the other four are
    // donors; donor weights fit by the shared 6-dp-snapped normal
    // equations + GaussJordan kernel on the pre-period (first half of
    // the balanced panel), the counterfactual projects over the post
    // period, and the effect is the post-period gap with a z against
    // the pre-period residual scale. The q_causal_impact companion when
    // parallel UNITS exist instead of a parallel model. Panel width is
    // the 5-series literal (the q_partial_corr convention); the panel
    // lives on 12-hour buckets — the coarsest grid every series still
    // reports on at the smallest SF — balanced buckets only. ──
    "q_synth_control" -> ((s, dir) => {
      import s.implicits._
      val b12 = Tables.hourlyEvents(s, dir).drop("n")
        .groupBy(col("event_type"), expr("unix_timestamp(ts) DIV 43200").as("seg"))
        .agg(round(sum("value"), 6).as("value"))
      val rk = b12.select("event_type").distinct()
        .withColumn("ai", row_number().over(
          Window.partitionBy(substring(col("event_type"), 1, 0)).orderBy("event_type")))
      val panel = b12.join(broadcast(rk), "event_type")
        .groupBy("seg").agg(
          max(when(col("ai") === 1, col("value"))).as("y"),
          max(when(col("ai") === 2, col("value"))).as("x1"),
          max(when(col("ai") === 3, col("value"))).as("x2"),
          max(when(col("ai") === 4, col("value"))).as("x3"),
          max(when(col("ai") === 5, col("value"))).as("x4"),
          count(lit(1)).as("kk"))
        .where(col("kk") === 5)
      val zt = substring(col("seg").cast("string"), 1, 0)
      val base = Scratch.materialize(panel
        .withColumn("rn", row_number().over(Window.partitionBy(zt).orderBy("seg")))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy(zt)))
        .withColumn("pre", col("rn") <= col("nn") / 2), "synth_panel")
      val zs = Seq("1.0E0", "x1", "x2", "x3", "x4")
      val moms = (for { i <- 0 until 5; j <- 0 to 5 } yield {
        val t = if (j == 5) "y" else zs(j)
        s"round(sum(${zs(i)} * $t), 6)"
      }).mkString(", ")
      val mr = graft.models.GaussJordan.eliminate(
        base.where(col("pre")).agg(expr(s"array($moms)").as("_m")), "_m", 5, 6)
        .select((1 to 5).map(k => expr(s"_m[${(k - 1) * 6 + 5}]").as(s"b$k")): _*)
        .head()
      val bdf = Seq((mr.getDouble(0), mr.getDouble(1), mr.getDouble(2), mr.getDouble(3),
        mr.getDouble(4))).toDF("b1", "b2", "b3", "b4", "b5")
      base.crossJoin(broadcast(bdf))
        .withColumn("gap", expr("y - (b1 + b2 * x1 + b3 * x2 + b4 * x3 + b5 * x4)"))
        .groupBy()
        .agg(
          sum(when(col("pre"), 1L).otherwise(0L)).as("n_pre"),
          sum(when(!col("pre"), 1L).otherwise(0L)).as("n_post"),
          first("b1").as("w0"), first("b2").as("w1"), first("b3").as("w2"),
          first("b4").as("w3"), first("b5").as("w4"),
          round(sum(when(col("pre"), col("gap") * col("gap")).otherwise(0.0)), 4).as("sse_pre"),
          round(sum(when(col("pre"), col("gap")).otherwise(0.0)), 4).as("sg_pre"),
          round(sum(when(!col("pre"), col("gap")).otherwise(0.0)), 4).as("sg_post"))
        .withColumn("pre_sd", expr(
          "sqrt((sse_pre - sg_pre * sg_pre / n_pre) / (n_pre - 1))"))
        .select(col("n_pre"), col("n_post"),
          round(col("w0"), 6).as("w_intercept"), round(col("w1"), 6).as("w_d1"),
          round(col("w2"), 6).as("w_d2"), round(col("w3"), 6).as("w_d3"),
          round(col("w4"), 6).as("w_d4"),
          round(expr("sqrt(sse_pre / n_pre)"), 6).as("pre_rmse"),
          round(expr("sg_post / n_post"), 6).as("post_mean_gap"),
          round(col("sg_post"), 4).as("post_cum_gap"),
          round(expr("(sg_post / n_post) / pre_sd"), 6).as("z"))
    }),

    // ── Effective rank (participation ratio) of the embedding-prefix
    // covariance: er = tr(S)²/tr(S²) — the intrinsic-dimension proxy
    // (Roy & Vetterli 2007) that needs NO eigendecomposition because
    // both traces are basis-free sums over the snapped Gram entries.
    // An embedding space collapsing onto few directions (er ≪ dims)
    // degrades retrieval before recall metrics notice. One distributed
    // moment aggregation; everything after is closed form on 44 doubles. ──
    "q_effective_rank" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select((0 until PD).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)
      val aggs =
        (0 until PD).map(i => round(sum(col(s"x$i")), 4).as(s"s$i")) ++
          (for { i <- 0 until PD; j <- i until PD }
            yield round(sum(col(s"x$i") * col(s"x$j")), 4).as(s"ss${i}_$j")) :+
          count(lit(1)).as("n")
      var df = base.agg(aggs.head, aggs.tail: _*)
      for { i <- 0 until PD; j <- i until PD }
        df = df.withColumn(s"c${i}_$j", expr(covFrag(i, j)))
      val trace = (0 until PD).map(i => s"c${i}_$i").mkString(" + ")
      val fro = (for { i <- 0 until PD; j <- 0 until PD } yield {
        val (a, b) = if (i <= j) (i, j) else (j, i); s"c${a}_$b * c${a}_$b"
      }).mkString(" + ")
      val maxd = "greatest(" + (0 until PD).map(i => s"c${i}_$i").mkString(", ") + ")"
      df.withColumn("trace", expr(trace))
        .withColumn("fro2", expr(fro))
        .withColumn("maxd", expr(maxd))
        .select(col("n").as("n_vectors"), lit(PD).as("dims"),
          round(col("trace"), 6).as("trace"),
          round(expr("trace * trace / fro2"), 6).as("effective_rank"),
          round(expr("maxd / trace"), 6).as("top_dim_share"))
    }),

    "q_embed_pca" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select((0 until PD).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)
      val aggs =
        (0 until PD).map(i => round(sum(col(s"x$i")), 4).as(s"s$i")) ++
          (for { i <- 0 until PD; j <- i until PD }
            yield round(sum(col(s"x$i") * col(s"x$j")), 4).as(s"ss${i}_$j")) :+
          count(lit(1)).as("n")
      val row = base.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = row.getAs[Long]("n").toDouble
      val sv = (0 until PD).map(i => row.getAs[Double](s"s$i")).toArray
      val c = Array.tabulate(PD, PD) { (i, j) =>
        val (a, b) = if (i <= j) (i, j) else (j, i)
        (row.getAs[Double](s"ss${a}_$b") - sv(a) * sv(b) / n) / (n - 1.0)
      }
      var trace = 0.0
      (0 until PD).foreach(i => trace = trace + c(i)(i))
      val (v1, lam1) = powerIter(c)
      val d = Array.tabulate(PD, PD)((i, j) => c(i)(j) - lam1 * v1(i) * v1(j))
      val (v2, lam2) = powerIter(d)
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      Seq((1, r6(lam1), r6(lam1 / trace), v1.map(r6).toSeq), (2, r6(lam2), r6(lam2 / trace), v2.map(r6).toSeq))
        .map { case (comp, lam, ex, l) => (comp, lam, ex, l(0), l(1), l(2), l(3), l(4), l(5), l(6), l(7)) }
        .toDF("component", "eigenvalue", "explained", "l0", "l1", "l2", "l3", "l4", "l5", "l6", "l7")
    }),

    // PCA reconstruction-error anomaly scoring (the subspace method of
    // classical multivariate QC — Jackson & Mudholkar 1979): vectors whose
    // residual outside the top-2 principal subspace is largest are the
    // structural outliers the centroid-distance screen (q_embed_outliers)
    // cannot see (it has no notion of the corpus' covariance shape).
    // PC loadings + mean are 6-dp-SNAPPED before scoring on BOTH engines,
    // so sub-6dp power-iteration wobble cannot reach the scores; the
    // per-vector fold is left-to-right over the 8 dims in both engines.
    // Scale: the 8×8 moment collect is k×dim driver state; scoring is one
    // scan pass; top-20 compiles to TakeOrderedAndProject.
    "q_pca_anomaly" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select((0 until PD).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)
      val aggs =
        (0 until PD).map(i => round(sum(col(s"x$i")), 4).as(s"s$i")) ++
          (for { i <- 0 until PD; j <- i until PD }
            yield round(sum(col(s"x$i") * col(s"x$j")), 4).as(s"ss${i}_$j")) :+
          count(lit(1)).as("n")
      val row = base.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = row.getAs[Long]("n").toDouble
      val sv = (0 until PD).map(i => row.getAs[Double](s"s$i")).toArray
      val c = Array.tabulate(PD, PD) { (i, j) =>
        val (a, b) = if (i <= j) (i, j) else (j, i)
        (row.getAs[Double](s"ss${a}_$b") - sv(a) * sv(b) / n) / (n - 1.0)
      }
      val (v1raw, lam1) = powerIter(c)
      val d = Array.tabulate(PD, PD)((i, j) => c(i)(j) - lam1 * v1raw(i) * v1raw(j))
      val (v2raw, _) = powerIter(d)
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val mu = sv.map(x => r6(x / n))
      val v1 = v1raw.map(r6)
      val v2 = v2raw.map(r6)
      def litArr(a: Array[Double]) = array(a.map(lit(_)): _*)
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
        transform(slice(col("embedding"), 1, PD), x => x.cast("double")).as("pv"))
        .withColumn("cent", zip_with(col("pv"), litArr(mu), _ - _))
        .withColumn("p1", aggregate(zip_with(col("cent"), litArr(v1), _ * _), lit(0.0), _ + _))
        .withColumn("p2", aggregate(zip_with(col("cent"), litArr(v2), _ * _), lit(0.0), _ + _))
        .withColumn("ss", aggregate(transform(col("cent"), x => x * x), lit(0.0), _ + _))
        .withColumn("resid", col("ss") - col("p1") * col("p1") - col("p2") * col("p2"))
      e.orderBy(col("resid").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), col("label"),
          round(col("resid"), 6).as("resid"),
          round(col("p1"), 6).as("proj1"),
          round(col("p2"), 6).as("proj2"))
    }))

  private val sigChainSql = sigChain.map { case (n, f) => s"$f AS $n" }

  val sql: Map[String, String] = Map(
    "q_cusum_multi" -> cusumMultiSql,

    "q_prophet_trend" -> {
      // identical Laplace-MAP replay as the q_prophet_lite oracle
      // (ModelQueries.prophetMapCtes), re-targeted at the winner's
      // sparse changepoint deltas w.b[3..6] scaled back to original
      // units; + 0.0 normalizes a −0.0 round result
      def d(k: Int) = s"round(w.b[${2 + k}] * f.yscale, 6) + 0.0"
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value AS y,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |${ModelQueries.prophetMapCtes}
         |SELECT f.event_type, ${d(1)} AS d1, ${d(2)} AS d2, ${d(3)} AS d3, ${d(4)} AS d4,
         |  f.n, w.n_active::BIGINT AS n_active,
         |  CASE WHEN abs(${d(1)}) >= abs(${d(2)}) AND abs(${d(1)}) >= abs(${d(3)}) AND abs(${d(1)}) >= abs(${d(4)}) THEN 1
         |       WHEN abs(${d(2)}) >= abs(${d(3)}) AND abs(${d(2)}) >= abs(${d(4)}) THEN 2
         |       WHEN abs(${d(3)}) >= abs(${d(4)}) THEN 3 ELSE 4 END AS top_cp,
         |  round(greatest(abs(${d(1)}), abs(${d(2)}), abs(${d(3)}), abs(${d(4)})), 6) AS top_score,
         |  (CASE WHEN abs(${d(1)}) >= abs(${d(2)}) AND abs(${d(1)}) >= abs(${d(3)}) AND abs(${d(1)}) >= abs(${d(4)}) THEN 1
         |        WHEN abs(${d(2)}) >= abs(${d(3)}) AND abs(${d(2)}) >= abs(${d(4)}) THEN 2
         |        WHEN abs(${d(3)}) >= abs(${d(4)}) THEN 3 ELSE 4 END * f.n) // 5 AS top_t
         |FROM pf f JOIN pwin w ON f.event_type = w.event_type AND w.rk = 1""".stripMargin
    },

    "q_stationary_dist" ->
      """WITH RECURSIVE p0 AS (SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |pairs AS (SELECT cur, nxt, count(*) AS c FROM p0 WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |states AS (SELECT DISTINCT st FROM
        |  (SELECT cur AS st FROM pairs UNION ALL SELECT nxt FROM pairs)),
        |idx AS (SELECT st, row_number() OVER (ORDER BY st) AS i, count(*) OVER () AS k FROM states),
        |tot AS (SELECT cur, sum(c) AS ca FROM pairs GROUP BY 1),
        |grid AS (SELECT a.i AS i, b.i AS j,
        |    CASE WHEN t.ca IS NULL THEN 1.0 / CAST(a.k AS DOUBLE)
        |         ELSE coalesce(CAST(p.c AS DOUBLE) / CAST(t.ca AS DOUBLE), 0.0) END AS pr
        |  FROM idx a CROSS JOIN idx b
        |    LEFT JOIN pairs p ON p.cur = a.st AND p.nxt = b.st
        |    LEFT JOIN tot t ON t.cur = a.st),
        |mat AS (SELECT max(i) AS k, list(pr ORDER BY i, j) AS pm FROM grid),
        |rec AS (
        |  SELECT 0 AS it, list_transform(range(1, k + 1), x -> 1.0 / CAST(k AS DOUBLE)) AS pi, k, pm
        |  FROM mat
        |  UNION ALL
        |  SELECT it + 1,
        |    list_transform(range(1, k + 1), j ->
        |      list_sum(list_transform(range(1, k + 1), i -> pi[i] * pm[(i - 1) * k + j]))),
        |    k, pm
        |  FROM rec WHERE it < 40)
        |SELECT s.st AS state, round(r.pi[s.i], 6) AS pi
        |FROM rec r, idx s WHERE r.it = 40""".stripMargin,

    "q_adf" -> {
      val rss = "(m.sdydy - (be.b1[1] * m.sdy + be.b1[2] * m.sxldy + be.b1[3] * m.sd1dy + be.b1[4] * m.sd2dy))"
      val t = s"be.b1[2] / sqrt(($rss / (CAST(m.s0 AS DOUBLE) - 4.0)) * be.b2[2])"
      s"""WITH RECURSIVE hourly AS ($H),
         |lg AS (SELECT event_type, value,
         |    lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, lag(value, 3) OVER w AS l3
         |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |rows_ AS (SELECT event_type, value - l1 AS dy, l1 AS xl, l1 - l2 AS d1, l2 - l3 AS d2
         |  FROM lg WHERE l3 IS NOT NULL),
         |mom AS (SELECT event_type, count(*)::BIGINT AS s0,
         |    round(sum(xl), 4) AS sxl, round(sum(d1), 4) AS sd1, round(sum(d2), 4) AS sd2,
         |    round(sum(dy), 4) AS sdy, round(sum(xl*xl), 4) AS sxlxl, round(sum(xl*d1), 4) AS sxld1,
         |    round(sum(xl*d2), 4) AS sxld2, round(sum(xl*dy), 4) AS sxldy,
         |    round(sum(d1*d1), 4) AS sd1d1, round(sum(d1*d2), 4) AS sd1d2,
         |    round(sum(d1*dy), 4) AS sd1dy, round(sum(d2*d2), 4) AS sd2d2,
         |    round(sum(d2*dy), 4) AS sd2dy, round(sum(dy*dy), 4) AS sdydy
         |  FROM rows_ GROUP BY 1),
         |mats AS (SELECT event_type,
         |    [CAST(s0 AS DOUBLE), sxl, sd1, sd2, sdy, 0.0,
         |     sxl, sxlxl, sxld1, sxld2, sxldy, 1.0,
         |     sd1, sxld1, sd1d1, sd1d2, sd1dy, 0.0,
         |     sd2, sxld2, sd1d2, sd2d2, sd2dy, 0.0] AS m
         |  FROM mom),
         |${graft.models.GaussJordan.sqlAug(4, 2)}
         |SELECT m.event_type, m.s0 AS n_obs,
         |  round(be.b1[2], 6) AS rho,
         |  round($t, 6) AS t_adf,
         |  CASE WHEN $t < -2.86 THEN 1 ELSE 0 END AS stationary
         |FROM mom m JOIN beta be USING (event_type)""".stripMargin
    },

    "q_causal_impact" -> {
      // the q_prophet_lite basis/solve chain refit on the PRE rows only
      // (np = 3n//4 plays the basis n), then projected over the post rows
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
      def fc(tt: String, nn: String): String =
        s"be.b[1] + be.b[2] * ($tt::DOUBLE / $nn) + " +
          (1 to 4).map(j => s"be.b[${2 + j}] * greatest(0.0, ($tt - ($j * $nn / 5.0)) / $nn)").mkString(" + ") + " + " +
          (1 to 3).map(k =>
            s"be.b[${2 * k + 5}] * sin(2 * pi() * $k * $tt / 24) + be.b[${2 * k + 6}] * cos(2 * pi() * $k * $tt / 24)").mkString(" + ")
      val fcPre = fc("o.t", "o.n")
      val fcPost = fc("q.t", "q.np")
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value AS y,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS t,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dense),
         |ord2 AS (SELECT event_type, y, t, n, (3 * n) // 4 AS np FROM ord),
         |bs AS (SELECT event_type, y, t, np AS n,
         |         $bCols
         |       FROM (SELECT event_type, y, t, np, np AS n FROM ord2 WHERE t < np)),
         |mats AS (SELECT event_type,
         |         [$matEntries] AS m
         |         FROM bs GROUP BY 1),
         |${ModelQueries.gaussJordanSql(p)},
         |sig AS (SELECT o.event_type,
         |          round(greatest(sqrt(sum((o.y - ($fcPre)) * (o.y - ($fcPre))) / max(o.n)), 1e-6), 6) AS sigma,
         |          max(o.n) AS np
         |        FROM bs o JOIN beta be USING (event_type) GROUP BY 1),
         |proj AS (SELECT q.event_type, sum(q.y) AS ca, sum($fcPost) AS cp,
         |           count(*) AS n_post
         |         FROM (SELECT event_type, y, t, np FROM ord2 WHERE t >= np) q
         |           JOIN beta be USING (event_type) GROUP BY 1)
         |SELECT s.event_type,
         |  round(CAST(s.np AS DOUBLE), 6) AS n_pre,
         |  round(CAST(p2.n_post AS DOUBLE), 6) AS n_post,
         |  round(p2.ca, 6) AS cum_actual, round(p2.cp, 6) AS cum_pred,
         |  round(p2.ca - p2.cp, 6) AS abs_effect,
         |  round(CASE WHEN p2.cp = 0.0 THEN 0.0 ELSE (p2.ca - p2.cp) / p2.cp END, 6) AS rel_effect,
         |  round((p2.ca - p2.cp) / (s.sigma * sqrt(CAST(p2.n_post AS DOUBLE))), 6) AS z,
         |  round(CASE WHEN abs((p2.ca - p2.cp) / (s.sigma * sqrt(CAST(p2.n_post AS DOUBLE)))) > 1.96
         |        THEN 1.0 ELSE 0.0 END, 6) AS significant
         |FROM sig s JOIN proj p2 USING (event_type)""".stripMargin
    },

    "q_trending_terms" ->
      """WITH mid AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents),
        |toks AS (SELECT CASE WHEN doc_id <= mid THEN 'old' ELSE 'new' END AS half, w, count(*) AS c
        |         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), mid
        |         GROUP BY 1, 2),
        |tot AS (SELECT half, sum(c) AS n FROM toks GROUP BY 1),
        |wide AS (SELECT w,
        |           sum(CASE WHEN half = 'old' THEN c ELSE 0 END)::BIGINT AS c_old,
        |           sum(CASE WHEN half = 'new' THEN c ELSE 0 END)::BIGINT AS c_new
        |         FROM toks GROUP BY 1),
        |tots AS (SELECT max(CASE WHEN half = 'old' THEN n END) AS n_old,
        |           max(CASE WHEN half = 'new' THEN n END) AS n_new FROM tot),
        |sc AS (SELECT w, c_old, c_new,
        |         CAST(c_old AS DOUBLE) / CAST(n_old AS DOUBLE) AS share_old,
        |         CAST(c_new AS DOUBLE) / CAST(n_new AS DOUBLE) AS share_new
        |       FROM wide, tots WHERE c_old + c_new >= 10),
        |dd AS (SELECT *, share_new - share_old AS delta FROM sc)
        |SELECT w AS token, c_old, c_new, round(share_old, 6) AS share_old,
        |  round(share_new, 6) AS share_new, round(delta, 6) AS delta
        |FROM dd ORDER BY abs(delta) DESC, token LIMIT 20""".stripMargin,

    "q_benford" ->
      """WITH d AS (SELECT CAST(floor(l_extendedprice * power(10.0, -floor(log10(l_extendedprice)))) AS INT) AS digit
        |           FROM lineitem WHERE l_extendedprice > 0),
        |counts AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn FROM counts),
        |base AS (SELECT digit, n, CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS share,
        |           log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS expected
        |         FROM counts, tot),
        |b2 AS (SELECT *, abs(share - expected) AS dev FROM base),
        |mad AS (SELECT round(avg(dev), 6) AS mad FROM b2)
        |SELECT digit, n, round(share, 6) AS share, round(expected, 6) AS expected,
        |  round(dev, 6) AS dev, mad
        |FROM b2, mad""".stripMargin,

    "q_rfm" ->
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |cust AS (SELECT o_custkey,
        |           date_diff('day', max(o_orderdate)::DATE, max(mx)::DATE)::INT AS recency_days,
        |           count(*) AS frequency, round(sum(o_totalprice), 6) AS monetary
        |         FROM orders, mx GROUP BY 1),
        |sc AS (SELECT *, ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
        |         ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
        |         ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score FROM cust)
        |SELECT *, CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |               WHEN r_score >= 4 THEN 'recent'
        |               WHEN f_score >= 4 THEN 'loyal'
        |               WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
        |               ELSE 'regular' END AS segment
        |FROM sc""".stripMargin,

    "q_spc_rules" ->
      s"""WITH hourly AS ($H),
         |base AS (SELECT event_type, ts, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM hourly),
         |mo AS (SELECT event_type, round(avg(value), 6) AS mu,
         |    round(greatest(stddev_pop(value), 1e-6), 6) AS sigma
         |  FROM base WHERE rn <= nn // 2 GROUP BY 1),
         |serve AS (SELECT b.event_type, b.ts, b.value, b.rn, (b.value - m.mu) / m.sigma AS z
         |  FROM base b JOIN mo m USING (event_type) WHERE b.rn > b.nn // 2),
         |r AS (SELECT *,
         |    CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END AS r1,
         |    CASE WHEN (sum(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 AND z > 2.0)
         |           OR (sum(CASE WHEN z < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 AND z < -2.0)
         |         THEN 1 ELSE 0 END AS r2,
         |    CASE WHEN (sum(CASE WHEN z > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 AND z > 1.0)
         |           OR (sum(CASE WHEN z < -1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 AND z < -1.0)
         |         THEN 1 ELSE 0 END AS r3,
         |    CASE WHEN sum(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) OVER w8 = 8
         |           OR sum(CASE WHEN z < 0.0 THEN 1 ELSE 0 END) OVER w8 = 8
         |         THEN 1 ELSE 0 END AS r4
         |  FROM serve
         |  WINDOW w3 AS (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         |         w5 AS (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |         w8 AS (PARTITION BY event_type ORDER BY rn ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         |SELECT event_type, epoch_us(ts)//1000000 AS ts_s, value, round(z, 6) AS z, r1, r2, r3, r4
         |FROM r WHERE r1 + r2 + r3 + r4 > 0""".stripMargin,

    "q_holt_damped" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM hourly),
         |rec AS (
         |  SELECT o1.event_type, 0 AS i, o1.value AS l, o2.value - o1.value AS b, o1.n
         |  FROM ord o1 JOIN ord o2 ON o1.event_type = o2.event_type AND o2.rn = 2
         |  WHERE o1.rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1,
         |    0.3 * o.value + (1 - 0.3) * (r.l + 0.9 * r.b),
         |    0.1 * (0.3 * o.value + (1 - 0.3) * (r.l + 0.9 * r.b) - r.l) + (1 - 0.1) * (0.9 * r.b),
         |    r.n
         |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.i + 2
         |  WHERE r.i + 1 <= r.n - 1)
         |SELECT event_type, round(l, 6) AS level, round(b, 6) AS trend,
         |  round(l + (0.9 * (1 - power(0.9, 1)) / (1 - 0.9E0)) * b, 6) AS yhat_1,
         |  round(l + (0.9 * (1 - power(0.9, 24)) / (1 - 0.9E0)) * b, 6) AS yhat_24
         |FROM rec WHERE i = n - 1""".stripMargin,

    "q_holtwinters_mul" ->
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
         |    list_transform(f24, (x, i) ->
         |      greatest(x / greatest(m1 + ((i - 1) - 11.5) * ((m2 - m1) / 24), 1e-6), 1e-6)) AS s
         |  FROM init
         |  UNION ALL
         |  SELECT event_type, n, t + 1, l2,
         |    0.05 * (l2 - l) + (1 - 0.05) * b,
         |    list_transform(s, (x, i) -> CASE WHEN i = si + 1
         |      THEN greatest(0.1 * (xv / l2) + (1 - 0.1) * x, 1e-6) ELSE x END)
         |  FROM (
         |    SELECT r.event_type, r.n, r.t, r.l, r.b, r.s, o.value AS xv, r.t % 24 AS si,
         |      greatest(0.3 * (o.value / r.s[(r.t % 24) + 1]) + (1 - 0.3) * (r.l + r.b), 1e-6) AS l2
         |    FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t
         |    WHERE r.t < r.n))
         |SELECT event_type, round(l, 6) AS level, round(b, 6) AS trend,
         |  round((l + 1 * b) * s[((n + 1 - 1) % 24) + 1], 6) AS yhat_1,
         |  round((l + 24 * b) * s[((n + 24 - 1) % 24) + 1], 6) AS yhat_24
         |FROM rec WHERE t = n""".stripMargin,

    "q_garch_vol" -> {
      val omegaMul = (1.0 - graft.models.Garch.Alpha - graft.models.Garch.Beta).toString
      val invThresh = (1.0 / 1.5).toString
      val step = "d.omega + 0.1 * (t.r * t.r) + 0.85 * d.s2"
      s"""WITH RECURSIVE hourly AS ($H),
         |rets AS (SELECT event_type,
         |    value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS r,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS rn
         |  FROM hourly),
         |par AS (SELECT event_type, count(*) AS m,
         |    round(greatest((sum(r * r) - sum(r) * sum(r) / count(*)) / count(*), 1e-12), 6) AS vt
         |  FROM rets WHERE r IS NOT NULL GROUP BY 1),
         |par2 AS (SELECT *, vt * $omegaMul AS omega FROM par),
         |dp AS (
         |  SELECT event_type, 1 AS k, vt AS s2, sqrt(vt) AS sumsig, m, omega FROM par2
         |  UNION ALL
         |  SELECT d.event_type, d.k + 1, $step, d.sumsig + sqrt($step), d.m, d.omega
         |  FROM dp d JOIN rets t ON t.event_type = d.event_type AND t.rn = d.k
         |  WHERE d.k < d.m)
         |SELECT d.event_type, round(CAST(d.m AS DOUBLE), 6) AS n_returns,
         |  round(d.omega, 6) AS omega, round(sqrt(d.s2), 6) AS sigma_last,
         |  round(d.sumsig / d.m, 6) AS sigma_mean,
         |  round(sqrt(d.s2) / sqrt(p.vt), 6) AS vol_ratio,
         |  round(CASE WHEN sqrt(d.s2) / sqrt(p.vt) > 1.5
         |               OR sqrt(d.s2) / sqrt(p.vt) < $invThresh
         |        THEN 1.0 ELSE 0.0 END, 6) AS clustered
         |FROM dp d JOIN par2 p USING (event_type) WHERE d.k = d.m""".stripMargin
    },

    "q_entropy_rate" ->
      """WITH p AS (SELECT event_type AS cur,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |           FROM events),
        |pairs AS (SELECT cur, nxt, count(*) AS c FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |ct AS (SELECT cur, sum(c) AS ca FROM pairs GROUP BY 1),
        |nt AS (SELECT sum(c) AS nn FROM pairs),
        |h AS (SELECT count(*) AS n_pairs, count(DISTINCT pairs.cur) AS n_states,
        |        round(-sum((CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(ca AS DOUBLE))), 6) AS entropy_rate
        |      FROM pairs JOIN ct USING (cur), nt)
        |SELECT n_pairs, n_states, entropy_rate, round(exp(entropy_rate), 6) AS perplexity FROM h""".stripMargin,

    "q_croston" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn
         |  FROM dense),
         |nz AS (SELECT event_type, value AS z, rn,
         |    row_number() OVER (PARTITION BY event_type ORDER BY rn) AS k,
         |    rn - coalesce(lag(rn) OVER (PARTITION BY event_type ORDER BY rn), 0) AS gap
         |  FROM ord WHERE value > 0),
         |kk AS (SELECT event_type, max(k) AS kmax FROM nz GROUP BY 1),
         |sm AS (SELECT n.event_type,
         |    sum(CASE WHEN n.k = 1 THEN power(0.9, c.kmax - 1) * n.z
         |             ELSE 0.1 * power(0.9, c.kmax - n.k) * n.z END) AS z_hat,
         |    sum(CASE WHEN n.k = 1 THEN power(0.9, c.kmax - 1) * n.gap
         |             ELSE 0.1 * power(0.9, c.kmax - n.k) * n.gap END) AS y_hat
         |  FROM nz n JOIN kk c USING (event_type) GROUP BY 1)
         |SELECT s.event_type, round(CAST(c.kmax AS DOUBLE), 6) AS n_nonzero,
         |  round(s.z_hat, 6) AS z_hat, round(s.y_hat, 6) AS y_hat,
         |  round(s.z_hat / s.y_hat, 6) AS croston,
         |  round((1 - 0.1 / 2) * (s.z_hat / s.y_hat), 6) AS sba
         |FROM sm s JOIN kk c USING (event_type)""".stripMargin,

    "q_hmm_regimes" -> {
      val lnS = graft.detectors.HmmRegimes.LnStay.toString
      val lnW = graft.detectors.HmmRegimes.LnSwitch.toString
      def em(mu: String) =
        s"(-0.5 * (((o.value - p.$mu) / p.sigma) * ((o.value - p.$mu) / p.sigma)))"
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM hourly),
         |med AS (SELECT event_type, value AS med FROM (
         |    SELECT event_type, value,
         |      row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
         |      count(*) OVER (PARTITION BY event_type) AS nn
         |    FROM ord) WHERE vr = (nn + 1) // 2),
         |par AS (SELECT o.event_type,
         |    round(avg(o.value) FILTER (WHERE o.value <= m.med), 6) AS mu0,
         |    coalesce(round(avg(o.value) FILTER (WHERE o.value > m.med), 6),
         |             round(avg(o.value) FILTER (WHERE o.value <= m.med), 6)) AS mu1,
         |    round(greatest(sqrt(greatest((sum(o.value * o.value) - sum(o.value) * sum(o.value) / max(o.n)) / max(o.n), 0.0)), 1e-6), 6) AS sigma
         |  FROM ord o JOIN med m USING (event_type) GROUP BY 1),
         |dp AS (
         |  SELECT p.event_type, 1 AS t, ${em("mu0")} AS v0, ${em("mu1")} AS v1,
         |    [0] AS b0, [0] AS b1, o.n AS n
         |  FROM par p JOIN ord o ON p.event_type = o.event_type AND o.rn = 1
         |  UNION ALL
         |  SELECT d.event_type, d.t + 1,
         |    (CASE WHEN d.v0 + $lnS >= d.v1 + $lnW THEN d.v0 + $lnS ELSE d.v1 + $lnW END) + ${em("mu0")},
         |    (CASE WHEN d.v0 + $lnW >= d.v1 + $lnS THEN d.v0 + $lnW ELSE d.v1 + $lnS END) + ${em("mu1")},
         |    list_append(d.b0, CASE WHEN d.v0 + $lnS >= d.v1 + $lnW THEN 0 ELSE 1 END),
         |    list_append(d.b1, CASE WHEN d.v0 + $lnW >= d.v1 + $lnS THEN 0 ELSE 1 END),
         |    d.n
         |  FROM dp d JOIN par p USING (event_type)
         |    JOIN ord o ON o.event_type = d.event_type AND o.rn = d.t + 1
         |  WHERE d.t < d.n),
         |fin AS (SELECT event_type, CASE WHEN v0 >= v1 THEN 0 ELSE 1 END AS st, b0, b1,
         |          CAST(n AS INTEGER) AS n
         |        FROM dp WHERE t = n),
         |bt AS (
         |  SELECT event_type, n AS t, st, b0, b1 FROM fin
         |  UNION ALL
         |  SELECT event_type, t - 1, CASE WHEN st = 0 THEN b0[t] ELSE b1[t] END, b0, b1
         |  FROM bt WHERE t > 1),
         |isl AS (SELECT event_type, t, st,
         |    t - row_number() OVER (PARTITION BY event_type, st ORDER BY t) AS grp
         |  FROM bt),
         |segs AS (SELECT event_type, st AS state, min(t) - 1 AS start_idx, max(t) AS end_idx,
         |    count(*) AS n_points
         |  FROM isl GROUP BY event_type, st, grp)
         |SELECT s.event_type,
         |  row_number() OVER (PARTITION BY s.event_type ORDER BY s.start_idx) AS seg_no,
         |  s.state, s.start_idx, s.end_idx, s.n_points,
         |  round(CASE WHEN s.state = 0 THEN p.mu0 ELSE p.mu1 END, 6) AS mu_state
         |FROM segs s JOIN par p USING (event_type)""".stripMargin
    },

    "q_pelt" -> {
      val vals = "list_transform(range(0, d.t + 1), s -> " +
        "d.f[s + 1] + ((p.s2[d.t + 2] - p.s2[s + 1]) - " +
        "(p.sx[d.t + 2] - p.sx[s + 1]) * (p.sx[d.t + 2] - p.sx[s + 1]) / (d.t + 1 - s)) + p.beta)"
      s"""WITH RECURSIVE hourly AS ($H),
         |ord AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM hourly),
         |pre AS (SELECT event_type, rn, n,
         |    sum(value) OVER (PARTITION BY event_type ORDER BY rn) AS sx,
         |    sum(value * value) OVER (PARTITION BY event_type ORDER BY rn) AS s2
         |  FROM ord),
         |arr AS (SELECT event_type, max(n) AS n,
         |    list_prepend(0.0::DOUBLE, list(sx ORDER BY rn)) AS sx,
         |    list_prepend(0.0::DOUBLE, list(s2 ORDER BY rn)) AS s2
         |  FROM pre GROUP BY 1),
         |par AS (SELECT *,
         |    2.0 * greatest((s2[n + 1] - sx[n + 1] * sx[n + 1] / n) / n, 0.0)
         |      * ln(CAST(n AS DOUBLE)) AS beta
         |  FROM arr),
         |dp AS (
         |  SELECT p.event_type, 0 AS t, [CAST(-p.beta AS DOUBLE)] AS f, [0] AS cp FROM par p
         |  UNION ALL
         |  SELECT d.event_type, d.t + 1,
         |    list_append(d.f, list_min($vals)),
         |    list_append(d.cp, CAST(list_position($vals, list_min($vals)) - 1 AS INTEGER))
         |  FROM dp d JOIN par p USING (event_type) WHERE d.t < p.n),
         |fin AS (SELECT d.event_type, d.cp, p.sx, CAST(p.n AS INTEGER) AS n
         |        FROM dp d JOIN par p USING (event_type) WHERE d.t = p.n),
         |bt AS (
         |  SELECT event_type, cp, sx, n AS e FROM fin
         |  UNION ALL
         |  SELECT event_type, cp, sx, cp[e + 1] FROM bt WHERE e > 0),
         |segs AS (SELECT event_type, cp[e + 1] AS start_idx, e AS end_idx,
         |    (sx[e + 1] - sx[cp[e + 1] + 1]) / (e - cp[e + 1]) AS seg_mean
         |  FROM bt WHERE e > 0)
         |SELECT event_type,
         |  row_number() OVER (PARTITION BY event_type ORDER BY start_idx) AS seg_no,
         |  start_idx, end_idx, round(seg_mean, 6) AS seg_mean,
         |  count(*) OVER (PARTITION BY event_type) AS n_segments
         |FROM segs""".stripMargin
    },

    "q_power_mde" ->
      """WITH ev AS (SELECT user_id, event_type, date_trunc('week', ts) AS wk,
        |              ('0x' || substr(md5(user_id::VARCHAR || ':ab1'), 1, 1))::BIGINT % 2 AS arm
        |            FROM events),
        |pw AS (SELECT wk,
        |         count(DISTINCT user_id) FILTER (WHERE arm = 0) AS n_a,
        |         count(DISTINCT user_id) FILTER (WHERE arm = 1) AS n_b,
        |         count(DISTINCT user_id) FILTER (WHERE event_type = 'purchase') AS s_all,
        |         count(DISTINCT user_id) AS n_all
        |       FROM ev GROUP BY 1),
        |m AS (SELECT *, CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE) AS p FROM pw),
        |m2 AS (SELECT *,
        |         (1.9599639845400545 + 0.8416212335729143) * sqrt(p * (1.0 - p) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS mde_abs
        |       FROM m),
        |m3 AS (SELECT *, CASE WHEN p <= 0.0 THEN NULL ELSE mde_abs / p END AS mde_rel FROM m2)
        |SELECT epoch_us(wk)//1000000 AS week_s, n_a, n_b,
        |  round(p, 6) AS p_base, round(mde_abs, 6) AS mde_abs, round(mde_rel, 6) AS mde_rel,
        |  CASE WHEN mde_rel <= 0.1 THEN 1 ELSE 0 END AS powered_10pct
        |FROM m3""".stripMargin,

    "q_gini_vocab" ->
      """WITH counts AS (SELECT source, w, count(*) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2),
        |rk AS (SELECT source, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c, w) AS rn,
        |    count(*) OVER (PARTITION BY source) AS nv,
        |    sum(c) OVER (PARTITION BY source) AS tot
        |  FROM counts)
        |SELECT source, max(nv) AS n_vocab, max(tot)::BIGINT AS n_tokens,
        |  round(sum((2 * rn - nv - 1) * c) / (max(nv) * max(tot)), 6) AS gini
        |FROM rk GROUP BY 1""".stripMargin,

    "q_drift_psi" ->
      s"""WITH hourly AS ($H),
         |base AS (SELECT event_type, ts, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM hourly),
         |halves AS (SELECT *, CASE WHEN rn <= nn // 2 THEN 'base' ELSE 'cur' END AS half FROM base),
         |bv AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
         |    count(*) OVER (PARTITION BY event_type) AS nb
         |  FROM halves WHERE half = 'base'),
         |edges AS (SELECT event_type, k, min(value) AS edge
         |  FROM bv CROSS JOIN (SELECT unnest(range(1, 10)) AS k) ks
         |  WHERE vr = greatest((k * nb) // 10, 1) GROUP BY 1, 2),
         |binned AS (SELECT h.event_type, h.half, h.rn,
         |    sum(CASE WHEN h.value > e.edge THEN 1 ELSE 0 END) AS bin
         |  FROM halves h JOIN edges e USING (event_type) GROUP BY 1, 2, 3),
         |counts AS (SELECT event_type, half, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3),
         |tot AS (SELECT event_type, half, count(*) AS n FROM binned GROUP BY 1, 2),
         |grid AS (SELECT t.event_type, t.half, b.bin, t.n,
         |    (coalesce(c.c, 0) + 0.5) / (CAST(t.n AS DOUBLE) + 5.0) AS share
         |  FROM tot t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
         |    LEFT JOIN counts c ON t.event_type = c.event_type AND t.half = c.half AND b.bin = c.bin),
         |pp AS (SELECT event_type, bin, share AS p, n AS n_base FROM grid WHERE half = 'base'),
         |qq AS (SELECT event_type, bin, share AS q, n AS n_cur FROM grid WHERE half = 'cur')
         |SELECT pp.event_type, max(pp.n_base) AS n_base, max(qq.n_cur) AS n_cur,
         |  round(sum((p - q) * ln(p / q)), 6) AS psi,
         |  CASE WHEN round(sum((p - q) * ln(p / q)), 6) > 0.2 THEN 1 ELSE 0 END AS drift
         |FROM pp JOIN qq ON pp.event_type = qq.event_type AND pp.bin = qq.bin
         |GROUP BY 1""".stripMargin,

    "q_conformal" ->
      s"""WITH hourly AS ($H),
         |base AS (SELECT event_type, ts, value, hour(ts) AS hod,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM hourly),
         |split AS (SELECT *, floor(nn * 0.5) AS n_train, floor(nn * 0.25) AS n_cal,
         |    CASE WHEN rn <= floor(nn * 0.5) THEN 'train'
         |         WHEN rn <= floor(nn * 0.5) + floor(nn * 0.25) THEN 'cal'
         |         ELSE 'test' END AS fold
         |  FROM base),
         |model AS (SELECT event_type, hod, round(avg(value), 6) AS yhat
         |          FROM split WHERE fold = 'train' GROUP BY 1, 2),
         |fb AS (SELECT event_type, round(avg(value), 6) AS yhat_g
         |       FROM split WHERE fold = 'train' GROUP BY 1),
         |scored AS (SELECT s.event_type, s.fold, s.ts,
         |    abs(s.value - coalesce(m.yhat, fb.yhat_g)) AS score
         |  FROM split s LEFT JOIN model m ON s.event_type = m.event_type AND s.hod = m.hod
         |    JOIN fb ON s.event_type = fb.event_type
         |  WHERE s.fold <> 'train'),
         |cal AS (SELECT event_type, round(score, 6) AS q_radius, m AS n_cal_rows FROM (
         |    SELECT event_type, score,
         |      row_number() OVER (PARTITION BY event_type ORDER BY score) AS rk,
         |      count(*) OVER (PARTITION BY event_type) AS m
         |    FROM scored WHERE fold = 'cal')
         |  WHERE rk = least(((m + 1) * 9 + 9) // 10, m))
         |SELECT s.event_type, max(c.n_cal_rows) AS n_cal, count(*) AS n_test,
         |  max(c.q_radius) AS q_radius,
         |  round(avg(CASE WHEN s.score <= c.q_radius THEN 1.0 ELSE 0.0 END), 6) AS coverage,
         |  round(max(c.q_radius) * 2, 6) AS width
         |FROM scored s JOIN cal c ON s.event_type = c.event_type
         |WHERE s.fold = 'test' GROUP BY 1""".stripMargin,

    "q_interval_ab" -> {
      val chain = abChain
      s"""WITH ev AS (SELECT user_id, event_type, date_trunc('hour', ts) AS h,
         |              ('0x' || substr(md5(user_id::VARCHAR || ':ab1'), 1, 1))::BIGINT % 2 AS arm
         |            FROM events),
         |ph AS (SELECT h, arm, count(DISTINCT user_id) AS n,
         |         count(DISTINCT user_id) FILTER (WHERE event_type = 'purchase') AS ss
         |       FROM ev GROUP BY 1, 2),
         |j AS (SELECT a.h, a.n AS n_a, a.ss AS s_a, b.n AS n_b, b.ss AS s_b
         |      FROM ph a JOIN ph b ON a.h = b.h WHERE a.arm = 0 AND b.arm = 1),
         |z1 AS (SELECT h, n_a, n_b, ${chain.map { case (n, f) => s"$f AS $n" }.mkString(", ")} FROM j),
         |z2 AS (SELECT *, CASE WHEN z > $NormCrit05 THEN 1 ELSE 0 END AS reject,
         |         row_number() OVER (ORDER BY h) AS rn
         |       FROM z1),
         |g AS (SELECT *, rn - row_number() OVER (ORDER BY h) AS grp FROM z2 WHERE reject = 1)
         |SELECT epoch_us(min(h))//1000000 AS start_s, epoch_us(max(h))//1000000 AS end_s,
         |  count(*) AS n_hours, round(max(z), 6) AS max_z,
         |  CASE WHEN count(*) >= $AbDuration THEN 'anomaly' ELSE 'caution' END AS kind
         |FROM g GROUP BY grp""".stripMargin
    },

    "q_stat_sig_multi" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |rk AS (SELECT event_type, value,
         |         row_number() OVER (PARTITION BY event_type ORDER BY ts DESC) AS rn
         |       FROM hourly),
         |mo AS (SELECT event_type,
         |         round(sum(value) FILTER (WHERE rn <= $NT), 4) AS s_t,
         |         round(sum(value * value) FILTER (WHERE rn <= $NT), 4) AS ss_t,
         |         round(sum(value) FILTER (WHERE rn > $NT), 4) AS s_c,
         |         round(sum(value * value) FILTER (WHERE rn > $NT), 4) AS ss_c
         |       FROM rk WHERE rn <= ${NC + NT} GROUP BY 1 HAVING count(*) = ${NC + NT}),
         |s1 AS (SELECT event_type, ${sigChainSql.take(5).mkString(", ")} FROM mo),
         |s2 AS (SELECT event_type, m_c, m_t, ${sigChainSql(5)} FROM s1),
         |s3 AS (SELECT event_type, m_c, m_t, t_raw, ${sigChainSql(6)} FROM s2),
         |s4 AS (SELECT event_type, m_c, m_t, t_raw, x, ${sigChainSql(7)} FROM s3),
         |s5 AS (SELECT event_type, m_c, m_t, t_raw, ${sigChainSql(8)} FROM s4),
         |bh AS (SELECT *, count(*) OVER (PARTITION BY 1) AS m_cnt,
         |         row_number() OVER (PARTITION BY 1 ORDER BY p_raw, event_type) AS rnk
         |       FROM s5),
         |adj AS (SELECT *, CAST(m_cnt AS DOUBLE) * p_raw / CAST(rnk AS DOUBLE) AS raw_adj FROM bh),
         |fin AS (SELECT *, least(min(raw_adj) OVER (PARTITION BY 1 ORDER BY p_raw DESC, event_type DESC
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) AS p_adj
         |        FROM adj),
         |tb AS (
         |  SELECT event_type, 0 AS it, 0.0::DOUBLE AS lo, 1000.0::DOUBLE AS hi FROM fin
         |  UNION ALL
         |  SELECT event_type, it + 1,
         |    CASE WHEN g > ph THEN mid ELSE lo END,
         |    CASE WHEN g > ph THEN hi ELSE mid END
         |  FROM (SELECT event_type, it, lo, hi, ph, mid, (1.0 - x * $tPoly) AS g
         |        FROM (SELECT *, (1.0 - x * x) AS u
         |              FROM (SELECT *, (mid / sqrt($DF.0 + mid * mid)) AS x
         |                    FROM (SELECT b.event_type, b.it, b.lo, b.hi, s.p_adj AS ph,
         |                                 (b.lo + b.hi) / 2.0 AS mid
         |                          FROM tb b JOIN fin s USING (event_type)
         |                          WHERE b.it < 80))))),
         |tfin AS (SELECT event_type, (lo + hi) / 2.0 AS tq FROM tb WHERE it = 80)
         |SELECT f.event_type, $NC AS n_control, $NT AS n_test,
         |  round(m_c, 6) AS m_control, round(m_t, 6) AS m_test,
         |  round(t_raw, 6) AS t_score, round(p_raw, 6) AS p_value,
         |  round(p_adj, 6) AS p_adj,
         |  round(CASE WHEN f.t_raw < 0 THEN -tf.tq ELSE tf.tq END, 6) AS t_adj,
         |  CASE WHEN p_adj < 0.05 THEN 1 ELSE 0 END AS significant,
         |  CASE WHEN t_raw > 0 THEN 1 WHEN t_raw < 0 THEN -1 ELSE 0 END AS direction
         |FROM fin f JOIN tfin tf USING (event_type)""".stripMargin,

    "q_date_features" ->
      s"""SELECT event_id, epoch_us(date_trunc('microsecond', ts))//1000000 AS ts_s,
         |  year(ts)::INT AS year, month(ts)::INT AS month, day(ts)::INT AS day,
         |  (isodow(ts) - 1)::INT AS dow, dayofyear(ts)::INT AS doy,
         |  quarter(ts)::INT AS quarter,
         |  (CASE WHEN month(ts) IN (12, 1) THEN 0 WHEN month(ts) <= 5 THEN 1
         |        WHEN month(ts) <= 8 THEN 2 ELSE 3 END)::INT AS season,
         |  weekofyear(ts)::INT AS weekofyear,
         |  ceil(((isodow(date_trunc('month', ts)) - 1) + day(ts)) / 7.0)::INT AS weekofmonth,
         |  (CASE WHEN isodow(ts) - 1 >= 5 THEN 1 ELSE 0 END)::INT AS is_weekend,
         |  (CASE WHEN year(ts) % 4 = 0 AND (year(ts) % 100 <> 0 OR year(ts) % 400 = 0)
         |        THEN 1 ELSE 0 END)::INT AS is_leap_year,
         |  (CASE WHEN month(ts) = 2 AND day(ts) = 29 THEN 1 ELSE 0 END)::INT AS is_leap_day,
         |  (CASE WHEN day(ts) = day(last_day(ts)) THEN 1 ELSE 0 END)::INT AS is_month_end,
         |  (CASE WHEN day(ts) = day(last_day(ts)) AND month(ts) % 4 = 3
         |        THEN 1 ELSE 0 END)::INT AS is_quarter_end
         |FROM events""".stripMargin,

    "q_pmi_collocations" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |              WHERE len(string_split(text, ' ')) >= 2),
         |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM base) GROUP BY 1),
         |bi AS (SELECT gram, count(*) AS cxy_l,
         |         split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2
         |       FROM (SELECT unnest(list_transform(range(1, len(ws)),
         |                      i -> ws[i] || ' ' || ws[i + 1])) AS gram FROM base)
         |       GROUP BY 1),
         |nu_t AS (SELECT sum(c) AS nu_l FROM uni),
         |nb_t AS (SELECT sum(cxy_l) AS nb_l FROM bi),
         |j AS (SELECT bi.gram, bi.cxy_l, u1.c AS cx_l, u2.c AS cy_l,
         |        CAST(bi.cxy_l AS DOUBLE) AS cxy, CAST(u1.c AS DOUBLE) AS cx,
         |        CAST(u2.c AS DOUBLE) AS cy, CAST(nu_l AS DOUBLE) AS nu, CAST(nb_l AS DOUBLE) AS nb
         |      FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w, nu_t, nb_t
         |      WHERE bi.cxy_l >= 5)
         |SELECT gram, cxy_l AS c_pair, cx_l AS c_left, cy_l AS c_right,
         |  round($pmiFrag, 6) AS pmi
         |FROM j ORDER BY pmi DESC, gram LIMIT 20""".stripMargin,

    "q_synth_control" -> {
      val zs = Seq("1.0E0", "x1", "x2", "x3", "x4")
      val moms = (for { i <- 0 until 5; j <- 0 to 5 } yield {
        val t = if (j == 5) "y" else zs(j)
        s"round(sum(${zs(i)} * $t), 6)"
      }).mkString(", ")
      s"""WITH RECURSIVE hourly AS ($H),
         |b12 AS (SELECT event_type, epoch_us(ts) // 1000000 // 43200 AS seg,
         |          round(sum(value), 6) AS value
         |        FROM hourly GROUP BY 1, 2),
         |rk AS (SELECT event_type, row_number() OVER (ORDER BY event_type) AS ai
         |       FROM (SELECT DISTINCT event_type FROM b12)),
         |panel AS (SELECT h.seg,
         |    max(CASE WHEN r.ai = 1 THEN h.value END) AS y,
         |    max(CASE WHEN r.ai = 2 THEN h.value END) AS x1,
         |    max(CASE WHEN r.ai = 3 THEN h.value END) AS x2,
         |    max(CASE WHEN r.ai = 4 THEN h.value END) AS x3,
         |    max(CASE WHEN r.ai = 5 THEN h.value END) AS x4,
         |    count(*) AS kk
         |  FROM b12 h JOIN rk r USING (event_type) GROUP BY 1),
         |bal AS (SELECT * FROM panel WHERE kk = 5),
         |base AS (SELECT *, row_number() OVER (ORDER BY seg) AS rn,
         |    count(*) OVER () AS nn FROM bal),
         |pp AS (SELECT *, rn <= nn / 2 AS pre FROM base),
         |scmats AS (SELECT 'all' AS event_type, [$moms] AS m FROM pp WHERE pre),
         |${graft.models.GaussJordan.sqlAug(5, 1, "sc")},
         |gp AS (SELECT p.pre,
         |    p.y - (b.b1[1] + b.b1[2] * p.x1 + b.b1[3] * p.x2 + b.b1[4] * p.x3 + b.b1[5] * p.x4) AS gap,
         |    b.b1[1] AS w0, b.b1[2] AS w1, b.b1[3] AS w2, b.b1[4] AS w3, b.b1[5] AS w4
         |  FROM pp p CROSS JOIN scbeta b),
         |agg AS (SELECT
         |    sum(CASE WHEN pre THEN 1 ELSE 0 END)::BIGINT AS n_pre,
         |    sum(CASE WHEN pre THEN 0 ELSE 1 END)::BIGINT AS n_post,
         |    max(w0) AS w0, max(w1) AS w1, max(w2) AS w2, max(w3) AS w3, max(w4) AS w4,
         |    round(sum(CASE WHEN pre THEN gap * gap ELSE 0.0E0 END), 4) AS sse_pre,
         |    round(sum(CASE WHEN pre THEN gap ELSE 0.0E0 END), 4) AS sg_pre,
         |    round(sum(CASE WHEN pre THEN 0.0E0 ELSE gap END), 4) AS sg_post
         |  FROM gp),
         |sd AS (SELECT *, sqrt((sse_pre - sg_pre * sg_pre / n_pre) / (n_pre - 1)) AS pre_sd FROM agg)
         |SELECT n_pre, n_post,
         |  round(w0, 6) AS w_intercept, round(w1, 6) AS w_d1, round(w2, 6) AS w_d2,
         |  round(w3, 6) AS w_d3, round(w4, 6) AS w_d4,
         |  round(sqrt(sse_pre / n_pre), 6) AS pre_rmse,
         |  round(sg_post / n_post, 6) AS post_mean_gap,
         |  round(sg_post, 4) AS post_cum_gap,
         |  round((sg_post / n_post) / pre_sd, 6) AS z
         |FROM sd""".stripMargin
    },

    "q_effective_rank" -> {
      val moments =
        ((0 until PD).map(i => s"round(sum(embedding[${i + 1}]::DOUBLE), 4) AS s$i") ++
          (for { i <- 0 until PD; j <- i until PD }
            yield s"round(sum(embedding[${i + 1}]::DOUBLE * embedding[${j + 1}]::DOUBLE), 4) AS ss${i}_$j") :+
          "count(*) AS n").mkString(", ")
      val covCols = (for { i <- 0 until PD; j <- i until PD }
        yield s"${covFrag(i, j)} AS c${i}_$j").mkString(", ")
      val trace = (0 until PD).map(i => s"c${i}_$i").mkString(" + ")
      val fro = (for { i <- 0 until PD; j <- 0 until PD } yield {
        val (a, b) = if (i <= j) (i, j) else (j, i); s"c${a}_$b * c${a}_$b"
      }).mkString(" + ")
      val maxd = "greatest(" + (0 until PD).map(i => s"c${i}_$i").mkString(", ") + ")"
      s"""WITH mom AS (SELECT $moments FROM embeddings),
         |cv AS (SELECT n, $covCols FROM mom),
         |st AS (SELECT n, $trace AS trace, $fro AS fro2, $maxd AS maxd FROM cv)
         |SELECT n::BIGINT AS n_vectors, $PD AS dims, round(trace, 6) AS trace,
         |  round(trace * trace / fro2, 6) AS effective_rank,
         |  round(maxd / trace, 6) AS top_dim_share
         |FROM st""".stripMargin
    },

    "q_embed_pca" -> {
      val moments =
        ((0 until PD).map(i => s"round(sum(embedding[${i + 1}]::DOUBLE), 4) AS s$i") ++
          (for { i <- 0 until PD; j <- i until PD }
            yield s"round(sum(embedding[${i + 1}]::DOUBLE * embedding[${j + 1}]::DOUBLE), 4) AS ss${i}_$j") :+
          "count(*) AS n").mkString(", ")
      val covCols = (for { i <- 0 until PD; j <- 0 until PD }
        yield s"${covFrag(i, j)} AS c${i}_$j").mkString(", ")
      val trace = (0 until PD).map(i => s"c${i}_$i").mkString("(", " + ", ")")
      val defl = (for { i <- 0 until PD; j <- 0 until PD }
        yield s"c${i}_$j - lam1 * v$i * v$j AS c${i}_$j").mkString(", ")
      val loads1 = (0 until PD).map(i => s"round(p.v$i, 6) AS l$i").mkString(", ")
      val loads2 = (0 until PD).map(i => s"round(p.v$i, 6) AS l$i").mkString(", ")
      s"""WITH RECURSIVE
         |mo AS (SELECT $moments FROM embeddings),
         |cov AS (SELECT $covCols FROM mo),
         |${iterCte("it1", "cov")},
         |pc1 AS (SELECT v0, v1, v2, v3, v4, v5, v6, v7, $lamExpr AS lam1
         |        FROM it1, cov WHERE step = $ITERS),
         |cov2 AS (SELECT $defl FROM cov, pc1),
         |${iterCte("it2", "cov2")},
         |pc2 AS (SELECT v0, v1, v2, v3, v4, v5, v6, v7, $lamExpr AS lam2
         |        FROM it2, cov2 WHERE step = $ITERS)
         |SELECT 1 AS component, round(p.lam1, 6) AS eigenvalue,
         |  round(p.lam1 / $trace, 6) AS explained, $loads1
         |FROM pc1 p, cov
         |UNION ALL
         |SELECT 2, round(p.lam2, 6), round(p.lam2 / $trace, 6), $loads2
         |FROM pc2 p, cov""".stripMargin
    },

    "q_pca_anomaly" -> {
      // identical moments/cov/power-iteration chain as the q_embed_pca
      // oracle, then 6-dp-snapped (mean, v1, v2) drive the scoring pass —
      // the fold over the 8 dims is left-to-right in both engines
      val moments =
        ((0 until PD).map(i => s"round(sum(embedding[${i + 1}]::DOUBLE), 4) AS s$i") ++
          (for { i <- 0 until PD; j <- i until PD }
            yield s"round(sum(embedding[${i + 1}]::DOUBLE * embedding[${j + 1}]::DOUBLE), 4) AS ss${i}_$j") :+
          "count(*) AS n").mkString(", ")
      val covCols = (for { i <- 0 until PD; j <- 0 until PD }
        yield s"${covFrag(i, j)} AS c${i}_$j").mkString(", ")
      val defl = (for { i <- 0 until PD; j <- 0 until PD }
        yield s"c${i}_$j - lam1 * v$i * v$j AS c${i}_$j").mkString(", ")
      val snap = ((0 until PD).map(i => s"round(mo.s$i / mo.n, 6) AS m$i") ++
        (0 until PD).map(i => s"round(p1.v$i, 6) AS w1$i") ++
        (0 until PD).map(i => s"round(p2.v$i, 6) AS w2$i")).mkString(", ")
      def fold(term: Int => String) = (0 until PD).map(term).mkString(" + ")
      val p1 = fold(i => s"(embedding[${i + 1}]::DOUBLE - m$i) * w1$i")
      val p2 = fold(i => s"(embedding[${i + 1}]::DOUBLE - m$i) * w2$i")
      val ss = fold(i => s"(embedding[${i + 1}]::DOUBLE - m$i) * (embedding[${i + 1}]::DOUBLE - m$i)")
      s"""WITH RECURSIVE
         |mo AS (SELECT $moments FROM embeddings),
         |cov AS (SELECT $covCols FROM mo),
         |${iterCte("it1", "cov")},
         |pc1 AS (SELECT v0, v1, v2, v3, v4, v5, v6, v7, $lamExpr AS lam1
         |        FROM it1, cov WHERE step = $ITERS),
         |cov2 AS (SELECT $defl FROM cov, pc1),
         |${iterCte("it2", "cov2")},
         |pc2 AS (SELECT v0, v1, v2, v3, v4, v5, v6, v7, $lamExpr AS lam2
         |        FROM it2, cov2 WHERE step = $ITERS),
         |snap AS (SELECT $snap FROM mo, pc1 p1, pc2 p2),
         |score AS (SELECT vec_id, label, $p1 AS p1, $p2 AS p2, $ss AS ss
         |          FROM embeddings, snap)
         |SELECT vec_id, label,
         |  round(ss - p1 * p1 - p2 * p2, 6) AS resid,
         |  round(p1, 6) AS proj1, round(p2, 6) AS proj2
         |FROM score
         |ORDER BY (ss - p1 * p1 - p2 * p2) DESC, vec_id
         |LIMIT 20""".stripMargin
    })
}
