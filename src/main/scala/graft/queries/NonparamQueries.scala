package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SeriesOps, TS, TSSchema, Tables}

/** Nonparametric two-sample battery + robust M-estimation:
  *
  *  - `q_mann_whitney` — Mann-Whitney U between the series' dense-grid
  *    halves, tie-corrected normal z and Cliff's delta effect size. All
  *    rank machinery is the integer doubled-average-rank (2·rank+ties−1),
  *    so U, the tie correction Σ(t³−t) and delta are exact integer
  *    ratios — the distribution-free location test next to q_ks_test's
  *    shape test (no continuity correction, declared).
  *  - `q_cvm_test` — two-sample Cramér-von Mises (Anderson 1962
  *    computational form): T = U/(n·m·N) − (4nm−1)/(6N) with
  *    U = n·Σ(r_i−i)² + m·Σ(s_j−j)² over deterministic combined ranks
  *    (ties broken by (value, grp, ts) — declared); U is an exact
  *    BIGINT. Flag at the asymptotic 5% critical value 0.461.
  *  - `q_energy_dist` — Székely energy distance between the halves:
  *    E = 2·mean|x−y| − mean|x−x'| − mean|y−y'| (V-statistic, diagonal
  *    included) on 1e6-scaled integer values, so every pairwise sum is
  *    an exact BIGINT; T = nm/(n+m)·E. O(n²) per series with n the hour
  *    grid (time-span-bounded); pair generators are key-equality
  *    self-joins on the series id.
  *  - `q_huber` — Huber M-estimator trend fit (Huber 1964) per series:
  *    OLS init, scale k = 1.345·1.4826·MAD of the initial residuals,
  *    8 IRLS rounds of w = min(1, k/|e|) weighted normal equations.
  *    The whole fit runs in the one-series-per-row kernel as a fixed
  *    IEEE sequence; the oracle replays every iteration (and the exact
  *    order-statistic median) as a recursive CTE over the same list —
  *    bit-exact, no snapping. The outlier-resistant complement to
  *    q_linear_trend, next to q_theil_sen / q_siegel's rank forms.
  */
object NonparamQueries {

  private val H = Tables.hourlySql

  /** Dense halves with the q_ks_test split convention: row_number over
    * the dense grid, first half rn <= n/2. */
  private def halves(s: SparkSession, dir: String): DataFrame = {
    val wo = Window.partitionBy("event_type").orderBy("ts")
    Tables.denseHourly(s, dir)
      .withColumn("rn", row_number().over(wo))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("grp", when(col("rn") <= col("nn") / 2, 1).otherwise(2))
  }

  private val halvesSql: String =
    s"""rn AS (SELECT event_type, ts, value,
       |         row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS nn
       |       FROM dense),
       |half AS (SELECT event_type, ts, value, rn,
       |           CASE WHEN rn <= nn / 2 THEN 1 ELSE 2 END AS grp
       |         FROM rn)""".stripMargin

  /** The Huber IRLS weighted-moment expressions, spliced into the
    * oracle's recursive step (w inlined everywhere — the identical IEEE
    * sequence the Scala kernel runs). */
  private def huberStep: (String, String) = {
    def w(i: String) =
      s"(CASE WHEN abs(s.ys[$i] - (r.aa + r.bb * $i)) <= s.k THEN 1.0E0 " +
        s"ELSE s.k / abs(s.ys[$i] - (r.aa + r.bb * $i)) END)"
    def ls(body: String) = s"list_sum(list_transform(range(1, s.n + 1), i -> $body))"
    val sw = ls(w("i"))
    val swt = ls(s"${w("i")} * i")
    val swy = ls(s"${w("i")} * s.ys[i]")
    val swtt = ls(s"${w("i")} * i * i")
    val swty = ls(s"${w("i")} * i * s.ys[i]")
    val b = s"(($sw * $swty - $swt * $swy) / ($sw * $swtt - $swt * $swt))"
    val a = s"(($swy - $b * $swt) / $sw)"
    (a, b)
  }

  /** Huber fit of ONE collected series (ascending-ts y values): returns
    * (b0, a, b, k, nDown). Every float op is the sequence the oracle's
    * recursive CTE replays.
    */
  private val huberFit = udf { ysIn: Seq[Double] =>
    val ys = ysIn.toArray
    val n = ys.length
    val st = n.toLong * (n + 1) / 2
    val stt = n.toLong * (n + 1) * (2L * n + 1) / 6
    var sy = 0.0; var sty = 0.0
    var i = 0
    while (i < n) { sy += ys(i); i += 1 }
    i = 0
    while (i < n) { sty += (i + 1).toDouble * ys(i); i += 1 }
    val sxx = stt.toDouble - (st.toDouble * st) / n
    val sxy = sty - (st.toDouble * sy) / n
    val b0 = sxy / sxx
    val a0 = (sy - b0 * st) / n
    def med(a: Array[Double]): Double = {
      val s = a.sorted
      (s((n - 1) / 2) + s(n / 2)) / 2.0
    }
    val e0 = Array.tabulate(n)(j => ys(j) - (a0 + b0 * (j + 1)))
    val m = med(e0)
    val mad = med(e0.map(e => math.abs(e - m)))
    val k = if (mad == 0.0) 1.0e18 else 1.345 * 1.4826 * mad
    var a = a0; var b = b0
    var it = 0
    while (it < 8) {
      var sw = 0.0; var swt = 0.0; var swy = 0.0; var swtt = 0.0; var swty = 0.0
      var j = 0
      while (j < n) {
        val t = (j + 1).toDouble
        val ae = math.abs(ys(j) - (a + b * t))
        val w = if (ae <= k) 1.0 else k / ae
        sw += w; swt += w * t; swy += w * ys(j); swtt += w * t * t; swty += w * t * ys(j)
        j += 1
      }
      val bn = (sw * swty - swt * swy) / (sw * swtt - swt * swt)
      val an = (swy - bn * swt) / sw
      a = an; b = bn
      it += 1
    }
    var nDown = 0L
    i = 0
    while (i < n) {
      if (math.abs(ys(i) - (a + b * (i + 1))) > k) nDown += 1
      i += 1
    }
    (b0, a, b, k, nDown)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_mann_whitney" -> ((s, dir) => {
      val half = halves(s, dir)
      val wv = Window.partitionBy("event_type").orderBy("value")
      val wTies = Window.partitionBy("event_type", "value")
      val ranked = half
        .withColumn("dr", rank().over(wv).cast("long") * 2 + count(lit(1)).over(wTies) - 1)
        .withColumn("tcnt", count(lit(1)).over(wTies))
        .withColumn("tfirst", row_number().over(
          Window.partitionBy("event_type", "value").orderBy("rn")))
      val agg = ranked.groupBy("event_type").agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("grp") === 1, col("dr")).otherwise(0L)).as("r1d"),
        // tie correction Σ(t³ − t): counted once per tied-value group
        sum(when(col("tfirst") === 1,
          col("tcnt") * col("tcnt") * col("tcnt") - col("tcnt")).otherwise(0L)).as("tsum"))
      agg
        .withColumn("u1d", col("r1d") - col("n1") * (col("n1") + 1))
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("varu",
          (col("n1") * col("n2")).cast("double") / 12.0 *
            ((col("nn") + 1).cast("double") -
              col("tsum").cast("double") / (col("nn") * (col("nn") - 1)).cast("double")))
        .select(col("event_type"), col("n1"), col("n2"),
          round(col("u1d").cast("double") / 2.0, 6).as("u"),
          round((col("u1d") - col("n1") * col("n2")).cast("double") /
            (col("n1") * col("n2")).cast("double"), 6).as("cliffs_delta"),
          round((col("u1d") - col("n1") * col("n2")).cast("double") /
            (lit(2.0) * sqrt(col("varu"))), 6).as("z"))
        .withColumn("shifted", when(abs(col("z")) >= 1.96, 1).otherwise(0))
    }),

    "q_cvm_test" -> ((s, dir) => {
      val half = halves(s, dir)
      val wc = Window.partitionBy("event_type").orderBy(col("value"), col("grp"), col("rn"))
      val wg = Window.partitionBy("event_type", "grp").orderBy(col("value"), col("rn"))
      val ranked = half
        .withColumn("crk", row_number().over(wc))
        .withColumn("grk", row_number().over(wg))
        .withColumn("d2", (col("crk") - col("grk")) * (col("crk") - col("grk")))
      ranked.groupBy("event_type").agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("grp") === 1, col("d2")).otherwise(0L)).as("sx"),
        sum(when(col("grp") === 2, col("d2")).otherwise(0L)).as("sy"))
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("uu", col("n1") * col("sx") + col("n2") * col("sy"))
        .withColumn("t_stat",
          col("uu").cast("double") / (col("n1") * col("n2")).cast("double") / col("nn").cast("double") -
            (lit(4.0) * (col("n1") * col("n2")).cast("double") - 1.0) / (lit(6.0) * col("nn").cast("double")))
        .select(col("event_type"), col("n1"), col("n2"), col("uu").as("u_stat"),
          round(col("t_stat"), 6).as("t_stat"),
          when(col("t_stat") > lit(0.461), 1).otherwise(0).as("differs"))
    }),

    "q_energy_dist" -> ((s, dir) => {
      val v6 = halves(s, dir)
        .select(col("event_type"), col("grp"), round(col("value") * 1e6).cast("long").as("v"))
      val x = v6.where(col("grp") === 1).select(col("event_type"), col("v").as("xv"))
      val y = v6.where(col("grp") === 2).select(col("event_type"), col("v").as("yv"))
      val sxy = x.join(y, "event_type").groupBy("event_type")
        .agg(sum(abs(col("xv") - col("yv"))).as("sxy"), count(lit(1)).as("cxy"))
      val sxx = x.join(x.withColumnRenamed("xv", "xw"), "event_type").groupBy("event_type")
        .agg(sum(abs(col("xv") - col("xw"))).as("sxx"), count(lit(1)).as("cxx"))
      val syy = y.join(y.withColumnRenamed("yv", "yw"), "event_type").groupBy("event_type")
        .agg(sum(abs(col("yv") - col("yw"))).as("syy"), count(lit(1)).as("cyy"))
      val cnt = v6.groupBy("event_type").agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"))
      sxy.join(sxx, "event_type").join(syy, "event_type").join(cnt, "event_type")
        .withColumn("e",
          (lit(2.0) * col("sxy").cast("double") / col("cxy").cast("double") -
            col("sxx").cast("double") / col("cxx").cast("double") -
            col("syy").cast("double") / col("cyy").cast("double")) / 1e6)
        .select(col("event_type"), col("n1"), col("n2"),
          round(col("e"), 6).as("e_dist"),
          round((col("n1") * col("n2")).cast("double") / (col("n1") + col("n2")).cast("double") *
            col("e"), 6).as("t_stat"))
    }),

    // ── Moving-block bootstrap CI for the mean of an autocorrelated
    // series (Künsch 1989): B = 200 resamples of L = 24-hour blocks with
    // hash-as-randomness starts (md5-derived — no sequential RNG, the
    // q_perm_test discipline), percentile CI by exact rank pick, next to
    // the iid-naive ±1.96·σ/√n interval it corrects. Blocks resolve
    // through ONE key-equality join of the (series, b, j) grid against
    // the precomputed sliding block sums; resample count is a constant,
    // so everything scales with the grid. ──
    "q_block_bootstrap" -> ((s, dir) => {
      val L = 24
      val B = 200
      val w = Window.partitionBy("event_type").orderBy("ts")
      val base = graft.Scratch.materialize(
        Tables.denseHourly(s, dir)
          .withColumn("rn", row_number().over(w))
          .withColumn("bsum", round(sum("value").over(
            w.rowsBetween(Window.currentRow, L - 1)), 4))
          .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type"))),
        "bb_base")
      val starts = base.where(col("rn") <= col("nn") - L + 1)
        .select(col("event_type"), col("rn").as("start"), col("bsum"))
      val meta = base.groupBy("event_type").agg(
        max("nn").as("nn"),
        round(sum("value"), 4).as("sv"),
        round(sum(col("value") * col("value")), 2).as("svv"))
        .withColumn("m", expr(s"nn DIV $L"))
        .withColumn("nstarts", col("nn") - L + 1)
        .withColumn("mean", expr("sv / nn"))
        .withColumn("sd", expr("sqrt((svv - sv * sv / nn) / (nn - 1))"))
      val grid = meta.select(col("event_type"), col("nstarts"), col("m"),
        explode(expr(s"sequence(1, $B)")).as("b"))
        .select(col("event_type"), col("nstarts"), col("b"),
          explode(expr("sequence(1, m)")).as("j"))
        .withColumn("start",
          graft.text.TextFunctions.hash60(
            concat_ws(":", col("event_type"), col("b"), col("j"))) % col("nstarts") + 1)
      val res = grid.join(starts, Seq("event_type", "start"))
        .groupBy("event_type", "b").agg(
          round(sum("bsum"), 4).as("tot"), (count(lit(1)) * L).as("cnt"))
        .withColumn("rmean", col("tot") / col("cnt").cast("double"))
      val wB = Window.partitionBy("event_type").orderBy(col("rmean"), col("b"))
      res.withColumn("rk", row_number().over(wB))
        .where(col("rk") === 5 || col("rk") === 196)
        .groupBy("event_type").agg(
          max(when(col("rk") === 5, col("rmean"))).as("lo"),
          max(when(col("rk") === 196, col("rmean"))).as("hi"))
        .join(broadcast(meta.select("event_type", "nn", "mean", "sd")), "event_type")
        .withColumn("nlo", expr("mean - 1.96E0 * sd / sqrt(CAST(nn AS DOUBLE))"))
        .withColumn("nhi", expr("mean + 1.96E0 * sd / sqrt(CAST(nn AS DOUBLE))"))
        .select(col("event_type"), col("nn").as("n_obs"),
          round(col("mean"), 6).as("mean"),
          round(col("lo"), 6).as("boot_lo"), round(col("hi"), 6).as("boot_hi"),
          round(col("nlo"), 6).as("naive_lo"), round(col("nhi"), 6).as("naive_hi"),
          round(expr("(hi - lo) / (nhi - nlo)"), 6).as("width_ratio"))
    }),

    "q_huber" -> ((s, dir) => {
      val S = TSSchema(keys = Seq("event_type"))
      SeriesOps.collect(Tables.hourlyEvents(s, dir).drop("n"), S)
        .withColumn("_f", huberFit(col("xs")))
        .select(col("event_type"), size(col("xs")).cast("long").as("n_obs"),
          round(col("_f._1"), 6).as("b_ols"),
          round(col("_f._2"), 6).as("a_huber"),
          round(col("_f._3"), 6).as("b_huber"),
          round(col("_f._4"), 6).as("scale_k"),
          col("_f._5").as("n_downweighted"))
    })
  )

  val sql: Map[String, String] = Map(

    "q_mann_whitney" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |$halvesSql,
         |rk AS (SELECT event_type, grp,
         |    rank() OVER (PARTITION BY event_type ORDER BY value) * 2
         |      + count(*) OVER (PARTITION BY event_type, value) - 1 AS dr,
         |    count(*) OVER (PARTITION BY event_type, value) AS tcnt,
         |    row_number() OVER (PARTITION BY event_type, value ORDER BY rn) AS tfirst
         |  FROM half),
         |agg AS (SELECT event_type,
         |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |    sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
         |    sum(CASE WHEN grp = 1 THEN dr ELSE 0 END)::BIGINT AS r1d,
         |    sum(CASE WHEN tfirst = 1 THEN tcnt * tcnt * tcnt - tcnt ELSE 0 END)::BIGINT AS tsum
         |  FROM rk GROUP BY 1),
         |st AS (SELECT *, r1d - n1 * (n1 + 1) AS u1d, n1 + n2 AS nn FROM agg),
         |vv AS (SELECT *,
         |    (n1 * n2)::DOUBLE / 12.0E0
         |      * ((nn + 1)::DOUBLE - tsum::DOUBLE / (nn * (nn - 1))::DOUBLE) AS varu
         |  FROM st),
         |zz AS (SELECT event_type, n1, n2,
         |    round(u1d::DOUBLE / 2.0E0, 6) AS u,
         |    round((u1d - n1 * n2)::DOUBLE / (n1 * n2)::DOUBLE, 6) AS cliffs_delta,
         |    round((u1d - n1 * n2)::DOUBLE / (2.0E0 * sqrt(varu)), 6) AS z
         |  FROM vv)
         |SELECT *, CASE WHEN abs(z) >= 1.96E0 THEN 1 ELSE 0 END AS shifted FROM zz""".stripMargin,

    "q_cvm_test" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |$halvesSql,
         |rk AS (SELECT event_type, grp,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value, grp, rn) AS crk,
         |    row_number() OVER (PARTITION BY event_type, grp ORDER BY value, rn) AS grk
         |  FROM half),
         |agg AS (SELECT event_type,
         |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |    sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
         |    sum(CASE WHEN grp = 1 THEN (crk - grk) * (crk - grk) ELSE 0 END)::BIGINT AS sx,
         |    sum(CASE WHEN grp = 2 THEN (crk - grk) * (crk - grk) ELSE 0 END)::BIGINT AS sy
         |  FROM rk GROUP BY 1),
         |st AS (SELECT *, n1 + n2 AS nn, n1 * sx + n2 * sy AS uu FROM agg),
         |tt AS (SELECT event_type, n1, n2, uu,
         |    uu::DOUBLE / (n1 * n2)::DOUBLE / nn::DOUBLE
         |      - (4.0E0 * (n1 * n2)::DOUBLE - 1.0E0) / (6.0E0 * nn::DOUBLE) AS t_stat
         |  FROM st)
         |SELECT event_type, n1, n2, uu AS u_stat, round(t_stat, 6) AS t_stat,
         |  CASE WHEN t_stat > 0.461E0 THEN 1 ELSE 0 END AS differs
         |FROM tt""".stripMargin,

    "q_energy_dist" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |$halvesSql,
         |v6 AS (SELECT event_type, grp, round(value * 1e6)::BIGINT AS v FROM half),
         |x AS (SELECT event_type, v AS xv FROM v6 WHERE grp = 1),
         |y AS (SELECT event_type, v AS yv FROM v6 WHERE grp = 2),
         |sxy AS (SELECT x.event_type, sum(abs(xv - yv))::BIGINT AS sxy, count(*)::BIGINT AS cxy
         |        FROM x JOIN y USING (event_type) GROUP BY 1),
         |sxx AS (SELECT a.event_type, sum(abs(a.xv - b.xv))::BIGINT AS sxx, count(*)::BIGINT AS cxx
         |        FROM x a JOIN x b USING (event_type) GROUP BY 1),
         |syy AS (SELECT a.event_type, sum(abs(a.yv - b.yv))::BIGINT AS syy, count(*)::BIGINT AS cyy
         |        FROM y a JOIN y b USING (event_type) GROUP BY 1),
         |cnt AS (SELECT event_type,
         |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |    sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
         |  FROM v6 GROUP BY 1),
         |ee AS (SELECT c.event_type, c.n1, c.n2,
         |    (2.0E0 * sxy::DOUBLE / cxy::DOUBLE - sxx::DOUBLE / cxx::DOUBLE
         |      - syy::DOUBLE / cyy::DOUBLE) / 1e6 AS e
         |  FROM sxy JOIN sxx USING (event_type) JOIN syy USING (event_type)
         |  JOIN cnt c USING (event_type))
         |SELECT event_type, n1, n2, round(e, 6) AS e_dist,
         |  round((n1 * n2)::DOUBLE / (n1 + n2)::DOUBLE * e, 6) AS t_stat
         |FROM ee""".stripMargin,

    "q_block_bootstrap" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |base AS (SELECT event_type, ts, value,
         |    row_number() OVER w AS rn,
         |    round(sum(value) OVER (PARTITION BY event_type ORDER BY ts
         |      ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING), 4) AS bsum,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
         |starts AS (SELECT event_type, rn AS start, bsum FROM base WHERE rn <= nn - 24 + 1),
         |meta AS (SELECT event_type, max(nn) AS nn,
         |    round(sum(value), 4) AS sv, round(sum(value * value), 2) AS svv
         |  FROM base GROUP BY 1),
         |m2 AS (SELECT *, nn // 24 AS m, nn - 24 + 1 AS nstarts,
         |    sv / nn AS mean, sqrt((svv - sv * sv / nn) / (nn - 1)) AS sd FROM meta),
         |grid AS (SELECT event_type, nstarts, b, j,
         |    ('0x' || substr(md5(event_type || ':' || b || ':' || j), 1, 15))::BIGINT
         |      % nstarts + 1 AS start
         |  FROM m2, (SELECT unnest(range(1, 201)) AS b), LATERAL (SELECT unnest(range(1, m + 1)) AS j)),
         |res AS (SELECT g.event_type, g.b,
         |    round(sum(s.bsum), 4) AS tot, count(*) * 24 AS cnt
         |  FROM grid g JOIN starts s ON s.event_type = g.event_type AND s.start = g.start
         |  GROUP BY 1, 2),
         |rm AS (SELECT event_type, b, tot / cnt::DOUBLE AS rmean FROM res),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY rmean, b) AS rk FROM rm),
         |ci AS (SELECT event_type,
         |    max(CASE WHEN rk = 5 THEN rmean END) AS lo,
         |    max(CASE WHEN rk = 196 THEN rmean END) AS hi
         |  FROM rk WHERE rk IN (5, 196) GROUP BY 1),
         |fin AS (SELECT c.event_type, m.nn, m.mean, c.lo, c.hi,
         |    m.mean - 1.96E0 * m.sd / sqrt(CAST(m.nn AS DOUBLE)) AS nlo,
         |    m.mean + 1.96E0 * m.sd / sqrt(CAST(m.nn AS DOUBLE)) AS nhi
         |  FROM ci c JOIN m2 m USING (event_type))
         |SELECT event_type, nn AS n_obs, round(mean, 6) AS mean,
         |  round(lo, 6) AS boot_lo, round(hi, 6) AS boot_hi,
         |  round(nlo, 6) AS naive_lo, round(nhi, 6) AS naive_hi,
         |  round((hi - lo) / (nhi - nlo), 6) AS width_ratio
         |FROM fin""".stripMargin,

    "q_huber" -> {
      val (aExpr, bExpr) = huberStep
      s"""WITH RECURSIVE hourly AS ($H),
         |ser AS (SELECT event_type, list(value ORDER BY ts) AS ys, count(*)::BIGINT AS n
         |        FROM hourly GROUP BY 1),
         |base AS (SELECT *, (n * (n + 1)) // 2 AS st,
         |           (n * (n + 1) * (2 * n + 1)) // 6 AS stt FROM ser),
         |m1 AS (SELECT *, list_sum(ys) AS sy,
         |    list_sum(list_transform(range(1, n + 1), i -> i * ys[i])) AS sty FROM base),
         |m2 AS (SELECT *, stt::DOUBLE - (st::DOUBLE * st) / n AS sxx,
         |    sty - (st::DOUBLE * sy) / n AS sxy FROM m1),
         |ab0 AS (SELECT *, sxy / sxx AS b0 FROM m2),
         |ab1 AS (SELECT *, (sy - b0 * st) / n AS a0 FROM ab0),
         |res0 AS (SELECT *,
         |    list_sort(list_transform(range(1, n + 1), i -> ys[i] - (a0 + b0 * i))) AS es
         |  FROM ab1),
         |md AS (SELECT *, (es[(n + 1) // 2] + es[(n + 2) // 2]) / 2.0E0 AS med FROM res0),
         |mad0 AS (SELECT *, list_sort(list_transform(es, e -> abs(e - med))) AS ads FROM md),
         |kk AS (SELECT event_type, ys, n, st, b0, a0,
         |    CASE WHEN (ads[(n + 1) // 2] + ads[(n + 2) // 2]) / 2.0E0 = 0 THEN 1.0E18
         |         ELSE 1.345E0 * 1.4826E0 * ((ads[(n + 1) // 2] + ads[(n + 2) // 2]) / 2.0E0)
         |    END AS k
         |  FROM mad0),
         |rec AS (
         |  SELECT event_type, 0 AS it, a0 AS aa, b0 AS bb FROM kk
         |  UNION ALL
         |  SELECT r.event_type, r.it + 1, $aExpr, $bExpr
         |  FROM rec r JOIN kk s USING (event_type) WHERE r.it < 8),
         |fin AS (SELECT r.event_type, s.n, s.b0, r.aa, r.bb, s.k,
         |    len(list_filter(range(1, s.n + 1),
         |      i -> abs(s.ys[i] - (r.aa + r.bb * i)) > s.k))::BIGINT AS n_down
         |  FROM rec r JOIN kk s USING (event_type) WHERE r.it = 8)
         |SELECT event_type, n AS n_obs, round(b0, 6) AS b_ols,
         |  round(aa, 6) AS a_huber, round(bb, 6) AS b_huber,
         |  round(k, 6) AS scale_k, n_down AS n_downweighted
         |FROM fin""".stripMargin
    }
  )
}
