package graft.queries

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal-hierarchical reconciliation and ensemble prediction intervals
  * (kats/models/reconciliation/thm.py, kats/utils/ensemble_predict_interval.py
  * re-derived) — every query DuckDB-oracle-checked.
  *
  * Both operators are pure keyed-aggregate plans: the scale axis is the
  * number of series; per-series state is a handful of closed-form fit
  * scalars, never a collected series.
  */
object ReconQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private val H = Tables.hourlySql

  private val denseSql = Tables.denseHourlySql

  /** Shared fragments for q_reconcile: temporal hierarchy over levels
    * {4,2,1} (m = 4), struc-variance weights (thm.py:255 get_W 'struc'),
    * linear-trend base model at every level (base_models.py BASE_MODELS
    * 'linear'). The reconciliation projection P = S·(TᵀS)⁻¹·Tᵀ with
    * T = Sᵀ/W (thm.py:411 _predict) depends only on (levels, method), so
    * it is derived once at plan-build time and embedded as literal
    * coefficients in BOTH engines' plans — the per-row work is a dense
    * 7-vector dot product, not a runtime solve.
    */
  private[graft] object ReconSql {
    val m = 4
    val h = 2 // forecast windows: steps = m * h = 8 base-grain steps
    // stacked rows in level-descending order (level 1 LAST — thm.py:69
    // sorts levels reverse, and _predict extracts the last freq[1] rows)
    private val rows: Seq[(Int, Int)] = Seq(4, 2, 1).flatMap(k => (0 until m / k).map(i => (k, i)))
    private val Smat: Array[Array[Double]] = rows.map { case (k, i) =>
      Array.tabulate(m)(c => if (c >= i * k && c < i * k + k) 1.0 else 0.0)
    }.toArray
    private val Wdiag: Array[Double] = rows.map(_._1.toDouble).toArray

    /** P = S (T S)⁻¹ T, T = Sᵀ/W — exact at build time via dense GJ. */
    val P: Array[Array[Double]] = {
      val n = rows.length
      val t = Array.tabulate(m, n)((c, r) => Smat(r)(c) / Wdiag(r))
      val g = Array.tabulate(m, m)((c, d) => (0 until n).map(r => t(c)(r) * Smat(r)(d)).sum)
      val aug = Array.tabulate(m)(r => g(r) ++ t(r))
      for (s <- 0 until m) {
        val piv = aug(s)(s)
        for (c <- 0 until (m + n)) aug(s)(c) /= piv
        for (r <- 0 until m if r != s) {
          val f = aug(r)(s)
          for (c <- 0 until (m + n)) aug(r)(c) -= f * aug(s)(c)
        }
      }
      Array.tabulate(n, n)((r, c) => (0 until m).map(d => Smat(r)(d) * aug(d)(m + c)).sum)
    }

    /** Stacked forecast-vector column names for window w (0-based):
      * level-desc order [c4, c2×2, c1×4], step index within the window. */
    private def colNames(w: Int): Seq[String] =
      Seq(s"c4_${w + 1}", s"c2_${2 * w + 1}", s"c2_${2 * w + 2}") ++ (1 to 4).map(i => s"c1_${4 * w + i}")

    /** Reconciled base-grain step s (1..8) = row (3 + (s-1)%4) of P dotted
      * with window (s-1)/4's stacked forecasts. */
    def recSql(s: Int): String = {
      val w = (s - 1) / 4; val i = (s - 1) % 4
      P(3 + i).zip(colNames(w)).map { case (p, c) => s"$p * $c" }.mkString(" + ")
    }

    /** Output rows (level, step, fcst, fcst_bu, fcst_base) as shared expr
      * strings over the rec1..rec8 / cK_j columns. Bottom-up = aggregate
      * the level-1 base forecasts; base = the level's own base forecast. */
    val outRows: Seq[(Int, Int, String, String, String)] =
      (1 to 8).map(s => (1, s, s"rec$s", s"c1_$s", s"c1_$s")) ++
        (1 to 4).map(s => (2, s, s"rec${2 * s - 1} + rec${2 * s}",
          s"c1_${2 * s - 1} + c1_${2 * s}", s"c2_$s")) ++
        (1 to 2).map(s => (4, s,
          (4 * s - 3 to 4 * s).map(i => s"rec$i").mkString(" + "),
          (4 * s - 3 to 4 * s).map(i => s"c1_$i").mkString(" + "), s"c4_$s"))

    /** The 14 pivoted base-forecast column names cK_j. */
    val pivotCols: Seq[(Int, Int)] =
      Seq(1, 2, 4).flatMap(k => (1 to 8 / k).map(j => (k, j)))
  }

  /** Shared fragments for q_ensemble_ci (ensemble_predict_interval.py:46):
    * split the series tail into (n_block+1) blocks of 24, fit the linear
    * base model per block, one-block-ahead errors → per-step error mean and
    * population std; the projection is the last block's forecast shifted by
    * the error mean with a ±z₀.₉·std band — the analytic ensemble_size→∞
    * limit of the reference's Monte-Carlo chains (each chain adds
    * N(mean(S,0), cov(Sᵀ)) noise; the per-step marginal is exactly
    * N(mean_i, std_i²), and t₀.₉(dof→∞) → z₀.₉).
    */
  private[queries] object EpiSql {
    val blockSize = 24
    val z90 = "1.2815515655446004" // Φ⁻¹(0.9), for the 80% central band
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_reconcile" -> ((s, dir) => {
      import ReconSql._
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      val lv = Tables.denseHourly(s, dir)
        .withColumn("rn", row_number().over(w) - 1)
        .withColumn("nn", count(lit(1)).over(wk))
        .withColumn("lvl", explode(array(lit(1), lit(2), lit(4))))
        .where(expr("rn < (nn div lvl) * lvl"))
        .withColumn("blk", expr("rn div lvl"))
        .groupBy("event_type", "lvl", "blk").agg(sum("value").as("y"))
      val fit = lv.groupBy("event_type", "lvl").agg(
        regr_intercept(col("y"), col("blk").cast("double")).as("a"),
        regr_slope(col("y"), col("blk").cast("double")).as("b"),
        count(lit(1)).as("nk"))
      val fc = fit
        .withColumn("j", explode(expr("sequence(1, 8 div lvl)")))
        .withColumn("f", col("a") + col("b") * (col("nk") - 1 + col("j")))
      val pv = fc.groupBy("event_type").agg(
        pivotCols.map { case (k, j) =>
          max(when(col("lvl") === k && col("j") === j, col("f"))).as(s"c${k}_$j")
        }.head, pivotCols.tail.map { case (k, j) =>
          max(when(col("lvl") === k && col("j") === j, col("f"))).as(s"c${k}_$j")
        }: _*)
      val rec = (1 to 8).foldLeft(pv) { (d, i) => d.withColumn(s"rec$i", expr(recSql(i))) }
      rec.select(col("event_type"), explode(array(outRows.map { case (lvl, st, r, bu, ba) =>
          struct(lit(lvl).as("level"), lit(st).as("step"),
            expr(s"round($r, 6)").as("fcst"), expr(s"round($bu, 6)").as("fcst_bu"),
            expr(s"round($ba, 6)").as("fcst_base"))
        }: _*)).as("o"))
        .select(col("event_type"), col("o.level").as("level"), col("o.step").as("step"),
          col("o.fcst").as("fcst"), col("o.fcst_bu").as("fcst_bu"), col("o.fcst_base").as("fcst_base"))
    }),

    "q_ensemble_ci" -> ((s, dir) => {
      import EpiSql._
      val w = Window.partitionBy("event_type").orderBy("ts")
      val wk = Window.partitionBy("event_type")
      // trim to the last (n_block+1)*24 points, n_block = nn div 24 - 1
      val base = Tables.denseHourly(s, dir)
        .withColumn("rn", row_number().over(w) - 1)
        .withColumn("nn", count(lit(1)).over(wk))
        .withColumn("nb", expr(s"nn div $blockSize - 1"))
        .where(expr(s"rn >= nn - (nb + 1) * $blockSize"))
        .withColumn("i", expr(s"(rn - (nn - (nb + 1) * $blockSize)) % $blockSize"))
        .withColumn("blk", expr(s"(rn - (nn - (nb + 1) * $blockSize)) div $blockSize"))
      // per-block linear fit on local time i = 0..23
      val fit = base.groupBy("event_type", "blk").agg(
        regr_intercept(col("value"), col("i").cast("double")).as("a"),
        regr_slope(col("value"), col("i").cast("double")).as("b"),
        max("nb").as("nb"))
      // one-block-ahead error: actual of block b+1 at step i vs fit of block b
      val err = base.as("x").join(fit.as("m"),
          col("x.event_type") === col("m.event_type") && col("x.blk") === col("m.blk") + 1)
        .select(col("x.event_type").as("event_type"), col("x.i").as("i"),
          (col("x.value") - (col("m.a") + col("m.b") * (col("x.i") + lit(blockSize)))).as("e"))
      val stats = err.groupBy("event_type", "i").agg(
        avg("e").as("me"), stddev_pop("e").as("se"))
      // projection: last block's fit, forecast i+24, shifted by the error mean
      val proj = fit.where(col("blk") === col("nb")).as("m")
        .join(stats.as("st"), Seq("event_type"))
        .select(col("event_type"), (col("i") + 1).cast("int").as("step"),
          (col("a") + col("b") * (col("i") + lit(blockSize)) + col("me")).as("fc"),
          col("se"))
      proj.select(col("event_type"), col("step"),
        round(col("fc"), 6).as("fcst"),
        round(col("fc") - expr(z90) * col("se"), 6).as("fcst_lower"),
        round(col("fc") + expr(z90) * col("se"), 6).as("fcst_upper"))
    })
  )

  val sql: Map[String, String] = Map(
    "q_reconcile" -> {
      import ReconSql._
      val pvSel = pivotCols.map { case (k, j) =>
        s"max(CASE WHEN lvl = $k AND j = $j THEN f END) AS c${k}_$j"
      }.mkString(",\n        ")
      val recSel = (1 to 8).map(i => s"${recSql(i)} AS rec$i").mkString(",\n        ")
      val out = outRows.map { case (lvl, st, r, bu, ba) =>
        s"""SELECT event_type, $lvl AS level, $st AS step, round($r, 6) AS fcst,
           |  round($bu, 6) AS fcst_bu, round($ba, 6) AS fcst_base FROM rec""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH hourly AS ($H),
         |$denseSql,
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS nn FROM dense),
         |lv AS (SELECT event_type, lvl, rn // lvl AS blk, sum(value) AS y
         |       FROM ord, (SELECT unnest([1, 2, 4]) AS lvl) l
         |       WHERE rn < (nn // lvl) * lvl GROUP BY 1, 2, 3),
         |fit AS (SELECT event_type, lvl, regr_intercept(y, blk::DOUBLE) AS a,
         |          regr_slope(y, blk::DOUBLE) AS b, count(*) AS nk
         |        FROM lv GROUP BY 1, 2),
         |fc AS (SELECT event_type, lvl, j, a + b * (nk - 1 + j) AS f
         |       FROM fit, (SELECT unnest(range(1, 9)) AS j) js WHERE j <= 8 // lvl),
         |pv AS (SELECT event_type,
         |        $pvSel
         |        FROM fc GROUP BY 1),
         |rec AS (SELECT *,
         |        $recSel
         |        FROM pv)
         |$out""".stripMargin
    },

    "q_ensemble_ci" -> {
      import EpiSql._
      s"""WITH hourly AS ($H),
         |$denseSql,
         |ord AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS nn FROM dense),
         |tail AS (SELECT event_type, value,
         |    (rn - (nn - (nn // $blockSize) * $blockSize)) % $blockSize AS i,
         |    (rn - (nn - (nn // $blockSize) * $blockSize)) // $blockSize AS blk,
         |    nn // $blockSize - 1 AS nb
         |  FROM ord WHERE rn >= nn - (nn // $blockSize) * $blockSize),
         |fit AS (SELECT event_type, blk,
         |          regr_intercept(value, i::DOUBLE) AS a, regr_slope(value, i::DOUBLE) AS b,
         |          max(nb) AS nb
         |        FROM tail GROUP BY 1, 2),
         |err AS (SELECT x.event_type, x.i, x.value - (m.a + m.b * (x.i + $blockSize)) AS e
         |        FROM tail x JOIN fit m ON x.event_type = m.event_type AND x.blk = m.blk + 1),
         |st AS (SELECT event_type, i, avg(e) AS me, stddev_pop(e) AS se
         |       FROM err GROUP BY 1, 2),
         |proj AS (SELECT m.event_type, (st.i + 1)::INT AS step,
         |           m.a + m.b * (st.i + $blockSize) + st.me AS fc, st.se
         |         FROM fit m JOIN st ON m.event_type = st.event_type AND m.blk = m.nb)
         |SELECT event_type, step, round(fc, 6) AS fcst,
         |  round(fc - $z90 * se, 6) AS fcst_lower,
         |  round(fc + $z90 * se, 6) AS fcst_upper
         |FROM proj""".stripMargin
    }
  )
}
