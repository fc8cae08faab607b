package graft.queries

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CUSUMDetectorModel serving (kats/detectors/cusum_model.py:594
  * fit_predict): the scan/step/historical-window loop + alert state
  * machine + z-score/absolute-change scoring, as a per-series array
  * algorithm (see [[graft.detectors.CusumServe]]). One shuffle collects
  * each series; the sequential scan loop runs once per series row — the
  * scale axis is series count, exactly like BOCPD/Holt-Winters.
  *
  * The oracle replays the WHOLE loop in one recursive CTE: state =
  * (alert, baselines, direction, last-changepoint time, normal-scan
  * count), one recursion round per step window, scored points
  * accumulated as a struct list.
  */
object ServeQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private val H = Tables.hourlySql
  private val Thr = graft.detectors.CusumV2.LlrThreshold

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cusum_serve" -> ((s, dir) => {
      val ser = Tables.denseHourly(s, dir).groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("ts").as("t"),
          col("value").cast("double").as("x")))).as("p"))
        .select(col("event_type"),
          expr("transform(p, q -> unix_timestamp(q.t))").as("tss"),
          col("p.x").as("xs"))
      val fn = udf { (tss: Array[Long], xs: Array[Double]) =>
        graft.detectors.CusumServe.serve(tss, xs, xs.length / 2).toSeq
      }
      ser.select(col("event_type"), explode(fn(col("tss"), col("xs"))).as("o"))
        .select(col("event_type"), col("o._1").as("ts_s"), col("o._2").as("value"),
          round(col("o._3"), 6).as("score"), round(col("o._4"), 6).as("change"))
    })
  )

  // ---- oracle: the serving loop as ONE recursive CTE -------------------
  //
  // State per recursion round (one round per step window): alert flag,
  // frozen baselines, direction, last-changepoint ts, normal-scan count,
  // plus the accumulated scored points as a struct list. Intermediates
  // (window slices, cusum lists, the per-direction refinement iterates,
  // LLR pieces, state-machine updates) are computed in nested derived
  // tables generated below — DuckDB allows the recursive reference at
  // arbitrary derived-table depth, but NOT extra SELECT-list aliases in
  // the recursive arm (positional column matching), hence the layering.

  private def layer(cols: String, inner: String): String =
    s"SELECT *,\n  $cols\nFROM (\n$inner\n)"

  /** Innermost layer: step geometry over the carried state. */
  private val baseLayer =
    "SELECT *, least(s + 12, n) AS e, greatest(s - 48, 0) AS h0 FROM rec WHERE s < n"

  /** Window slice, overall mean/variance, and the UNREFINED per-direction
    * starting changepoints (min-clamped only, mirroring CusumV2's init).
    */
  private val windowLayers = Seq(
    "(e - h0)::BIGINT AS m",
    "greatest(0, m - 1 - 24) AS sso",
    "xs[(h0 + sso + 1):e] AS w, (m - sso)::BIGINT AS mw",
    "list_sum(w) / mw AS mu",
    """list_transform(range(1, mw + 1), j -> list_sum(w[1:j]) - j * mu) AS cs,
      |  list_sum(list_transform(w, v -> (v - mu) * (v - mu))) AS sst""".stripMargin,
    """least(list_position(cs, list_min(cs))::BIGINT, mw - 1) AS cpi0,
      |  least(list_position(cs, list_max(cs))::BIGINT, mw - 1) AS cpd0,
      |  sqrt(sst / mw) AS sigt""".stripMargin)

  /** The CusumV2 refinement, unrolled: per iteration and direction,
    * segment-mean midpoint -> fresh cusum -> re-picked clamped extreme.
    * Three generated layers per iteration (midpoints, cusum lists, picks)
    * because lambda bodies must reference columns from an inner layer.
    */
  private val refineLayers: Seq[String] =
    (1 to graft.detectors.CusumV2.MaxIter).flatMap { k =>
      val pI = s"cpi${k - 1}"
      val pD = s"cpd${k - 1}"
      val nI = if (k == graft.detectors.CusumV2.MaxIter) "cpi" else s"cpi$k"
      val nD = if (k == graft.detectors.CusumV2.MaxIter) "cpd" else s"cpd$k"
      Seq(
        s"""(list_sum(w[1:$pI]) / $pI + list_sum(w[($pI+1):mw]) / (mw - $pI)) / 2 AS midi$k,
           |  (list_sum(w[1:$pD]) / $pD + list_sum(w[($pD+1):mw]) / (mw - $pD)) / 2 AS midd$k""".stripMargin,
        s"""list_transform(range(1, mw + 1), j -> list_sum(w[1:j]) - j * midi$k) AS csi$k,
           |  list_transform(range(1, mw + 1), j -> list_sum(w[1:j]) - j * midd$k) AS csd$k""".stripMargin,
        s"""greatest(2, least(list_position(csi$k, list_min(csi$k))::BIGINT, mw - 1)) AS $nI,
           |  greatest(2, least(list_position(csd$k, list_max(csd$k))::BIGINT, mw - 1)) AS $nD""".stripMargin)
    }

  /** LLR + gates on the refined candidates, then the alert state machine
    * (detection branch + normal-band/retention branch) and the merged
    * next-round state.
    */
  private def stateLayers(thr: Double): Seq[String] = Seq(
    """list_sum(w[1:cpi]) / cpi AS imu0, list_sum(w[(cpi+1):mw]) / (mw - cpi) AS imu1,
      |  list_sum(w[1:cpd]) / cpd AS dmu0, list_sum(w[(cpd+1):mw]) / (mw - cpd) AS dmu1,
      |  list_sum(w[1:cpi-1]) / (cpi - 1) AS mprei, list_sum(w[1:cpd-1]) / (cpd - 1) AS mpred""".stripMargin,
    """list_sum(list_transform(w[1:cpi], v -> (v - imu0) * (v - imu0))) AS iss0,
      |  list_sum(list_transform(w[(cpi+1):mw], v -> (v - imu1) * (v - imu1))) AS iss1,
      |  list_sum(list_transform(w[1:cpd], v -> (v - dmu0) * (v - dmu0))) AS dss0,
      |  list_sum(list_transform(w[(cpd+1):mw], v -> (v - dmu1) * (v - dmu1))) AS dss1,
      |  sqrt(list_sum(list_transform(w[1:cpi-1], v -> (v - mprei) * (v - mprei))) / (cpi - 1)) AS sdprei,
      |  sqrt(list_sum(list_transform(w[1:cpd-1], v -> (v - mpred) * (v - mpred))) / (cpd - 1)) AS sdpred""".stripMargin,
    """CASE WHEN sqrt((iss0 + iss1) / (mw - 2)) = 0 THEN sigt * 0.01
      |       ELSE sqrt((iss0 + iss1) / (mw - 2)) END AS iscale,
      |  CASE WHEN sqrt((dss0 + dss1) / (mw - 2)) = 0 THEN sigt * 0.01
      |       ELSE sqrt((dss0 + dss1) / (mw - 2)) END AS dscale""".stripMargin,
    """CASE WHEN sigt = 0 THEN 0.0 ELSE
      |    -2 * (mw * ln(iscale / sigt)
      |      + 0.5 * ((iss0 + iss1) / (iscale * iscale) - sst / (sigt * sigt))) END AS illr,
      |  CASE WHEN sigt = 0 THEN 0.0 ELSE
      |    -2 * (mw * ln(dscale / sigt)
      |      + 0.5 * ((dss0 + dss1) / (dscale * dscale) - sst / (sigt * sigt))) END AS dllr""".stripMargin,
    s"""(sigt > greatest(abs(mu) * 1e-12, 1e-12) AND illr > $thr
       |    AND imu1 > imu0 AND abs(imu1 - imu0) > sdprei) AS incok,
       |  (sigt > greatest(abs(mu) * 1e-12, 1e-12) AND dllr > $thr
       |    AND dmu1 < dmu0 AND abs(dmu1 - dmu0) > sdpred) AS decok""".stripMargin,
    """(NOT alert AND mw >= 4 AND (incok OR decok)) AS fired,
      |  CASE WHEN NOT (incok OR decok) THEN 0::BIGINT
      |       WHEN incok AND NOT decok THEN cpi
      |       WHEN decok AND NOT incok THEN cpd
      |       WHEN cpi <= cpd THEN cpi ELSE cpd END AS cp1,
      |  CASE WHEN NOT (incok OR decok) THEN 0
      |       WHEN incok AND NOT decok THEN 1
      |       WHEN decok AND NOT incok THEN -1
      |       WHEN cpi < cpd THEN 1
      |       WHEN cpd < cpi THEN -1
      |       WHEN illr >= dllr THEN 1 ELSE -1 END AS dirn""".stripMargin,
    "(h0 + sso + cp1)::BIGINT AS cpa1",
    """CASE WHEN fired THEN list_sum(xs[(h0+1):cpa1]) / (cpa1 - h0)
      |       ELSE pre_mean END AS pmN""".stripMargin,
    """CASE WHEN fired THEN
      |    sqrt(list_sum(list_transform(xs[(h0+1):cpa1], v -> (v - pmN) * (v - pmN)))
      |         / (cpa1 - h0))
      |  ELSE pre_std END AS ps3, pmN AS pm3""".stripMargin,
    """(alert AND ((dir = 1 AND pre_mean - pre_std <= mu AND mu <= pre_mean)
      |         OR (dir = -1 AND pre_mean <= mu AND mu <= pre_mean + pre_std))) AS normal""".stripMargin,
    "CASE WHEN NOT alert THEN 0 WHEN normal THEN n_normal + 1 ELSE 0 END AS nnA",
    """CASE WHEN NOT alert THEN false
      |       WHEN normal AND nnA >= 1 THEN false ELSE alert END AS alertA""".stripMargin,
    "CASE WHEN alertA AND tss[e] - last_cp > 604800 THEN false ELSE alertA END AS alertB",
    """CASE WHEN alert THEN alertB ELSE fired END AS alert3,
      |  CASE WHEN fired THEN dirn ELSE dir END AS dir3,
      |  CASE WHEN fired THEN tss[cpa1] ELSE last_cp END AS cp3,
      |  CASE WHEN NOT alert THEN (CASE WHEN fired THEN 0 ELSE n_normal END)
      |       WHEN alertB THEN nnA ELSE 0 END AS nn3""".stripMargin)

  private lazy val recursiveArmInner: String =
    (windowLayers ++ refineLayers ++ stateLayers(Thr)).foldLeft(baseLayer)((inner, cols) => layer(cols, inner))

  val sql: Map[String, String] = Map(
    "q_cusum_serve" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ser AS (SELECT event_type,
         |          list(value ORDER BY ts) AS xs,
         |          list(epoch_us(ts)//1000000 ORDER BY ts) AS tss,
         |          count(*)::BIGINT AS n
         |        FROM dense GROUP BY 1),
         |rec AS (
         |  SELECT event_type, xs, tss, n, (n // 2)::BIGINT AS s,
         |         false AS alert, 0.0::DOUBLE AS pre_mean, 0.0::DOUBLE AS pre_std,
         |         0 AS dir, 0::BIGINT AS last_cp, 0 AS n_normal,
         |         CAST([] AS STRUCT(ts BIGINT, x DOUBLE, sc DOUBLE, ch DOUBLE)[]) AS outp
         |  FROM ser
         |  UNION ALL
         |  SELECT event_type, xs, tss, n, s + 12,
         |    alert3, pm3, ps3, dir3, cp3, nn3,
         |    outp || list_transform(range(s + 1, e + 1), i -> {'ts': tss[i], 'x': xs[i],
         |      'sc': CASE WHEN alert3 AND tss[i] > cp3 AND ps3 <> 0
         |                 THEN (xs[i] - pm3) / ps3 ELSE 0.0 END,
         |      'ch': CASE WHEN alert3 AND tss[i] > cp3 THEN xs[i] - pm3 ELSE 0.0 END})
         |  FROM (
         |$recursiveArmInner
         |  )
         |)
         |SELECT event_type, o.ts AS ts_s, o.x AS value,
         |  round(o.sc, 6) AS score, round(o.ch, 6) AS change
         |FROM (SELECT event_type, unnest(outp) AS o FROM rec WHERE s >= n) fin""".stripMargin
  )
}
