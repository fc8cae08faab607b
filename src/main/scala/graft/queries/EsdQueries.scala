package graft.queries

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generalized ESD many-outlier detection over the hourly event series
  * (detectors/Esd.scala — Rosner 1983; the multi-outlier, familywise-
  * error-controlled complement of the reference's one-at-a-time
  * IQR/z-score detectors, and the statistic behind the seasonal-ESD
  * production anomaly detectors).
  *
  * Rides the one-series-per-row reduction: ONE keyed shuffle, then the
  * O(r·n) removal loop and the exact finite-sum t CDFs run once per
  * collected series — scale axis is series count. The oracle replays the
  * ENTIRE procedure: the removal loop as a recursive CTE carrying the
  * remaining-points list and running sums, and each candidate's t CDF as
  * a second recursion executing the same sequential coefficient sums as
  * the Scala kernel (see Esd.scala's determinism notes).
  */
object EsdQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private val H = Tables.hourlySql

  /** Max outliers tested per series and the ESD significance level. */
  private val MaxR = 10
  private val Alpha = 0.05

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_esd_outliers" -> ((s, dir) => {
      val fn = udf { (ts: Array[Long], xs: Array[Double]) =>
        graft.detectors.Esd.run(ts, xs, MaxR, Alpha)
      }
      SeriesOps.collect(Tables.hourlyEvents(s, dir).drop("n"), S)
        .withColumn("_c", explode(fn(transform(col("tss"), t => unix_timestamp(t)), col("xs"))))
        .select(col("event_type"), col("_c._1").as("i"), col("_c._2").as("ts"),
          col("_c._3").as("value"), round(col("_c._4"), 6).as("r_stat"),
          round(col("_c._5"), 6).as("p_cdf"), col("_c._6").as("is_sig"),
          col("_c._7").as("in_outlier_set"))
    }),

    // ── Seasonal-hybrid ESD (the S-H-ESD production shape): residual =
    // value − hour-of-day seasonal mean − series median, then the
    // generalized ESD loop with the MEDIAN/1.4826·MAD statistic. The
    // robust statistic is pure order statistics, so the entire removal
    // loop has NO float accumulation — engine-exact without snapping;
    // Rosner's λ gate runs in CDF space exactly as q_esd_outliers. ──
    "q_sesd" -> ((s, dir) => {
      val dense = Tables.denseHourly(s, dir)
      val hod = dense.groupBy(col("event_type"), hour(col("ts")).as("h"))
        .agg(round(avg("value"), 6).as("seas"))
      val med = SeriesOps.collect(dense, S)
        .withColumn("_s", sort_array(col("xs")))
        .select(col("event_type"),
          ((element_at(col("_s"), ((size(col("_s")) + 1) / 2).cast("int")) +
            element_at(col("_s"), (size(col("_s")) / 2 + 1).cast("int"))) / 2.0).as("med"))
      val res = dense.withColumn("h", hour(col("ts")))
        .join(broadcast(hod), Seq("event_type", "h"))
        .join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("ts"),
          round((col("value") - col("seas")) - col("med"), 6).as("value"))
      val fn = udf { (ts: Seq[Long], xs: Seq[Double]) =>
        graft.detectors.Esd.runHybrid(ts, xs, MaxR, Alpha)
      }
      SeriesOps.collect(res, S)
        .withColumn("_c", explode(fn(transform(col("tss"), t => unix_timestamp(t)), col("xs"))))
        .select(col("event_type"), col("_c._1").as("i"), col("_c._2").as("ts"),
          col("_c._3").as("resid"), round(col("_c._4"), 6).as("r_stat"),
          round(col("_c._5"), 6).as("p_cdf"), col("_c._6").as("is_sig"),
          col("_c._7").as("in_outlier_set"))
    })
  )

  /** Shared oracle tail: the t-CDF replay + λ-gate scoring over a `cand`
    * CTE with columns (event_type, i, ts_rm, x_rm, r_stat, tt, sn, cs,
    * nu, q, fcase) — identical for the mean/sd and median/MAD variants;
    * only the emitted name of x_rm differs. */
  private def esdTail(valueAlias: String): String =
    s"""cdf AS (
       |  SELECT event_type, i, 1 AS j, 1.0::DOUBLE AS term, 1.0::DOUBLE AS acc,
       |         CASE WHEN nu % 2 = 0 THEN nu // 2 - 1 ELSE (nu - 3) // 2 END AS jmax
       |  FROM cand WHERE fcase = 0
       |  UNION ALL
       |  SELECT r.event_type, r.i, r.j + 1,
       |    CASE WHEN c.nu % 2 = 0 THEN r.term * (c.cs * c.cs) * (2.0 * r.j - 1) / (2.0 * r.j)
       |         ELSE r.term * (c.cs * c.cs) * (2.0 * r.j) / (2.0 * r.j + 1) END,
       |    r.acc + CASE WHEN c.nu % 2 = 0 THEN r.term * (c.cs * c.cs) * (2.0 * r.j - 1) / (2.0 * r.j)
       |         ELSE r.term * (c.cs * c.cs) * (2.0 * r.j) / (2.0 * r.j + 1) END,
       |    r.jmax
       |  FROM cdf r JOIN cand c ON r.event_type = c.event_type AND r.i = c.i
       |  WHERE r.j <= r.jmax
       |),
       |accs AS (SELECT event_type, i, max_by(acc, j) AS acc FROM cdf GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.event_type, c.i, c.ts_rm, c.x_rm, c.r_stat, c.q,
       |    CASE WHEN c.fcase = 1 THEN 0.5
       |         WHEN c.fcase = 2 THEN 1.0
       |         WHEN c.nu = 1 THEN 0.5 + atan(c.tt / sqrt(c.nu::DOUBLE)) / pi()
       |         WHEN c.nu % 2 = 0 THEN 0.5 + (c.sn / 2) * a.acc
       |         ELSE 0.5 + (atan(c.tt / sqrt(c.nu::DOUBLE)) + c.sn * c.cs * a.acc) / pi() END AS f
       |  FROM cand c LEFT JOIN accs a ON c.event_type = a.event_type AND c.i = a.i),
       |sig AS (SELECT *, CASE WHEN f > 1.0E0 - ${Alpha}E0 / (2.0E0 * (q + 1)) THEN 1 ELSE 0 END AS is_sig
       |        FROM scored),
       |nout AS (SELECT event_type, coalesce(max(CASE WHEN is_sig = 1 THEN i END), 0) AS n_out
       |         FROM sig GROUP BY 1)
       |SELECT s.event_type, s.i, s.ts_rm AS ts, s.x_rm AS $valueAlias, round(s.r_stat, 6) AS r_stat,
       |  round(s.f, 6) AS p_cdf, s.is_sig, CASE WHEN s.i <= n.n_out THEN 1 ELSE 0 END AS in_outlier_set
       |FROM sig s JOIN nout n ON s.event_type = n.event_type""".stripMargin

  val sql: Map[String, String] = Map(

    "q_esd_outliers" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |ser AS (SELECT event_type,
         |         list_transform(list_sort(list_zip(list(epoch(ts)::BIGINT), list(value))),
         |                        z -> struct_pack(t := z[1], x := z[2])) AS pts
         |        FROM (SELECT event_type, ts, value FROM hourly) GROUP BY 1),
         |base AS (SELECT event_type, pts, len(pts) AS n,
         |          round(list_sum(list_transform(pts, p -> p.x)), 4) AS s1,
         |          round(list_sum(list_transform(pts, p -> p.x * p.x)), 4) AS s2
         |         FROM ser),
         |esd AS (
         |  SELECT event_type, 0 AS i, pts AS rem, s1, s2, n,
         |         0::BIGINT AS ts_rm, 0.0::DOUBLE AS x_rm, 0.0::DOUBLE AS r_stat,
         |         0.0::DOUBLE AS tt, 0.0::DOUBLE AS sn, 0.0::DOUBLE AS cs,
         |         0::BIGINT AS nu, 0::BIGINT AS q, 0 AS fcase
         |  FROM base
         |  UNION ALL
         |  SELECT e.event_type, e.i + 1,
         |    list_concat(e.rem[1:m.idx - 1], e.rem[m.idx + 1:]),
         |    e.s1 - m.xr, e.s2 - m.xr * m.xr, e.n,
         |    m.tr, m.xr, m.r_stat, m.tt, m.sn, m.cs, m.nu, m.q, m.fcase
         |  FROM esd e, LATERAL (
         |    SELECT idx, xr, tr, r_stat, nu, q, fcase, tt,
         |      CASE WHEN fcase <> 0 THEN 0.0 ELSE tt / sqrt(nu + tt * tt) END AS sn,
         |      CASE WHEN fcase <> 0 THEN 0.0 ELSE sqrt(nu::DOUBLE) / sqrt(nu + tt * tt) END AS cs
         |    FROM (
         |      SELECT idx, xr, tr, r_stat, nu, q, fcase,
         |        CASE WHEN fcase <> 0 THEN 0.0 ELSE r_stat * sqrt(nu * (q + 1) / den) END AS tt
         |      FROM (
         |        SELECT list_position(devs, list_max(devs)) AS idx,
         |               rem[list_position(devs, list_max(devs))].x AS xr,
         |               rem[list_position(devs, list_max(devs))].t AS tr,
         |               list_max(devs) / sd AS r_stat,
         |               q - 1 AS nu, q,
         |               q::DOUBLE * q - (list_max(devs) / sd) * (list_max(devs) / sd) * (q + 1) AS den,
         |               CASE WHEN sd <= 1e-12 THEN 1
         |                    WHEN q::DOUBLE * q - (list_max(devs) / sd) * (list_max(devs) / sd) * (q + 1) <= 0 THEN 2
         |                    ELSE 0 END AS fcase
         |        FROM (SELECT e.rem AS rem,
         |                     list_transform(e.rem, p -> abs(p.x - e.s1 / len(e.rem))) AS devs,
         |                     sqrt(greatest(e.s2 - e.s1 * e.s1 / len(e.rem), 0.0) / (len(e.rem) - 1)) AS sd,
         |                     e.n - (e.i + 1) AS q)))
         |  ) m
         |  WHERE e.i < $MaxR AND len(e.rem) >= 4
         |),
         |cand AS (SELECT event_type, i, ts_rm, x_rm, r_stat, tt, sn, cs, nu, q, fcase
         |         FROM esd WHERE i > 0),
         |${esdTail("value")}""".stripMargin,

    "q_sesd" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |hod AS (SELECT event_type, extract(hour FROM ts) AS h, round(avg(value), 6) AS seas
         |        FROM dense GROUP BY 1, 2),
         |medt AS (SELECT event_type,
         |           (srt[(len(srt) + 1) // 2] + srt[len(srt) // 2 + 1]) / 2.0 AS med
         |         FROM (SELECT event_type, list_sort(list(value)) AS srt FROM dense GROUP BY 1)),
         |res AS (SELECT d.event_type, epoch(d.ts)::BIGINT AS ts,
         |          round((d.value - h.seas) - m.med, 6) AS x
         |        FROM dense d
         |        JOIN hod h ON d.event_type = h.event_type AND extract(hour FROM d.ts) = h.h
         |        JOIN medt m ON d.event_type = m.event_type),
         |ser AS (SELECT event_type,
         |         list_transform(list_sort(list_zip(list(ts), list(x))),
         |                        z -> struct_pack(t := z[1], x := z[2])) AS pts
         |        FROM res GROUP BY 1),
         |base AS (SELECT event_type, pts, len(pts) AS n FROM ser),
         |esd AS (
         |  SELECT event_type, 0 AS i, pts AS rem, n,
         |         0::BIGINT AS ts_rm, 0.0::DOUBLE AS x_rm, 0.0::DOUBLE AS r_stat,
         |         0.0::DOUBLE AS tt, 0.0::DOUBLE AS sn, 0.0::DOUBLE AS cs,
         |         0::BIGINT AS nu, 0::BIGINT AS q, 0 AS fcase
         |  FROM base
         |  UNION ALL
         |  SELECT e.event_type, e.i + 1,
         |    list_concat(e.rem[1:m.idx - 1], e.rem[m.idx + 1:]),
         |    e.n,
         |    m.tr, m.xr, m.r_stat, m.tt, m.sn, m.cs, m.nu, m.q, m.fcase
         |  FROM esd e, LATERAL (
         |    SELECT idx, xr, tr, r_stat, nu, q, fcase, tt,
         |      CASE WHEN fcase <> 0 THEN 0.0 ELSE tt / sqrt(nu + tt * tt) END AS sn,
         |      CASE WHEN fcase <> 0 THEN 0.0 ELSE sqrt(nu::DOUBLE) / sqrt(nu + tt * tt) END AS cs
         |    FROM (
         |      SELECT idx, xr, tr, r_stat, nu, q, fcase,
         |        CASE WHEN fcase <> 0 THEN 0.0 ELSE r_stat * sqrt(nu * (q + 1) / den) END AS tt
         |      FROM (
         |        SELECT list_position(devs, list_max(devs)) AS idx,
         |               rem[list_position(devs, list_max(devs))].x AS xr,
         |               rem[list_position(devs, list_max(devs))].t AS tr,
         |               CASE WHEN sdh <= 1e-12 THEN 0.0 ELSE list_max(devs) / sdh END AS r_stat,
         |               q - 1 AS nu, q,
         |               CASE WHEN sdh <= 1e-12 THEN 0.0
         |                    ELSE q::DOUBLE * q - (list_max(devs) / sdh) * (list_max(devs) / sdh) * (q + 1) END AS den,
         |               CASE WHEN sdh <= 1e-12 THEN 1
         |                    WHEN q::DOUBLE * q - (list_max(devs) / sdh) * (list_max(devs) / sdh) * (q + 1) <= 0 THEN 2
         |                    ELSE 0 END AS fcase
         |        FROM (
         |          SELECT rem, devs, q,
         |            1.4826 * (sdevs[(len(sdevs) + 1) // 2] + sdevs[len(sdevs) // 2 + 1]) / 2.0 AS sdh
         |          FROM (
         |            SELECT rem, devs, list_sort(devs) AS sdevs, q
         |            FROM (
         |              SELECT rem, q, list_transform(rem, p -> abs(p.x - med)) AS devs
         |              FROM (
         |                SELECT rem, q,
         |                  (srt[(len(srt) + 1) // 2] + srt[len(srt) // 2 + 1]) / 2.0 AS med
         |                FROM (SELECT e.rem AS rem,
         |                        list_sort(list_transform(e.rem, p -> p.x)) AS srt,
         |                        e.n - (e.i + 1) AS q)))))))
         |  ) m
         |  WHERE e.i < $MaxR AND len(e.rem) >= 4
         |),
         |cand AS (SELECT event_type, i, ts_rm, x_rm, r_stat, tt, sn, cs, nu, q, fcase
         |         FROM esd WHERE i > 0),
         |${esdTail("resid")}""".stripMargin
  )
}
