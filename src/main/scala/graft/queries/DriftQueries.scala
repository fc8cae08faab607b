package graft.queries

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust-cleaning and distribution-drift operators over the event
  * series (beyond the reference's detector suite — the three classics a
  * production monitoring stack adds next):
  *
  *  - Hampel identifier (Hampel 1974; the rolling median/MAD outlier
  *    filter): centered window median + scaled MAD, points beyond
  *    3·1.4826·MAD flagged and replaced — the standard robust cleaning
  *    pass that precedes model fits;
  *  - two-sample Kolmogorov-Smirnov test between the series' first and
  *    second halves: D carried as EXACT integer cross-products
  *    (max |c1·n2 − c2·n1| / (n1·n2) — no float until one final
  *    division), asymptotic p via the Kolmogorov Q series with a
  *    sequentially-replayed 20-term sum;
  *  - Page-Hinkley test (Page 1954; the sequential drift monitor):
  *    cumulative deviation from the running mean minus its running
  *    minimum, alarm when the gap exceeds λ — the recursion is replayed
  *    step-for-step by the oracle.
  *
  * All three ride per-series window frames or the one-series-per-row
  * reduction: one keyed shuffle each, scale axis = series count.
  */
object DriftQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private val H = Tables.hourlySql

  /** Hampel: centered half-window and the Gaussian MAD scale. */
  private val HampelK = 5
  private val MadScale = 1.4826
  private val HampelT = 3.0

  /** KS: Numerical-Recipes asymptotic constants, 20-term Q series. */
  private val KsTerms = 20

  /** Page-Hinkley: tolerance and alarm threshold as multiples of the
    * series' own σ (the absolute-λ form is scale-dependent and alarms
    * instantly on O(100) event volumes; σ-relative is how the test is
    * deployed on un-normalized streams). */
  private val PhDeltaSd = 0.005
  private val PhLambdaSd = 20.0

  /** Exact median of a SORTED array column (odd: middle; even: mean of
    * the two middles — pure arithmetic on two elements, no sums). */
  private def medSorted(sorted: Column): Column = {
    val n = size(sorted)
    (element_at(sorted, ((n + 1) / 2).cast("int")) +
      element_at(sorted, (n / 2 + 1).cast("int"))) / 2.0
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── Hampel filter: per point, the median and MAD of the centered
    // 11-point frame (shrinking at the edges), flag + replace beyond
    // 3·1.4826·MAD. Median/MAD are exact order statistics of the frame
    // list — no float aggregation anywhere, so engines agree bit-for-bit.
    // One series-keyed shuffle; frames are bounded. ──
    "q_hampel" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts")
        .rowsBetween(-HampelK, HampelK)
      val withMed = Tables.denseHourly(s, dir)
        .withColumn("_frame", sort_array(collect_list("value").over(w)))
        .withColumn("med", medSorted(col("_frame")))
      val withMad = withMed
        .withColumn("_devs", sort_array(transform(col("_frame"), v => abs(v - col("med")))))
        .withColumn("mad", medSorted(col("_devs")))
      withMad
        .withColumn("is_outlier",
          when(abs(col("value") - col("med")) > lit(HampelT) * (lit(MadScale) * col("mad")), 1).otherwise(0))
        .select(col("event_type"), unix_timestamp(col("ts")).as("ts"), col("value"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"), col("is_outlier"),
          round(when(col("is_outlier") === 1, col("med")).otherwise(col("value")), 6).as("cleaned"))
    }),

    // ── Two-sample KS between series halves. The D search is exact
    // integer math over the merged order (ties resolved by taking the
    // running counts AFTER all duplicates of a value — the right-
    // continuous ECDF), then one division; the Q-series p-value is a
    // 20-term sequential sum the oracle replays in the same order. ──
    "q_ks_test" -> ((s, dir) => {
      val wo = Window.partitionBy("event_type").orderBy("ts")
      val half = Tables.denseHourly(s, dir)
        .withColumn("rn", row_number().over(wo))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("grp", when(col("rn") <= col("n") / 2, 1).otherwise(2))
      val counts = half.groupBy("event_type")
        .agg(sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"))
      val wv = Window.partitionBy("event_type").orderBy(col("value"), col("grp"), col("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTies = Window.partitionBy("event_type", "value")
      val ecdf = half
        .withColumn("c1", sum(when(col("grp") === 1, 1L).otherwise(0L)).over(wv))
        .withColumn("c2", sum(when(col("grp") === 2, 1L).otherwise(0L)).over(wv))
        // right-continuous ECDF: evaluate at the LAST row of each tied value
        .withColumn("c1v", max("c1").over(wTies))
        .withColumn("c2v", max("c2").over(wTies))
      val d = ecdf.join(counts, "event_type")
        .groupBy("event_type", "n1", "n2")
        .agg(max(abs(col("c1v") * col("n2") - col("c2v") * col("n1"))).as("dint"))
      val phFn = udf { (dint: Long, n1: Long, n2: Long) =>
        val dStat = dint.toDouble / (n1.toDouble * n2)
        val ne = n1.toDouble * n2 / (n1 + n2)
        val lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * dStat
        var p = 0.0
        var k = 1
        while (k <= KsTerms) {
          val t = 2.0 * math.exp(-2.0 * (k.toDouble * k) * (lam * lam))
          p += (if (k % 2 == 1) t else -t)
          k += 1
        }
        (dStat, lam, math.min(math.max(p, 0.0), 1.0))
      }
      d.withColumn("_r", phFn(col("dint"), col("n1"), col("n2")))
        .select(col("event_type"), col("n1"), col("n2"),
          round(col("_r._1"), 6).as("d_stat"), round(col("_r._2"), 6).as("lambda"),
          round(col("_r._3"), 6).as("p_value"),
          when(col("_r._3") < 0.05, 1).otherwise(0).as("drifted"))
    }),

    // ── Page-Hinkley: m_t = Σ (x_i − x̄_i − δ) with x̄_i the running mean,
    // M_t = min m_≤t; alarm when m_t − M_t > λ. δ = 0.005σ and λ = 20σ
    // with σ from the series' 4-dp-snapped moments (the ESD snap
    // discipline), so both engines run the identical recursion; the
    // oracle replays it step for step. One keyed shuffle via the series
    // reduction. ──
    "q_page_hinkley" -> ((s, dir) => {
      val fn = udf { (ts: Seq[Long], xs: Seq[Double]) =>
        val n = xs.length
        var s1 = 0.0; var s2 = 0.0
        var p = 0
        while (p < n) { s1 += xs(p); p += 1 }
        p = 0
        while (p < n) { s2 += xs(p) * xs(p); p += 1 }
        s1 = math.signum(s1) * math.floor(math.abs(s1) * 1e4 + 0.5) / 1e4
        s2 = math.signum(s2) * math.floor(math.abs(s2) * 1e4 + 0.5) / 1e4
        val sd = math.sqrt((s2 - s1 * s1 / n) / (n - 1))
        val delta = PhDeltaSd * sd
        val lambda = PhLambdaSd * sd
        var mean = 0.0; var cum = 0.0; var mn = 0.0
        var alarmTs = -1L; var alarmI = -1
        var maxGap = 0.0
        var i = 0
        while (i < n) {
          mean = mean + (xs(i) - mean) / (i + 1)
          cum = cum + (xs(i) - mean - delta)
          if (cum < mn) mn = cum
          val gap = cum - mn
          if (gap > maxGap) maxGap = gap
          if (alarmI < 0 && gap > lambda) { alarmI = i; alarmTs = ts(i) }
          i += 1
        }
        (alarmI, alarmTs, maxGap, lambda)
      }
      SeriesOps.collect(Tables.denseHourly(s, dir), S)
        .withColumn("_r", fn(transform(col("tss"), t => unix_timestamp(t)), col("xs")))
        .select(col("event_type"), col("_r._1").as("alarm_idx"), col("_r._2").as("alarm_ts"),
          round(col("_r._3"), 6).as("max_gap"), round(col("_r._4"), 6).as("lambda"),
          when(col("_r._1") >= 0, 1).otherwise(0).as("alarmed"))
    }),

    // ── Isotonic regression via pool-adjacent-violators (Barlow et al.
    // 1972; the calibration-curve / monotone-trend fit): the PAVA stack
    // runs on 1e6-SCALED BIGINT pool sums, so every violation test is an
    // exact integer cross-product (sum_a·cnt_b vs sum_b·cnt_a) — no
    // float compare can diverge between engines; the fitted value only
    // becomes a double at emission. The oracle drives the same stack as
    // a one-action-per-step state machine (append or merge) in a
    // recursive CTE, then expands pools back to points. One series
    // shuffle; O(n) kernel per collected series. ──
    "q_isotonic" -> ((s, dir) => {
      val iso = SeriesOps.mapSeries(Tables.denseHourly(s, dir), S, "iso_fit") { xs =>
        val n = xs.length
        val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
        val cnts = scala.collection.mutable.ArrayBuffer.empty[Long]
        xs.foreach { x =>
          sums += math.round(x * 1e6); cnts += 1L
          while (sums.length >= 2 &&
            sums(sums.length - 1) * cnts(cnts.length - 2) < sums(sums.length - 2) * cnts(cnts.length - 1)) {
            val l = sums.length
            sums(l - 2) += sums(l - 1); cnts(l - 2) += cnts(l - 1)
            sums.remove(l - 1); cnts.remove(l - 1)
          }
        }
        val out = new Array[Double](n)
        var k = 0; var p = 0
        while (p < sums.length) {
          val fit = sums(p).toDouble / (cnts(p) * 1e6)
          var c = 0L
          while (c < cnts(p)) { out(k) = fit; k += 1; c += 1 }
          p += 1
        }
        out
      }
      iso.select(col("event_type"), unix_timestamp(col("ts")).as("ts"), col("value"), col("iso_fit"))
    })
  )

  val sql: Map[String, String] = Map(

    "q_hampel" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |fr AS (SELECT event_type, ts, value,
         |         list_sort(list(value) OVER (PARTITION BY event_type ORDER BY ts
         |                                     ROWS BETWEEN $HampelK PRECEDING AND $HampelK FOLLOWING)) AS frame
         |       FROM dense),
         |md AS (SELECT *, (frame[(len(frame) + 1) // 2] + frame[len(frame) // 2 + 1]) / 2.0 AS med FROM fr),
         |dv AS (SELECT *, list_sort(list_transform(frame, v -> abs(v - med))) AS devs FROM md),
         |mb AS (SELECT *, (devs[(len(devs) + 1) // 2] + devs[len(devs) // 2 + 1]) / 2.0 AS mad FROM dv),
         |fl AS (SELECT *, CASE WHEN abs(value - med) > $HampelT * ($MadScale * mad) THEN 1 ELSE 0 END AS is_outlier FROM mb)
         |SELECT event_type, epoch(ts)::BIGINT AS ts, value,
         |  round(med, 6) AS med, round(mad, 6) AS mad, is_outlier,
         |  round(CASE WHEN is_outlier = 1 THEN med ELSE value END, 6) AS cleaned
         |FROM fl""".stripMargin,

    "q_ks_test" -> {
      val qTerms = (1 to KsTerms).map { k =>
        val sgn = if (k % 2 == 1) "+" else "-"
        s"$sgn 2.0 * exp(-2.0 * ${k}.0E0 * ${k}.0E0 * (lam * lam))"
      }.mkString(" ")
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |rn AS (SELECT event_type, ts, value,
         |         row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n
         |       FROM dense),
         |half AS (SELECT *, CASE WHEN rn <= n // 2 THEN 1 ELSE 2 END AS grp FROM rn),
         |counts AS (SELECT event_type,
         |             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |             sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
         |           FROM half GROUP BY 1),
         |ecdf AS (SELECT event_type, value,
         |           sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) OVER
         |             (PARTITION BY event_type ORDER BY value, grp, rn
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS c1,
         |           sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) OVER
         |             (PARTITION BY event_type ORDER BY value, grp, rn
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS c2
         |         FROM half),
         |ties AS (SELECT event_type, value,
         |           max(c1) OVER (PARTITION BY event_type, value) AS c1v,
         |           max(c2) OVER (PARTITION BY event_type, value) AS c2v
         |         FROM ecdf),
         |d AS (SELECT t.event_type, c.n1, c.n2,
         |        max(abs(t.c1v * c.n2 - t.c2v * c.n1))::BIGINT AS dint
         |      FROM ties t JOIN counts c ON t.event_type = c.event_type
         |      GROUP BY 1, 2, 3),
         |sc AS (SELECT event_type, n1, n2,
         |         dint::DOUBLE / (n1::DOUBLE * n2) AS d_stat,
         |         (sqrt(n1::DOUBLE * n2 / (n1 + n2)) + 0.12 + 0.11 / sqrt(n1::DOUBLE * n2 / (n1 + n2)))
         |           * (dint::DOUBLE / (n1::DOUBLE * n2)) AS lam
         |       FROM d),
         |pv AS (SELECT *, least(greatest(0.0 $qTerms, 0.0), 1.0) AS p FROM sc)
         |SELECT event_type, n1, n2, round(d_stat, 6) AS d_stat, round(lam, 6) AS lambda,
         |  round(p, 6) AS p_value, CASE WHEN p < 0.05 THEN 1 ELSE 0 END AS drifted
         |FROM pv""".stripMargin
    },

    "q_page_hinkley" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, epoch(ts)::BIGINT AS ts, value,
         |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS n
         |        FROM dense),
         |mo AS (SELECT event_type, round(sum(value), 4) AS s1, round(sum(value * value), 4) AS s2,
         |          max(n) AS n
         |       FROM ord GROUP BY 1),
         |th AS (SELECT event_type,
         |         $PhDeltaSd * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS delta,
         |         $PhLambdaSd * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS lam
         |       FROM mo),
         |rec AS (
         |  SELECT o.event_type, 1 AS i, o.n, t.delta, t.lam,
         |    o.value AS mean,
         |    o.value - o.value - t.delta AS cum,
         |    least(o.value - o.value - t.delta, 0.0) AS mn,
         |    CASE WHEN (o.value - o.value - t.delta) - least(o.value - o.value - t.delta, 0.0) > t.lam
         |         THEN 0 ELSE -1 END AS alarm_idx,
         |    CASE WHEN (o.value - o.value - t.delta) - least(o.value - o.value - t.delta, 0.0) > t.lam
         |         THEN o.ts ELSE -1 END AS alarm_ts,
         |    (o.value - o.value - t.delta) - least(o.value - o.value - t.delta, 0.0) AS max_gap
         |  FROM ord o JOIN th t ON o.event_type = t.event_type WHERE o.rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1, r.n, r.delta, r.lam,
         |    r.mean + (o.value - r.mean) / (r.i + 1),
         |    r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta),
         |    least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn),
         |    CASE WHEN r.alarm_idx >= 0 THEN r.alarm_idx
         |         WHEN (r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta))
         |              - least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn) > r.lam
         |         THEN r.i ELSE -1 END,
         |    CASE WHEN r.alarm_idx >= 0 THEN r.alarm_ts
         |         WHEN (r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta))
         |              - least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn) > r.lam
         |         THEN o.ts ELSE -1 END,
         |    greatest(r.max_gap,
         |      (r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta))
         |      - least(r.cum + (o.value - (r.mean + (o.value - r.mean) / (r.i + 1)) - r.delta), r.mn))
         |  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.i + 1
         |  WHERE r.i + 1 <= r.n)
         |SELECT event_type, alarm_idx, alarm_ts, round(max_gap, 6) AS max_gap,
         |  round(lam, 6) AS lambda,
         |  CASE WHEN alarm_idx >= 0 THEN 1 ELSE 0 END AS alarmed
         |FROM rec WHERE i = n""".stripMargin,

    "q_isotonic" ->
      s"""WITH RECURSIVE hourly AS ($H),
         |${Tables.denseHourlySql},
         |ord AS (SELECT event_type, ts, value, round(value * 1e6)::BIGINT AS xi,
         |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS n
         |        FROM dense),
         |iso AS (
         |  SELECT event_type, 0 AS i, 0 AS st, max(n) AS n,
         |         []::BIGINT[] AS sums, []::BIGINT[] AS cnts
         |  FROM ord GROUP BY 1
         |  UNION ALL
         |  SELECT event_type,
         |    CASE WHEN do_merge THEN i ELSE i + 1 END,
         |    st + 1, n,
         |    CASE WHEN do_merge
         |         THEN list_append(sums[1:len(sums) - 2], sums[len(sums) - 1] + sums[len(sums)])
         |         ELSE list_append(sums, next_xi) END,
         |    CASE WHEN do_merge
         |         THEN list_append(cnts[1:len(cnts) - 2], cnts[len(cnts) - 1] + cnts[len(cnts)])
         |         ELSE list_append(cnts, 1::BIGINT) END
         |  FROM (SELECT e.*, o.xi AS next_xi,
         |          len(e.sums) >= 2 AND
         |            e.sums[len(e.sums)] * e.cnts[len(e.cnts) - 1]
         |              < e.sums[len(e.sums) - 1] * e.cnts[len(e.cnts)] AS do_merge
         |        FROM iso e LEFT JOIN ord o ON o.event_type = e.event_type AND o.rn = e.i + 1)
         |  WHERE do_merge OR i < n),
         |fin AS (SELECT event_type, max_by(sums, st) AS sums, max_by(cnts, st) AS cnts
         |        FROM iso GROUP BY 1),
         |pools AS (SELECT event_type, unnest(sums) AS s, unnest(cnts) AS c,
         |            generate_subscripts(sums, 1) AS pi
         |          FROM fin),
         |rng AS (SELECT event_type, s, c, pi,
         |          sum(c) OVER (PARTITION BY event_type ORDER BY pi) AS hi
         |        FROM pools)
         |SELECT o.event_type, epoch(o.ts)::BIGINT AS ts, o.value,
         |  round(r.s / (r.c * 1e6), 6) AS iso_fit
         |FROM ord o JOIN rng r ON o.event_type = r.event_type
         |  AND o.rn BETWEEN r.hi - r.c + 1 AND r.hi""".stripMargin
  )
}
