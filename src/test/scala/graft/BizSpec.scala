package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the business-analytics pack (BizQueries): KM curve
  * monotonicity + risk-set accounting, elasticity moment sanity, and the
  * value-domain quantile lookup against a literal sort.
  */
class BizSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_kaplan_meier: survival is non-increasing in (0,1], risk set shrinks, steps ordered") {
    val rows = SparkEntry.queries("q_kaplan_meier")(spark, dir).collect()
      .sortBy(_.getInt(0))
    assert(rows.nonEmpty)
    var lastSurv = 1.0
    var lastRisk = Long.MaxValue
    rows.foreach { r =>
      val (risk, churned, surv) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(churned > 0 && churned <= risk)
      assert(risk <= lastRisk, "risk set must shrink over time")
      assert(surv > 0.0 - 1e-12 && surv <= lastSurv + 1e-12, "survival must be non-increasing")
      lastSurv = surv; lastRisk = risk
    }
    // first step's survival is exactly 1 - churned/at_risk
    val h = rows.head
    assert(math.abs(h.getDouble(3) - (1.0 - h.getLong(2).toDouble / h.getLong(1))) < 1e-6)
  }

  test("q_elasticity: 25 brands, r2 in [0,1], finite coefficients") {
    val rows = SparkEntry.queries("q_elasticity")(spark, dir).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
      val r2 = r.getDouble(4)
      assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9, s"r2 $r2 out of range")
    }
  }

  test("q_bass_diffusion: recovered market size tracks the realized adopter count") {
    val rows = SparkEntry.queries("q_bass_diffusion")(spark, dir).collect()
    assert(rows.length == 5)
    var defined = 0
    rows.foreach { r =>
      val nAdopt = r.getLong(2)
      assert(nAdopt > 0)
      if (!r.isNullAt(6)) {
        defined += 1
        val mHat = r.getDouble(6)
        // on a nearly-complete adoption history m must track realized adopters
        assert(math.abs(mHat - nAdopt) / nAdopt < 0.25,
          s"${r.getString(0)}: m_hat $mHat vs adopters $nAdopt")
        assert(r.getDouble(7) > 0, "p must be positive when defined")
      } else {
        // guard consistency: undefined m comes only from c >= 0 or disc < 0
        assert(r.getDouble(5) >= 0 ||
          r.getDouble(4) * r.getDouble(4) - 4.0 * r.getDouble(3) * r.getDouble(5) < 0)
      }
    }
    assert(defined >= 2, "Bass fit defined on too few regions")
  }

  test("q_rfm_migration: 5x5-at-most matrix, counts positive, both-half customers only") {
    val rows = SparkEntry.queries("q_rfm_migration")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    val segs = Set("champion", "recent", "loyal", "at_risk", "regular")
    rows.foreach { r =>
      assert(segs.contains(r.getString(0)) && segs.contains(r.getString(1)))
      assert(r.getLong(2) > 0)
    }
  }

  test("q_tech_vwap_obv: vwap within the day's value range; obv close is an integer walk") {
    val rows = SparkEntry.queries("q_tech_vwap_obv")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0, "vwap of positive prices must be positive")
      assert(r.getLong(3) > 0)
    }
  }

  test("q_markov_attribution: shares sum to 1, removal effects in [0,1], base cvr sane") {
    val rows = SparkEntry.queries("q_markov_attribution")(spark, dir).collect()
    assert(rows.nonEmpty)
    var shareSum = 0.0
    rows.foreach { r =>
      val (re, att, cvr) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(re >= 0.0 && re <= 1.0, s"removal effect $re out of range")
      assert(cvr > 0.0 && cvr <= 1.0)
      shareSum += att
    }
    assert(math.abs(shareSum - 1.0) < 1e-4, s"attribution shares sum to $shareSum, not 1")
  }

  test("q_cohort_ltv: cumulative revenue is non-decreasing in age; ltv = cum/size") {
    val rows = SparkEntry.queries("q_cohort_ltv")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.get(0)).foreach { case (_, cohort) =>
      val byAge = cohort.sortBy(_.getInt(1))
      assert(byAge.head.getInt(1) == 0, "every cohort starts at age 0")
      var lastCum = 0.0
      byAge.foreach { r =>
        val (n, rev, cum, ltv) =
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
        assert(n > 0 && rev > 0)
        assert(cum >= lastCum - 1e-9, "cumulative revenue must be non-decreasing")
        assert(math.abs(ltv - cum / n) < 1e-6, "ltv must equal cum_revenue / n_customers")
        lastCum = cum
      }
    }
  }

  test("q_attribution: credit is conserved — one unit per touched purchase") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_attribution")(spark, dir).collect()
    assert(rows.nonEmpty)
    val totalCredit = rows.map(_.getDouble(3)).sum
    // distinct purchases with >= 1 touch, recomputed independently
    val ev = Tables.events(spark, dir)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
    val t = ev.where(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").as("tts"))
    val touched = p.join(t, Seq("user_id"))
      .where(col("tts") <= col("pts") && col("tts") > col("pts") - expr("INTERVAL 7 DAY"))
      .select("pid").distinct().count()
    assert(math.abs(totalCredit - touched) < 1e-3,
      s"total credit $totalCredit != touched purchases $touched")
  }

  test("q_stream_ohlc: closed streamed bars equal the batch bar builder") {
    val stream = SparkEntry.queries("q_stream_ohlc")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    val batch = SparkEntry.queries("q_ohlc_bars")(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000) -> (r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    assert(stream.nonEmpty && stream.size == batch.size)
    batch.foreach { case (k, v) =>
      assert(stream.get(k).contains(v), s"bar $k stream != batch")
    }
  }

  test("q_leadtime: quantile lookup equals a literal sorted-array percentile") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_leadtime")(spark, dir).collect()
    assert(rows.length == 5)
    // recompute one priority's p50/p90/p99 by brute force
    val pr = rows.head.getString(0)
    val days = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .where(col("o_orderpriority") === pr)
      .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("d"))
      .collect().map(_.getInt(0)).sorted
    val n = days.length
    def pct(p: Int) = days(((n - 1) * p) / 100)
    val r = rows.find(_.getString(0) == pr).get
    assert(r.getLong(1) == n.toLong)
    assert(r.getInt(3) == pct(50), s"p50 ${r.getInt(3)} != ${pct(50)}")
    assert(r.getInt(4) == pct(90), s"p90 ${r.getInt(4)} != ${pct(90)}")
    assert(r.getInt(5) == pct(99), s"p99 ${r.getInt(5)} != ${pct(99)}")
    rows.foreach { row =>
      assert(row.getInt(3) <= row.getInt(4) && row.getInt(4) <= row.getInt(5))
    }
  }
}
