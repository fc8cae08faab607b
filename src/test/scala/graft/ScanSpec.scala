package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the temporal-scan pack (ScanQueries) + Lorenz deciles. */
class ScanSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_scan_stat: winner per series, window count above expectation, llr >= 0") {
    val rows = SparkEntry.queries("q_scan_stat")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (len, c, e, llr) = (r.getInt(2), r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(Seq(6, 12, 24, 48).contains(len))
      assert(llr >= 0.0)
      if (llr > 0) assert(c > e, "positive LLR requires an excess window")
    }
  }

  test("q_record_stats: record count bounded by n, at least the first point is a record") {
    val rows = SparkEntry.queries("q_record_stats")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, rec, exp) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(rec >= 1 && rec <= n)
      // H_n grows like ln n
      assert(exp > math.log(n.toDouble) - 1 && exp < math.log(n.toDouble) + 2)
    }
  }

  test("q_ess: ess in (0, n], ratio consistent") {
    val rows = SparkEntry.queries("q_ess")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, ess, ratio) = (r.getLong(1), r.getDouble(4), r.getDouble(5))
      assert(ess > 0, "negative/zero ESS would mean sum_rho <= -0.5 — implausible here")
      assert(math.abs(ratio - ess / n) < 1e-5)
    }
  }

  test("q_mosum: every flagged window has |statistic| > 3") {
    val rows = SparkEntry.queries("q_mosum")(spark, dir).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3)) > 3.0)
      assert(r.getDouble(2) > 0, "window sums of positive hourly values must be positive")
    }
  }

  test("q_rolling_beta: daily samples, betas finite") {
    val rows = SparkEntry.queries("q_rolling_beta")(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite)
    }
    // samples are 24 observations apart — with grid gaps that is AT LEAST
    // 24 hours of wall time between consecutive betas
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val ts = g.map(_.getLong(1)).sorted
      ts.zip(ts.drop(1)).foreach { case (a, b) => assert(b - a >= 86400) }
    }
  }

  test("q_perm_entropy: h in [0, ln6], norm in [0,1], at most 6 valid patterns") {
    val rows = SparkEntry.queries("q_perm_entropy")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (np, h, hn) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(np <= 6, "only 6 of the 8 comparison codes are geometrically valid")
      assert(h >= 0.0 && h <= math.log(6.0) + 1e-9)
      assert(hn >= 0.0 && hn <= 1.0 + 1e-9)
    }
  }

  test("q_turning_points: count bounded by interior points; expectation formula") {
    val rows = SparkEntry.queries("q_turning_points")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, t, exp) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(t <= n - 2)
      assert(math.abs(exp - 2.0 * (n - 2) / 3.0) < 1e-6)
    }
  }

  test("q_lorenz_deciles: 10 deciles, shares non-decreasing, cum ends at 1") {
    val rows = SparkEntry.queries("q_lorenz_deciles")(spark, dir).collect()
      .sortBy(_.getInt(0))
    assert(rows.length == 10)
    var last = 0.0
    rows.foreach { r =>
      val share = r.getDouble(3)
      assert(share >= last - 1e-9, "revenue deciles must have non-decreasing shares")
      last = share
    }
    assert(math.abs(rows.last.getDouble(4) - 1.0) < 1e-3, "cumulative share must end at 1")
  }
}
