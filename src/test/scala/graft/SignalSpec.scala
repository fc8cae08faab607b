package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the cross-series signal pack (SignalQueries). */
class SignalSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_market_beta: finite coefficients, r2 in [0,1], 5 series") {
    val rows = SparkEntry.queries("q_market_beta")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) > 10)
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
      val r2 = r.getDouble(4)
      assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9)
    }
  }

  test("q_mutual_info: 10 unordered pairs, mi >= 0, nmi in [0,1]") {
    val rows = SparkEntry.queries("q_mutual_info")(spark, dir).collect()
    assert(rows.length == 10, "C(5,2) = 10 series pairs")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs are canonical (a < b)")
      val (mi, nmi) = (r.getDouble(3), r.getDouble(4))
      assert(mi >= -1e-9, s"MI $mi must be non-negative")
      assert(nmi >= -1e-9 && nmi <= 1.0 + 1e-9, s"NMI $nmi out of [0,1]")
    }
  }

  test("q_peak_detect: every peak clears the threshold and its own series mean") {
    val rows = SparkEntry.queries("q_peak_detect")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= r.getDouble(3), "peak below the reported threshold")
    }
    // peaks are strictly rarer than the raw series
    val n = Tables.hourlyEvents(spark, dir).count()
    assert(rows.length < n / 5, "peak detector fired on too much of the series")
  }

  test("q_calendar_lift: 7 dows per series, lifts average ~1 weighted by hours") {
    val rows = SparkEntry.queries("q_calendar_lift")(spark, dir).collect()
    assert(rows.length == 35)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (0 to 6))
      // weighted mean of dow means equals the overall mean, so the
      // hour-weighted lift must be 1
      val wsum = g.map(r => r.getDouble(4) * r.getLong(2)).sum
      val n = g.map(_.getLong(2)).sum
      assert(math.abs(wsum / n - 1.0) < 1e-3, s"weighted lift ${wsum / n} != 1")
    }
  }
}
