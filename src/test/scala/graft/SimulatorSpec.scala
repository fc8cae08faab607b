package graft

import graft.detectors.CusumV2
import graft.operators.Simulator
import graft.queries.SimQueries
import org.scalatest.funsuite.AnyFunSuite

/** The simulator battery's two contracts:
  *
  * 1. The distributed closed-form queries (SimQueries) compute the SAME
  *    series as the sequential library simulators (Simulator.*Sim /
  *    inject*) — segment stats agree to FP-reassociation tolerance.
  * 2. Detectors actually find what the simulators plant: CUSUM locates a
  *    simulated level shift at its true changepoint, and an injected
  *    trend shift moves Mann-Kendall-style slope sign — the round-trip
  *    the reference uses its simulators for (kats detector tests drive
  *    on level_shift_sim/trend_shift_sim corpora).
  */
class SimulatorSpec extends AnyFunSuite with SparkSuite {

  private def segStats(xs: Array[Double], bounds: Seq[Int]): Seq[(Int, Double, Double)] = {
    val bs = 0 +: bounds :+ xs.length
    bs.sliding(2).zipWithIndex.map { case (Seq(b, e), i) =>
      val seg = xs.slice(b, e)
      val mu = seg.sum / seg.length
      val v = seg.map(x => (x - mu) * (x - mu)).sum / seg.length
      (i, mu, v)
    }.toSeq
  }

  test("q_simulate_level_shift closed form matches sequential levelShiftSim") {
    import SimQueries.Lvl._
    val rows = SimQueries.defs("q_simulate_level_shift")(spark, "")
      .collect().map(r => ((r.getLong(0), r.getInt(1)), (r.getDouble(3), r.getDouble(4)))).toMap
    for (seed <- Seeds) {
      val xs = Simulator.levelShiftSim(N, Cp, Levels, Noise, Period, SeasMag, Anoms, Z, seed)
      for ((seg, mu, v) <- segStats(xs, Cp.toSeq)) {
        val (qMu, qVar) = rows((seed, seg))
        assert(math.abs(qMu - mu) < 1e-6, s"seed=$seed seg=$seg mean $qMu vs $mu")
        assert(math.abs(qVar - v) < 1e-5, s"seed=$seed seg=$seg var $qVar vs $v")
      }
    }
  }

  test("q_simulate_trend_shift closed form matches sequential trendShiftSim") {
    import SimQueries.Trend._
    val rows = SimQueries.defs("q_simulate_trend_shift")(spark, "")
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    for (seed <- Seeds) {
      val xs = Simulator.trendShiftSim(N, Cp, Trends, Intercept, Noise, Period, SeasMag, Anoms, Z, seed)
      for ((seg, mu, _) <- segStats(xs, Cp.toSeq)) {
        val qMu = rows((seed, seg))
        assert(math.abs(qMu - mu) < 1e-6, s"seed=$seed seg=$seg mean $qMu vs $mu")
      }
    }
  }

  test("q_simulate_inject closed form matches the sequential injection pipeline") {
    import SimQueries.Inj._
    val rows = SimQueries.defs("q_simulate_inject")(spark, "")
      .collect().map(r => ((r.getLong(0), r.getInt(1)), (r.getDouble(3), r.getDouble(5)))).toMap
    for (seed <- Seeds) {
      val base = Simulator.stlSim(N, TrendMag, SeasMag, Period, NoiseMag, seed)
      val shifted = Simulator.injectTrendShift(
        Simulator.injectLevelShift(base, LvlCp, LvlAdd), TrCp, TrAdd)
      val expectedSigma = Simulator.spikeScale(shifted)
      val xs = Simulator.injectSpikes(shifted, Anoms, Z)
      for ((seg, mu, _) <- segStats(xs, Seq(100, 200, 300, 400))) {
        val (qMu, qSigma) = rows((seed, seg))
        assert(math.abs(qMu - mu) < 1e-6, s"seed=$seed seg=$seg mean $qMu vs $mu")
        assert(math.abs(qSigma - expectedSigma) < 1e-6, s"seed=$seed sigma $qSigma vs $expectedSigma")
      }
    }
  }

  test("q_simulate_stl closed form matches sequential stlSim") {
    import SimQueries.Stl._
    val rows = SimQueries.defs("q_simulate_stl")(spark, "")
      .collect().map(r => (r.getLong(3), r.getDouble(4))).toMap
    for ((tm, sm, nm, seed) <- Grid) {
      val xs = Simulator.stlSim(N, tm, sm, Period, nm, seed)
      val mu = xs.sum / xs.length
      assert(math.abs(rows(seed) - mu) < 1e-6, s"seed=$seed mean ${rows(seed)} vs $mu")
    }
  }

  test("CUSUM detects the changepoint a level-shift simulation plants") {
    // one shift only, big enough to dominate noise: cp at 150 of 300
    val xs = Simulator.levelShiftSim(300, Array(150), Array(2.0, 12.0), 1.0, 7, 0.5, seed = 7L)
    val r = CusumV2.detect(xs, increase = true)
    val cp = r(0).toInt
    assert(r(7) == 1.0, "shift must be detected (llr gate)")
    assert(math.abs(cp - 150) <= 3, s"changepoint $cp should sit at the planted 150")
    assert(r(3) > 8.0, s"estimated delta ${r(3)} should approach the planted 10")
  }

  test("injected spikes stand out at the planted z-score") {
    val base = Simulator.stlSim(400, 0.0, 0.0, 50.0, 1.0, seed = 11L)
    val spiked = Simulator.injectSpikes(base, Array(123), Array(9.0))
    assert(spiked.zipWithIndex.count { case (v, i) => v != base(i) } == 1,
      "exactly the one planted index changes")
    val mu = base.sum / base.length
    val sigma = math.sqrt(base.map(x => (x - mu) * (x - mu)).sum / base.length)
    assert((spiked(123) - mu) / sigma > 5.0, "spiked point must be a >5-sigma outlier")
  }

  test("q_forecast_eval: OLS path recovers the planted trend/seasonality within noise bounds") {
    val rows = SparkEntry.queries("q_forecast_eval")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      // true params: slope 5 over the span, sin amplitude 2, sigma 1
      assert(r.getDouble(7) < 0.5, s"slope error ${r.getDouble(7)} too large")  // slope_err
      assert(r.getDouble(8) < 0.3, s"amplitude error ${r.getDouble(8)} too large") // amp_err
      val rmse = r.getDouble(5)
      assert(rmse > 0.7 && rmse < 1.3, s"rmse $rmse far from the planted sigma 1")
    }
  }

  test("q_detector_eval: residual-z detector recovers both planted spikes (recall 1)") {
    val rows = SparkEntry.queries("q_detector_eval")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 2) // one row per seed
    rows.foreach { r =>
      val (tp, fp, fn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tp == 2, s"seed ${r.getLong(0)}: expected both spikes found, tp=$tp")
      assert(fn == 0)
      assert(fp <= 10, s"false alarms $fp out of calibration")
      assert(r.getDouble(5) == 1.0) // recall
      val f1 = r.getDouble(6)
      assert(f1 > 0.0 && f1 <= 1.0)
    }
  }
}
