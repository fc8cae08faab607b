package graft

import graft.detectors.{Bocpd, FftSeasonality, MannKendall}
import org.scalatest.funsuite.AnyFunSuite

class AlgoSpec extends AnyFunSuite {

  test("MannKendall matches the O(n^2) definition on random data") {
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(200)(math.floor(rnd.nextGaussian() * 50) / 10.0) // induce ties
    var sNaive = 0L
    for (i <- xs.indices; j <- (i + 1) until xs.length)
      sNaive += math.signum(xs(j) - xs(i)).toLong
    val (s, _, _, _) = MannKendall.mkStats(xs)
    assert(s === sNaive)
  }

  test("MannKendall detects a monotone trend") {
    val xs = Array.tabulate(100)(i => i + math.sin(i) * 0.1)
    val (s, tau, z, trend) = MannKendall.mkStats(xs)
    assert(trend === 1)
    assert(tau > 0.9)
    assert(z > 10)
    assert(s === 100L * 99 / 2) // strictly increasing: every pair concordant
  }

  test("BOCPD flags an obvious level shift near the true changepoint") {
    val rnd = new scala.util.Random(3)
    val xs = Array.tabulate(200)(i => (if (i < 100) 0.0 else 8.0) + rnd.nextGaussian())
    val probs = Bocpd.changeProb(xs, hazard = 0.01, lagN = 10)
    val peak = probs.zipWithIndex.maxBy(_._1)
    assert(math.abs(peak._2 - 100) <= 2, s"peak at ${peak._2}")
    assert(peak._1 > 0.5, s"peak prob ${peak._1}")
    // quiet region stays quiet
    assert(probs.slice(20, 80).max < 0.2)
  }

  /** The textbook per-step BOCPD recurrence (fresh arrays every step, the
    * posterior variance recomputed every step, every run length scored):
    * the reference the production kernel must equal bit for bit. */
  private def bocpdReference(xs: Array[Double], priors: Bocpd.Priors,
                             hazard: Double, lagN: Int): Array[Double] = {
    val n = xs.length
    val out = new Array[Double](n)
    if (n < 2) return out
    val sigma2 = priors.sigma2
    val mu0 = priors.mu0; val v0 = priors.v0
    var rProb = Array(1.0)
    var rMu = Array(mu0 + (xs(0) - mu0) * (v0 / (v0 + sigma2)))
    var rV = Array(1.0 / (1.0 / v0 + 1.0 / sigma2))
    var t = 1
    while (t < n) {
      val x = xs(t)
      val k = rProb.length
      val growth = new Array[Double](k)
      var cp = 0.0
      var i = 0
      while (i < k) {
        val pv = rV(i) + sigma2
        val d = x - rMu(i)
        val pred = math.exp(-0.5 * d * d / pv) / math.sqrt(2 * math.Pi * pv)
        val joint = rProb(i) * pred
        growth(i) = joint * (1 - hazard)
        cp += joint * hazard
        i += 1
      }
      var total = cp
      i = 0; while (i < k) { total += growth(i); i += 1 }
      if (total <= 0 || total.isNaN) total = 1e-300
      val nProb = new Array[Double](k + 1)
      val nMu = new Array[Double](k + 1)
      val nV = new Array[Double](k + 1)
      val g0 = 1.0 / (1.0 / v0 + 1.0 / sigma2)
      nProb(0) = cp / total
      nV(0) = g0
      nMu(0) = g0 * (mu0 / v0 + x / sigma2)
      i = 0
      while (i < k) {
        nProb(i + 1) = growth(i) / total
        val g = 1.0 / (1.0 / rV(i) + 1.0 / sigma2)
        nV(i + 1) = g
        nMu(i + 1) = g * (rMu(i) / rV(i) + x / sigma2)
        i += 1
      }
      if (t >= lagN && lagN < nProb.length) out(t - lagN) = nProb(lagN)
      rProb = nProb; rMu = nMu; rV = nV
      t += 1
    }
    out(0) = 0.0
    out
  }

  test("BOCPD kernel equals the per-step reference recurrence bit for bit") {
    val rnd = new scala.util.Random(11)
    def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    // seeded hourly-like series with one planted ±12σ level shift each: the
    // shift drives the older run lengths' mass to exactly 0.0
    val series = (0 until 240).map { s =>
      val n = 720
      val level = 50 + rnd.nextDouble() * 100
      val sd = 1 + rnd.nextDouble() * 2
      val at = 180 + rnd.nextInt(360)
      val shift = (if (rnd.nextBoolean()) 12 else -12) * sd
      Array.tabulate(n)(i => level + (if (i >= at) shift else 0.0) +
        math.sin(2 * math.Pi * i / 24) * sd + rnd.nextGaussian() * sd)
    }
    val short = Seq(Array.empty[Double], Array(1.0), Array(1.0, 2.0), Array.fill(12)(3.0),
      Array(0.0, 1e6, -1e6, 0.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0))
    for (xs <- series ++ short; (hazard, lagN) <- Seq((0.01, 10), (0.2, 3), (0.001, 40))) {
      val pr = if (xs.length >= 2) Bocpd.priorsOf(xs) else Bocpd.Priors(0.0, 1.0, 1.0)
      val got = Bocpd.changeProbWithPriors(xs, pr, hazard, lagN)
      assert(bits(got) == bits(bocpdReference(xs, pr, hazard, lagN)),
        s"n=${xs.length} hazard=$hazard lag=$lagN")
    }
    // non-finite inputs and improper priors take the unskipped path
    val odd = Array(1.0, 2.0, Double.NaN, 3.0, Double.PositiveInfinity, 4.0, 5.0, 1.0, 2.0, 3.0, 4.0, 5.0)
    for (pr <- Seq(Bocpd.Priors(2.0, 1.0, 1.0), Bocpd.Priors(2.0, 0.0, 1.0), Bocpd.Priors(2.0, 1.0, 0.0)))
      assert(bits(Bocpd.changeProbWithPriors(odd, pr, 0.01, 2)) == bits(bocpdReference(odd, pr, 0.01, 2)))
    val shifted = series.head
    assert(bits(Bocpd.changeProbWithPriors(shifted, Bocpd.priorsOf(shifted), 1.5, 10)) ==
      bits(bocpdReference(shifted, Bocpd.priorsOf(shifted), 1.5, 10)))
  }

  test("FFT seasonality finds the true period of a sine") {
    val xs = Array.tabulate(240)(i => math.sin(2 * math.Pi * i / 24.0) + 0.1)
    val (period, share) = FftSeasonality.dominantPeriod(xs)
    assert(math.abs(period - 24.0) < 1e-9)
    assert(share > 0.95)
  }

  test("generalized SARIMA AR(p) kernel reduces to the fixed (1,1,0) kernel at p=1") {
    import graft.models.Regressors
    val rnd = new scala.util.Random(3)
    val xs = Array.tabulate(200)(i =>
      10.0 + 0.05 * i + 3 * math.sin(2 * math.Pi * i / 24.0) + rnd.nextGaussian())
    val (c, phi, sphi, s2) = Regressors.sarimaFit(xs, 24)
    val (b, s2p) = Regressors.sarimaFitP(xs, 24, 1)
    // the fixed kernel solves by QR, the generalized one by the ridged
    // normal equations the oracle uses — they agree to the ridge scale
    assert(math.abs(b(0) - c) < 1e-6 && math.abs(b(1) - phi) < 1e-6 && math.abs(b(2) - sphi) < 1e-6)
    assert(math.abs(s2p - s2) < 1e-6)
    val f1 = Regressors.sarimaForecast(xs, 24, 12)
    val fp = Regressors.sarimaForecastP(xs, 24, 1, 12)
    f1.zip(fp).foreach { case (a, bb) => assert(math.abs(a - bb) < 1e-5) }
  }

  test("SARIMA AR(2) fit tracks a genuinely AR(2) differenced process better than AR(1)") {
    import graft.models.Regressors
    val rnd = new scala.util.Random(9)
    // build w as AR(2), then integrate twice (regular + seasonal) so the
    // (p,1,0)(1,1,0)_24 pipeline recovers it
    val L = 400
    val w = new Array[Double](L)
    for (t <- 2 until L) w(t) = 0.6 * w(t - 1) - 0.3 * w(t - 2) + rnd.nextGaussian()
    val d = new Array[Double](L + 24)
    for (t <- 24 until L + 24) d(t) = d(t - 24) + w(t - 24)
    val xs = new Array[Double](L + 25)
    for (t <- 1 until L + 25) xs(t) = xs(t - 1) + d(t - 1)
    val (b2, s22) = Regressors.sarimaFitP(xs, 24, 2)
    val (_, s21) = Regressors.sarimaFitP(xs, 24, 1)
    assert(math.abs(b2(1) - 0.6) < 0.15 && math.abs(b2(2) - (-0.3)) < 0.15,
      s"AR(2) coefficients off: ${b2.toSeq}")
    assert(s22 < s21, "AR(2) must fit an AR(2) process better than AR(1)")
  }
}
