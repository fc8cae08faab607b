package graft.detectors

import graft.{SeriesOps, TSSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bayesian Online Changepoint Detection, Normal unknown-mean model
  * (kats/detectors/bocpd.py:_BayesOnlineChangePoint._find_posterior;
  * Adams & MacKay 2007). Linear scan per collected series, parallel
  * across series.
  *
  * Reported change probability follows the reference's lagged convention
  * (bocpd.py:_construct_output): change_prob[t] = P(r_{t+lag} = lag),
  * i.e. a changepoint at t is confirmed once it has survived `lag`
  * observations; the final `lag` points and the first point report 0.
  */
object Bocpd {

  /** Normal-model priors: segment-mean prior (mu0, v0) + observation
    * noise sigma2. The batch path estimates them from the full series;
    * the streaming path ([[graft.streaming.StreamingDetectors.bocpd]])
    * takes them as a trained baseline.
    */
  final case class Priors(mu0: Double, v0: Double, sigma2: Double)

  /** The batch prior estimate: overall mean/variance for the segment-mean
    * prior; observation noise from first differences (Var(x_t - x_{t-1})
    * = 2σ² for iid noise, insensitive to level shifts — unlike the
    * overall variance, which a changepoint inflates).
    */
  def priorsOf(xs: Array[Double]): Priors = {
    val n = xs.length
    val mean = xs.sum / n
    val variance = {
      var acc = 0.0; var i = 0
      while (i < n) { val d = xs(i) - mean; acc += d * d; i += 1 }
      math.max(acc / math.max(n - 1, 1), 1e-12)
    }
    val sigma2 = {
      var acc = 0.0; var sumD = 0.0; var i = 1
      while (i < n) { sumD += xs(i) - xs(i - 1); i += 1 }
      val md = sumD / (n - 1)
      i = 1
      while (i < n) { val d = xs(i) - xs(i - 1) - md; acc += d * d; i += 1 }
      math.max(acc / (2.0 * math.max(n - 2, 1)), 1e-12)
    }
    Priors(mean, variance, sigma2)
  }

  def changeProb(xs: Array[Double], hazard: Double = 0.01, lagN: Int = 10): Array[Double] = {
    if (xs.length < 2) return new Array[Double](xs.length)
    changeProbWithPriors(xs, priorsOf(xs), hazard, lagN)
  }

  /** The recurrence with explicit priors — shared verbatim by the batch
    * estimate-then-scan path and the streaming replay equivalence spec.
    *
    * The run-length posterior variance obeys V[0] = 1/(1/v0 + 1/σ²),
    * V[r+1] = 1/(1/V[r] + 1/σ²): it does not depend on t, so V, the
    * predictive variance V[r] + σ² and its normalizer sqrt(2π(V[r] + σ²))
    * are computed once per series. Probability and mean live in two
    * ping-pong buffers. With proper priors (v0, σ² positive and finite,
    * hazard ≤ 1) the predictive is finite unless its residual is NaN, so a
    * run length whose mass is exactly 0.0 has a joint of exactly 0.0 and
    * skips the exp; its slot stays 0.0 from then on. Every value is the
    * same double, bit for bit, as the per-step textbook form.
    */
  def changeProbWithPriors(xs: Array[Double], priors: Priors,
                           hazard: Double = 0.01, lagN: Int = 10): Array[Double] = {
    val n = xs.length
    val out = new Array[Double](n)
    if (n < 2) return out
    val sigma2 = priors.sigma2
    val mu0 = priors.mu0; val v0 = priors.v0 // prior over segment mean
    // run-length tables, index = run length in points seen since cp
    val g0 = 1.0 / (1.0 / v0 + 1.0 / sigma2)
    val rV = new Array[Double](n)
    val pv = new Array[Double](n)
    val norm = new Array[Double](n)
    rV(0) = g0
    var i = 0
    while (i < n) {
      if (i > 0) rV(i) = 1.0 / (1.0 / rV(i - 1) + 1.0 / sigma2)
      pv(i) = rV(i) + sigma2
      norm(i) = math.sqrt(2 * math.Pi * pv(i))
      i += 1
    }
    var rProb = new Array[Double](n)
    var rMu = new Array[Double](n)
    var nProb = new Array[Double](n)
    var nMu = new Array[Double](n)
    val growth = new Array[Double](n)
    rProb(0) = 1.0
    rMu(0) = mu0 + (xs(0) - mu0) * (v0 / (v0 + sigma2))
    val skipZero = v0 > 0 && v0 < Double.PositiveInfinity &&
      sigma2 > 0 && sigma2 < Double.PositiveInfinity && hazard <= 1.0
    var k = 1 // live run lengths
    var t = 1
    while (t < n) {
      val x = xs(t)
      val xs2 = x / sigma2
      var cp = 0.0
      i = 0
      while (i < k) {
        val p = rProb(i)
        val d = x - rMu(i)
        if (p == 0.0 && skipZero && !d.isNaN) growth(i) = 0.0
        else {
          val pred = math.exp(-0.5 * d * d / pv(i)) / norm(i)
          val joint = p * pred
          growth(i) = joint * (1 - hazard)
          cp += joint * hazard
        }
        i += 1
      }
      var total = cp
      i = 0; while (i < k) { total += growth(i); i += 1 }
      if (total <= 0 || total.isNaN) total = 1e-300
      // r=0: segment restarted at t, observe x under the prior
      nProb(0) = cp / total
      nMu(0) = g0 * (mu0 / v0 + xs2)
      i = 0
      while (i < k) {
        nProb(i + 1) = growth(i) / total
        nMu(i + 1) = rV(i + 1) * (rMu(i) / rV(i) + xs2)
        i += 1
      }
      k += 1
      if (t >= lagN && lagN < k) out(t - lagN) = nProb(lagN)
      val sp = rProb; rProb = nProb; nProb = sp
      val sm = rMu; rMu = nMu; nMu = sm
      t += 1
    }
    out(0) = 0.0 // the first point is never a changepoint (reference convention)
    out
  }

  /** TREND_CHANGE_MODEL (kats/detectors/bocpd.py:_BayesianLinReg,
    * re-derived): each run length carries a conjugate Bayesian linear
    * regression of x on the within-run time index (ridge prior λ on both
    * coefficients, observation noise σ² from robust first differences).
    * The predictive for the next point is Normal with mean [1 t]·β̂ and
    * variance σ²(1 + zᵀ(XᵀX + λI)⁻¹z) — a changepoint resets the fit.
    */
  def changeProbTrend(xs: Array[Double], hazard: Double = 0.01, lagN: Int = 10,
                      ridge: Double = 1.0): Array[Double] = {
    val n = xs.length
    val out = new Array[Double](n)
    if (n < 2) return out
    val mu0 = xs.sum / n
    val v0 = {
      var acc = 0.0; var i = 0
      while (i < n) { val d = xs(i) - mu0; acc += d * d; i += 1 }
      math.max(acc / math.max(n - 1, 1), 1e-12)
    }
    val sigma2 = {
      var sumD = 0.0; var i = 1
      while (i < n) { sumD += xs(i) - xs(i - 1); i += 1 }
      val md = sumD / (n - 1)
      var acc = 0.0
      i = 1
      while (i < n) { val d = xs(i) - xs(i - 1) - md; acc += d * d; i += 1 }
      math.max(acc / (2.0 * math.max(n - 2, 1)), 1e-12)
    }
    // run-length state: regression sufficient statistics within the run
    final case class St(var n: Double, var st: Double, var stt: Double, var sx: Double, var stx: Double)
    def predictive(s: St, x: Double): Double =
      if (s.n == 0) { // empty run: prior predictive, as in the Normal model
        val pv = v0 + sigma2
        val d = x - mu0
        math.exp(-0.5 * d * d / pv) / math.sqrt(2 * math.Pi * pv)
      } else {
        // posterior mean of (a, b) with ridge λ; predictive at t = s.n
        val a11 = s.n + ridge; val a12 = s.st; val a22 = s.stt + ridge
        val det = a11 * a22 - a12 * a12
        val ba = (a22 * s.sx - a12 * s.stx) / det
        val bb = (a11 * s.stx - a12 * s.sx) / det
        val t = s.n // next within-run index (0-based)
        val mean = ba + bb * t
        // zᵀ(XᵀX+λI)⁻¹z for z = [1, t]
        val q = (a22 - 2 * t * a12 + t * t * a11) / det
        val pv = sigma2 * (1.0 + q) + 1e-12
        val d = x - mean
        math.exp(-0.5 * d * d / pv) / math.sqrt(2 * math.Pi * pv)
      }
    var rProb = Array(1.0)
    var rSt = Array(St(0, 0, 0, 0, 0))
    // absorb x0 into the first run
    rSt(0) = St(1, 0, 0, xs(0), 0)
    var t = 1
    while (t < n) {
      val x = xs(t)
      val k = rProb.length
      val growth = new Array[Double](k)
      var cp = 0.0
      var i = 0
      while (i < k) {
        val joint = rProb(i) * predictive(rSt(i), x)
        growth(i) = joint * (1 - hazard)
        cp += joint * hazard
        i += 1
      }
      var total = cp
      i = 0; while (i < k) { total += growth(i); i += 1 }
      if (total <= 0 || total.isNaN) total = 1e-300
      val nProb = new Array[Double](k + 1)
      val nSt = new Array[St](k + 1)
      nProb(0) = cp / total
      nSt(0) = St(1, 0, 0, x, 0) // restart: x is index 0 of the new run
      i = 0
      while (i < k) {
        nProb(i + 1) = growth(i) / total
        val s = rSt(i)
        val ti = s.n // x lands at within-run index s.n
        nSt(i + 1) = St(s.n + 1, s.st + ti, s.stt + ti * ti, s.sx + x, s.stx + ti * x)
        i += 1
      }
      if (t >= lagN && lagN < nProb.length) out(t - lagN) = nProb(lagN)
      rProb = nProb; rSt = nSt
      t += 1
    }
    out(0) = 0.0
    out
  }

  /** POISSON_PROCESS_MODEL (kats/detectors/bocpd.py, re-derived):
    * Gamma-Poisson conjugacy per run length — state (α, β) updates to
    * (α + x, β + 1); the predictive is negative binomial
    * NB(x | α, β/(β+1)) evaluated via log-gamma. For count-valued series
    * (e.g. per-bucket event counts).
    */
  def changeProbPoisson(counts: Array[Double], hazard: Double = 0.01, lagN: Int = 10): Array[Double] = {
    val n = counts.length
    val out = new Array[Double](n)
    if (n < 2) return out
    val rate = math.max(counts.sum / n, 1e-3)
    val alpha0 = rate // prior shape ≈ global rate, prior rate β=1
    val beta0 = 1.0
    def logPred(alpha: Double, beta: Double, x: Double): Double =
      breeze.numerics.lgamma(x + alpha) - breeze.numerics.lgamma(alpha) -
        breeze.numerics.lgamma(x + 1.0) +
        alpha * math.log(beta / (beta + 1.0)) + x * math.log(1.0 / (beta + 1.0))
    var rProb = Array(1.0)
    var rA = Array(alpha0 + counts(0))
    var rB = Array(beta0 + 1.0)
    var t = 1
    while (t < n) {
      // floor(x + 0.5): half-away-from-zero for the non-negative counts,
      // matching DuckDB round() in the oracle (rint would tie half-to-even)
      val x = math.max(math.floor(counts(t) + 0.5), 0.0)
      val k = rProb.length
      val growth = new Array[Double](k)
      var cp = 0.0
      var i = 0
      while (i < k) {
        val pred = math.exp(logPred(rA(i), rB(i), x))
        val joint = rProb(i) * pred
        growth(i) = joint * (1 - hazard)
        cp += joint * hazard
        i += 1
      }
      var total = cp
      i = 0; while (i < k) { total += growth(i); i += 1 }
      if (total <= 0 || total.isNaN) total = 1e-300
      val nProb = new Array[Double](k + 1)
      val nA = new Array[Double](k + 1)
      val nB = new Array[Double](k + 1)
      nProb(0) = cp / total
      nA(0) = alpha0 + x
      nB(0) = beta0 + 1.0
      i = 0
      while (i < k) {
        nProb(i + 1) = growth(i) / total
        nA(i + 1) = rA(i) + x
        nB(i + 1) = rB(i) + 1.0
        i += 1
      }
      if (t >= lagN && lagN < nProb.length) out(t - lagN) = nProb(lagN)
      rProb = nProb; rA = nA; rB = nB
      t += 1
    }
    out(0) = 0.0
    out
  }

  /** Per-point change probability column `cp_prob`; returns the `topK`
    * most probable changepoints per series (threshold-free so quiet
    * series still report their ranking).
    */
  def detect(df: DataFrame, s: TSSchema, hazard: Double = 0.01, topK: Int = 3): DataFrame =
    detectWith(df, s, topK)(changeProb(_, hazard))

  /** Per-point change probabilities without the top-k cut — the input to
    * threshold-style consumers (tsfeatures get_bocp_detector).
    */
  def scores(df: DataFrame, s: TSSchema, hazard: Double = 0.01): DataFrame =
    SeriesOps.mapSeries(df, s, "cp_prob")(changeProb(_, hazard))

  def detectTrend(df: DataFrame, s: TSSchema, hazard: Double = 0.01, topK: Int = 3): DataFrame =
    detectWith(df, s, topK)(changeProbTrend(_, hazard))

  def detectPoisson(df: DataFrame, s: TSSchema, hazard: Double = 0.01, topK: Int = 3): DataFrame =
    detectWith(df, s, topK)(changeProbPoisson(_, hazard))

  private def detectWith(df: DataFrame, s: TSSchema, topK: Int)(f: Array[Double] => Array[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = SeriesOps.mapSeries(df, s, "cp_prob")(f)
    val w = Window.partitionBy(s.keyCols: _*).orderBy(col("cp_prob").desc, col(s.ts))
    scored.withColumn("_rk", row_number().over(w)).where(col("_rk") <= topK).drop("_rk")
  }
}
