package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the econometric-diagnostics pack (EconQueries): TSB
  * probability bounds + forecast identity, Durbin-Watson range, ARCH LM
  * stat identity, newsvendor fractile monotonicity.
  */
class EconSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("Tsb.fit: probability decays through trailing zeros; Croston would not") {
    // demand at t=0..3, then 16 zero periods: TSB p̂ decays by 0.95^16
    val xs = Array(5.0, 5.0, 5.0, 5.0) ++ Array.fill(16)(0.0)
    val r = graft.models.Tsb.fit(xs)
    assert(r(0) == 20.0 && r(1) == 4.0)
    val pAfterDemand = 1.0 // demand every period up to t=3 keeps p at 1
    val expectedP = pAfterDemand * math.pow(0.95, 16)
    assert(math.abs(r(2) - expectedP) < 1e-12, s"p_hat ${r(2)} != $expectedP")
    assert(math.abs(r(4) - r(2) * r(3)) < 1e-12)
    // all-zero series: no demand, zero forecast, no crash
    val z = graft.models.Tsb.fit(Array.fill(10)(0.0))
    assert(z(1) == 0.0 && z(4) == 0.0)
  }

  test("q_tsb: p in (0,1], tsb = p*z at output rounding, n_nonzero <= n_periods") {
    val rows = SparkEntry.queries("q_tsb")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (np, nz, p, z, f) = (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(nz > 0 && nz <= np)
      assert(p > 0.0 && p <= 1.0)
      assert(math.abs(f - p * z) < 1e-4, "tsb must equal p_hat * z_hat")
    }
  }

  test("q_durbin_watson: dw in [0,4], rho1 identity") {
    val rows = SparkEntry.queries("q_durbin_watson")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val dw = r.getDouble(3)
      assert(dw >= 0.0 && dw <= 4.0, s"dw $dw out of range")
      assert(math.abs(r.getDouble(4) - (1.0 - dw / 2.0)) < 1e-5)
    }
  }

  test("q_arch_lm: r2 in [0,1], lm = n*r2, p in [0,1]") {
    val rows = SparkEntry.queries("q_arch_lm")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, r2, lm, p) = (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(r2 >= 0.0 && r2 <= 1.0)
      assert(math.abs(lm - n * r2) < 1e-2, s"lm $lm != n*r2 ${n * r2}")
      assert(p >= 0.0 && p <= 1.0)
    }
  }

  test("q_cooks_distance: flagged points exceed 4/n, leverage in (0,1)") {
    val rows = SparkEntry.queries("q_cooks_distance")(spark, dir).collect()
    assert(rows.nonEmpty, "a 600-point noisy series should have influential points")
    rows.foreach { r =>
      val (d, h) = (r.getDouble(3), r.getDouble(4))
      assert(d > 0)
      assert(h > 0 && h < 1.0, s"leverage $h out of (0,1)")
    }
  }

  test("q_boxcox: lambda from the grid, ll finite; planted lognormal prefers log") {
    val rows = SparkEntry.queries("q_boxcox")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(Seq(-1.0, -0.5, 0.0, 0.5, 1.0).contains(r.getDouble(2)))
      assert(!r.getDouble(3).isNaN && !r.getDouble(3).isInfinite)
    }
    // planted check: exp(z), z ~ spread normals — profile LL must pick λ=0
    // over λ=1 (the data is exactly log-normal)
    val zs = (1 to 400).map(i => math.exp(3.0 + 1.5 * math.sin(i * 1.7) + 0.8 * math.cos(i * 0.31)))
    def ll(lam: Double): Double = {
      val yt = zs.map(y => if (lam == 0.0) math.log(y) else (math.pow(y, lam) - 1) / lam)
      val n = yt.length
      val v = yt.map(x => x * x).sum / n - math.pow(yt.sum / n, 2)
      -(n / 2.0) * math.log(v) + (lam - 1.0) * zs.map(math.log).sum
    }
    assert(ll(0.0) > ll(1.0) && ll(0.0) > ll(-1.0),
      "log transform must maximize the profile likelihood on log-normal data")
  }

  test("q_newsvendor: fractile stocks are monotone in the ratio") {
    val rows = SparkEntry.queries("q_newsvendor")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (s75, s90, s99) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(s75 <= s90 && s90 <= s99, "stocks must be monotone in the critical ratio")
      assert(r.getDouble(2) > 0 && s75 > 0)
    }
  }
}
