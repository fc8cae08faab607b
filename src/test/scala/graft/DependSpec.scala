package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the rank-dependence + sequential-decision pack
  * (DependQueries): Kendall/Spearman internal consistency, the UCB1
  * replay's accounting identities, and the MMD kernel's bounds.
  */
class DependSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_kendall: pair accounting conserves, tau_b bounded, z sign follows S") {
    val rows = SparkEntry.queries("q_kendall")(spark, dir).collect()
    assert(rows.length == 10, "5 series -> 10 unordered pairs")
    rows.foreach { r =>
      val (n, conc, disc, tau, z) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))
      val n0 = n * (n - 1) / 2
      assert(conc + disc <= n0, "concordant + discordant can never exceed all pairs")
      assert(tau >= -1.0 - 1e-9 && tau <= 1.0 + 1e-9)
      if (conc > disc) assert(z > 0) else if (conc < disc) assert(z < 0)
    }
  }

  test("q_spearman: rho bounded and consistent with Kendall's direction") {
    val sp = SparkEntry.queries("q_spearman")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    val kd = SparkEntry.queries("q_kendall")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(5))).toMap
    assert(sp.size == 10)
    sp.values.foreach(rho => assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9))
    // the two rank correlations must agree in sign whenever either is
    // decisively nonzero (|.| > 0.1)
    sp.foreach { case (k, rho) =>
      val tau = kd(k)
      if (math.abs(rho) > 0.1 && math.abs(tau) > 0.1)
        assert(rho.sign == tau.sign, s"pair $k: rho=$rho vs tau=$tau")
    }
  }

  test("q_bandit_ucb: plays conserve to the horizon, every arm explored, one best") {
    val rows = SparkEntry.queries("q_bandit_ucb")(spark, dir).collect()
    assert(rows.length == 5)
    val horizon = Tables.hourlyEvents(spark, dir)
      .select("ts").distinct().count()
    val plays = rows.map(_.getLong(1))
    assert(plays.sum == horizon, "one pull per hour of the timeline")
    assert(plays.forall(_ >= 1), "UCB1 initialization plays every arm once")
    assert(rows.map(_.getInt(4)).sum == 1, "exactly one ex-post best arm")
    rows.foreach { r =>
      val mean = r.getDouble(3)
      assert(mean >= 0.0 && mean <= 1.0 + 1e-9, "rewards are count shares in [0,1]")
    }
    // UCB must concentrate: the most-played arm gets more than an equal split
    assert(plays.max > horizon / 5, "no concentration — the replay is broken")
  }

  test("q_hoeffding: D bounded in [-0.5, 1], strong rank dependence registers") {
    val hd = SparkEntry.queries("q_hoeffding")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    val sp = SparkEntry.queries("q_spearman")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(hd.size == 10)
    hd.values.foreach(d => assert(d >= -0.5 - 1e-9 && d <= 1.0 + 1e-9))
    // monotone dependence is a special case of what D detects
    sp.foreach { case (k, rho) =>
      if (math.abs(rho) > 0.5) assert(hd(k) > 0.0,
        s"pair $k: |rho|=$rho but D=${hd(k)} missed it")
    }
  }

  test("q_dfa: one alpha per series, fluctuations grow with box size") {
    val rows = SparkEntry.queries("q_dfa")(spark, dir).collect()
    assert(rows.length == 20, "5 series x 4 box sizes")
    rows.groupBy(_.getString(0)).foreach { case (et, rs) =>
      assert(rs.map(_.getDouble(4)).distinct.length == 1, s"$et: alpha not constant")
      val bySize = rs.sortBy(_.getInt(1))
      assert(bySize.last.getDouble(3) > bySize.head.getDouble(3),
        s"$et: F(64) must exceed F(8) for any real series")
    }
  }

  test("q_sampen: counts nested (A <= B), entropy nonnegative") {
    val rows = SparkEntry.queries("q_sampen")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), "m=3 matches are a subset of m=2 matches")
      if (!r.isNullAt(5)) assert(r.getDouble(5) >= 0.0)
    }
  }

  test("q_coherence: bounded in [0,1], lag within half a period") {
    val rows = SparkEntry.queries("q_coherence")(spark, dir).collect()
    assert(rows.length == 30, "10 pairs x 3 periods")
    rows.foreach { r =>
      val (p, coh, lag) = (r.getInt(2), r.getDouble(4), r.getDouble(6))
      assert(coh >= -1e-9 && coh <= 1.0 + 1e-9, s"coherence $coh out of [0,1]")
      assert(math.abs(lag) <= p / 2.0 + 1e-6, s"lag $lag beyond half of $p")
    }
  }

  test("q_gev_return: return levels ordered and above the location parameter") {
    val rows = SparkEntry.queries("q_gev_return")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (mu, r30, r90, r365) =
        (r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(r30 > mu, "30-day return level must exceed the GEV location")
      assert(r30 <= r90 + 1e-9 && r90 <= r365 + 1e-9,
        s"return levels must be monotone in horizon: $r30 / $r90 / $r365")
      assert(r.getDouble(2).abs < 1.0, "block-maxima kappa should be moderate")
    }
  }

  test("q_dtw_matrix: metric axioms hold on the pair set") {
    val rows = SparkEntry.queries("q_dtw_matrix")(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (n, d) = (r.getLong(2), r.getDouble(3))
      assert(n >= 10, "PAA grid too short")
      assert(d >= 0.0, "DTW distance is nonnegative")
      assert(d < 1e300, "band must never disconnect equal-length series")
    }
    // distances must discriminate: not all pairs identical
    assert(rows.map(_.getDouble(3)).distinct.length > 1)
  }

  test("q_mmd_drift: kernel bounds hold and the estimate is near-zero-safe") {
    val r = SparkEntry.queries("q_mmd_drift")(spark, dir).collect()
    assert(r.length == 1)
    val (nq, s2, mmd) = (r(0).getLong(0), r(0).getDouble(1), r(0).getDouble(2))
    assert(nq >= 100, s"expected >=100 quadruples, got $nq")
    assert(s2 > 0, "bandwidth must be positive")
    // each h term is a difference of four kernel values in (0,1]
    assert(mmd >= -2.0 - 1e-9 && mmd <= 2.0 + 1e-9)
  }
}
