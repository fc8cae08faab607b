package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the structural-stability pack (StabilityQueries). */
class StabilitySpec extends AnyFunSuite with SparkSuite {

  test("q_capability: limits ordered, out-share consistent with cpk direction") {
    val rows = SparkEntry.queries("q_capability")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (usl, lsl, cp, cpk, outs) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(usl > lsl)
      assert(cp > 0 && cpk <= cp + 1e-9, "Cpk never exceeds Cp")
      assert(outs >= 0.0 && outs <= 1.0)
    }
  }

  test("q_tracking_signal: alarm count consistent with the max statistic") {
    val rows = SparkEntry.queries("q_tracking_signal")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (maxAbs, alarms, biased) = (r.getDouble(3), r.getLong(4), r.getInt(5))
      assert(maxAbs >= 0)
      if (alarms > 0) assert(biased == 1 && maxAbs > 4.0)
      assert(math.abs(r.getDouble(2)) <= maxAbs + 1e-9, "final |TS| bounded by max")
    }
  }

  test("q_langid_eval: counts conserve and diagonal metrics defined") {
    val rows = SparkEntry.queries("q_langid_eval")(spark, "/root/testdata/sf0.001").collect()
    val total = Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(_.getLong(2)).sum == total, "confusion cells partition all docs")
    val diag = rows.filter(r => r.getString(0) == r.getString(1))
    assert(diag.nonEmpty)
    diag.foreach { r =>
      assert(!r.isNullAt(5) && !r.isNullAt(6))
      assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1.0 + 1e-9)
    }
  }

  test("q_tukey_hsd: HSD positive, significance consistent with the gap") {
    val rows = SparkEntry.queries("q_tukey_hsd")(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (diff, hsd, qc, sig) = (r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getInt(7))
      assert(hsd > 0)
      // the computed studentized-range critical must sit where the
      // k=5, df=inf tables put it (3.858)
      assert(math.abs(qc - 3.858) < 1e-3, s"q_crit=$qc")
      assert((diff > hsd) == (sig == 1))
    }
  }

  test("q_levene: W nonnegative with sane dfs") {
    val r = SparkEntry.queries("q_levene")(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 5, "five groups")
    assert(r(0).getDouble(2) >= 0.0)
  }

  test("q_roc_auc: AUC and J bounded, threshold consistent") {
    val r = SparkEntry.queries("q_roc_auc")(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    val (auc, thr, tpr, fpr, j) =
      (r(0).getDouble(2), r(0).getDouble(3), r(0).getDouble(4), r(0).getDouble(5), r(0).getDouble(6))
    assert(auc >= 0.0 && auc <= 1.0 + 1e-9)
    assert(thr >= 0.0 && thr <= 1.0)
    assert(math.abs(j - (tpr - fpr)) < 1e-5)
    // a trained classifier on its own training data must beat chance
    assert(auc > 0.5, s"AUC $auc at or below chance")
    assert(j > 0.0)
  }

  private val dir = "/root/testdata/sf0.001"

  test("q_chow_test: split fit never worse than pooled, F well-formed") {
    val rows = SparkEntry.queries("q_chow_test")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sseP, sseS, f) = (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(n >= 8)
      // the split regression nests the pooled one: SSE_1 + SSE_2 <= SSE_p
      assert(sseS <= sseP + 1e-6, s"split SSE $sseS must not exceed pooled $sseP")
      assert(f >= -1e-9)
      assert(r.getBoolean(5) == (f > 4.61))
    }
  }

  test("q_quandt_andrews: sup-F dominates the midpoint Chow F per series") {
    val chow = SparkEntry.queries("q_chow_test")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    val qa = SparkEntry.queries("q_quandt_andrews")(spark, dir).collect()
    assert(qa.nonEmpty)
    qa.foreach { r =>
      val (et, n, rn, supF) = (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4))
      assert(n >= 20)
      // break candidate sits inside the 15%-85% trim
      assert(rn >= n * 15 / 100 && rn <= n * 85 / 100)
      // the midpoint tau = n DIV 2 is one of the candidates, so sup >= Chow F
      chow.get(et).foreach(f => assert(supF >= f - 1e-6,
        s"$et: sup-F $supF must dominate midpoint Chow F $f"))
    }
  }

  test("q_anova: eta² in [0,1], F consistent with the sums of squares") {
    val r = SparkEntry.queries("q_anova")(spark, dir).collect()
    assert(r.length == 1)
    val (k, n, ssb, ssw, f, eta) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getDouble(2), r(0).getDouble(3),
        r(0).getDouble(4), r(0).getDouble(5))
    assert(k > 1 && n > k)
    assert(ssb >= 0 && ssw > 0)
    assert(eta >= 0.0 && eta <= 1.0)
    assert(math.abs(f - (ssb / (k - 1)) / (ssw / (n - k))) < 1e-4)
  }

  test("q_poisson_rate: halves conserve the per-type event count") {
    val total = Tables.events(spark, dir)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("q_poisson_rate")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (et, c1, c2) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(c1 + c2 == total(et), s"$et: halves must partition the events")
      assert(r.getDouble(3) > 0)
      assert(r.getBoolean(5) == (math.abs(r.getDouble(4)) > 3.0))
    }
  }

  test("q_ewma_chart: limits positive, flag counts bounded by the series") {
    val rows = SparkEntry.queries("q_ewma_chart")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, lim, ooc, first) =
        (r.getLong(1), r.getDouble(3), r.getLong(4), r.getLong(5))
      assert(n >= 2)
      assert(lim > 0, "asymptotic control limit must be positive")
      assert(ooc >= 0 && ooc <= n)
      assert(first >= 0 && first <= n)
      assert((ooc == 0) == (first == 0), "first flag iff any flag")
    }
  }

  test("ewma chart kernel: a planted level shift is flagged, flat series is not") {
    // replicate the kernel math directly (same constants as the query)
    def run(xs: Array[Double]): (Long, Long) = {
      val lam = 0.2; val L = 3.0
      val n = xs.length
      val mu = xs.sum / n
      val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (n - 1))
      var z = mu; var w = 1.0; val q = 0.8 * 0.8
      var ooc = 0L; var first = 0L
      var i = 0
      while (i < n) {
        z = lam * xs(i) + 0.8 * z
        w *= q
        val lim = L * sd * math.sqrt(lam / 1.8 * (1.0 - w))
        if (math.abs(z - mu) > lim) { ooc += 1; if (first == 0) first = i + 1 }
        i += 1
      }
      (ooc, first)
    }
    // the shift sits in the LAST quarter: the chart's baseline is the
    // whole-series moments, so an early shift would be absorbed into mu/sd
    val rng = new scala.util.Random(7)
    val flat = Array.fill(200)(10.0 + rng.nextGaussian() * 0.5)
    val shifted = flat.zipWithIndex.map { case (x, i) => if (i >= 150) x + 4.0 else x }
    val (oocFlat, _) = run(flat)
    val (oocShift, firstShift) = run(shifted)
    assert(oocFlat < 5, "flat series should stay in control")
    assert(oocShift > 30, "a sustained late shift must be flagged broadly")
    assert(firstShift > 150 && firstShift < 165, "detection just after the shift point")
  }
}
