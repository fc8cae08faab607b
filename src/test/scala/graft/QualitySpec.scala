package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the corpus-quality pack (QualityQueries) and the
  * multivariate anomaly pair (q_pca_anomaly / q_mahalanobis).
  */
class QualitySpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_code_detect: ratios in [0,1], flag consistent with the score") {
    val rows = SparkEntry.queries("q_code_detect")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (kw, sym, camel, score) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      Seq(kw, sym, camel).foreach(x => assert(x >= 0.0 && x <= 1.0))
      assert(math.abs(score - (kw * 0.7 + sym * 0.25 + camel * 0.05)) < 1e-5)
      assert(r.getBoolean(6) == (score > 0.35))
    }
    // the synthetic vocab discriminates: scores must not be constant
    assert(rows.map(_.getDouble(5)).distinct.length > 10)
  }

  test("q_boilerplate: coverage bounded, hit counts conserve") {
    val rows = SparkEntry.queries("q_boilerplate")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nPhr, nHit, mean, max) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(nHit <= nDocs)
      assert(mean >= 0.0 && mean <= max + 1e-9 && max <= 1.0)
      if (nPhr == 0) assert(nHit == 0 && mean == 0.0)
    }
  }

  test("q_ttr: diversity ordered min <= mean <= max, Guiraud positive") {
    val rows = SparkEntry.queries("q_ttr")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mean, gui, minT, maxT) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(minT > 0 && minT <= mean + 1e-9 && mean <= maxT + 1e-9 && maxT <= 1.0)
      assert(gui > 0)
    }
  }

  test("q_pca_anomaly: top-20 residuals non-negative and descending") {
    val rows = SparkEntry.queries("q_pca_anomaly")(spark, dir).collect()
    assert(rows.length == 20)
    val resids = rows.map(_.getDouble(2))
    // snapped loadings make the subspace only approximately orthonormal:
    // allow a hair of negativity, never more
    resids.foreach(x => assert(x >= -1e-3))
    assert(resids.sliding(2).forall(p => p(0) >= p(1) - 1e-9), "must be sorted desc")
  }

  test("q_mahalanobis: flags rare, every flagged hour exceeds the cut") {
    val flagged = SparkEntry.queries("q_mahalanobis")(spark, dir).collect()
    val total = Tables.hourlyEvents(spark, dir).count()
    flagged.foreach(r => assert(r.getDouble(4) > 13.815511))
    // chi2(2) 99.9% cut: the hourly pairs are not exactly bivariate
    // normal, so allow a fat tail — but flags must stay rare (<5%)
    assert(flagged.length < total * 0.05,
      s"${flagged.length} of $total hours flagged — cut not selective")
  }
}
