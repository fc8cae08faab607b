package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the classifier-monitoring pair (q_calibration /
  * q_wilson_keep) and the Lomb-Scargle periodogram.
  */
class CalibSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_calibration: bins partition the corpus, ECE consistent with per-bin gaps") {
    val rows = SparkEntry.queries("q_calibration")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val total = Tables.documents(spark, dir).count()
    assert(rows.map(_.getLong(1)).sum == total, "bins must partition all docs")
    val ece = rows.map(_.getDouble(6)).distinct
    assert(ece.length == 1, "ECE is a corpus constant, identical on every row")
    // ECE must equal the n-weighted mean gap (to rounding)
    val recomputed = rows.map(r => r.getLong(1) * r.getDouble(5)).sum / total
    assert(math.abs(ece.head - recomputed) < 1e-4, s"ece=${ece.head} vs $recomputed")
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
    }
  }

  test("q_wilson_keep: intervals contain the point estimate and stay in [0,1]") {
    val rows = SparkEntry.queries("q_wilson_keep")(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (n, k, rate, lo, hi) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(k <= n)
      assert(lo >= 0.0 && hi <= 1.0 && lo <= hi)
      assert(rate >= lo - 1e-9 && rate <= hi + 1e-9,
        s"point estimate $rate outside Wilson interval [$lo, $hi]")
    }
  }

  test("q_cartography: buckets partition every source's docs, conf bounded") {
    val rows = SparkEntry.queries("q_cartography")(spark, dir).collect()
    val total = Tables.documents(spark, dir).count()
    assert(rows.map(_.getLong(2)).sum == total, "buckets must partition all docs")
    rows.foreach { r =>
      assert(Set("easy", "hard", "ambiguous")(r.getString(1)))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 0.5 + 1e-9,
        "std of 3 values in [0,1] is at most 0.5")
    }
  }

  test("q_heaps: vocabulary growth monotone, token counts monotone") {
    val rows = SparkEntry.queries("q_heaps")(spark, dir).collect()
      .sortBy(_.getInt(0))
    assert(rows.length == 10)
    rows.sliding(2).foreach { p =>
      assert(p(0).getLong(2) <= p(1).getLong(2), "token prefix must grow")
      assert(p(0).getLong(3) <= p(1).getLong(3), "vocabulary never shrinks")
    }
    val beta = rows.map(_.getDouble(4)).distinct
    assert(beta.length == 1, "the fitted beta is a corpus constant")
    assert(beta.head >= 0.0 && beta.head <= 1.0 + 1e-9,
      s"Heaps beta ${beta.head} outside [0,1]")
  }

  test("q_effective_rank: bounded by the dimension count, shares coherent") {
    val r = SparkEntry.queries("q_effective_rank")(spark, dir).collect()
    assert(r.length == 1)
    val (dims, er, share) = (r(0).getInt(1), r(0).getDouble(3), r(0).getDouble(4))
    assert(er >= 1.0 - 1e-6 && er <= dims + 1e-6,
      s"effective rank $er outside [1, $dims]")
    assert(share > 0.0 && share <= 1.0 + 1e-9)
    // participation ratio >= 1/top_dim_share is not an identity, but a
    // dominant single direction must pull er down toward 1
    if (share > 0.9) assert(er < 2.0)
  }

  test("q_stream_calibration: windows partition docs, ECE consistent per window") {
    val rows = SparkEntry.queries("q_stream_calibration")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = Tables.documents(spark, dir).count()
    assert(rows.map(_.getLong(2)).sum == total, "all docs must land in closed windows")
    rows.groupBy(_.getLong(0)).foreach { case (w, rs) =>
      assert(rs.map(_.getDouble(7)).distinct.length == 1,
        s"window $w: ECE must be constant across its bins")
      val n = rs.map(_.getLong(2)).sum.toDouble
      val recomputed = rs.map(r => r.getLong(2) * r.getDouble(6)).sum / n
      assert(math.abs(rs.head.getDouble(7) - recomputed) < 1e-4,
        s"window $w: ece=${rs.head.getDouble(7)} vs recomputed $recomputed")
    }
  }

  test("q_cluster_purity: sizes conserve, purity/nmi bounded") {
    val rows = SparkEntry.queries("q_cluster_purity")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val total = Tables.embeddings(spark, dir).count()
    assert(rows.map(_.getLong(1)).sum == total, "cells partition the corpus")
    val (pur, nmi) = (rows.head.getDouble(4), rows.head.getDouble(5))
    assert(rows.forall(r => r.getDouble(4) == pur && r.getDouble(5) == nmi))
    assert(pur > 0.0 && pur <= 1.0 + 1e-9)
    assert(nmi >= -1e-9 && nmi <= 1.0 + 1e-9)
    rows.foreach(r => assert(r.getDouble(3) >= 1.0 / 8 - 1e-9, "cell purity >= 1/k... at least 1/#labels"))
  }

  test("q_icc_source: bounded and internally consistent") {
    val r = SparkEntry.queries("q_icc_source")(spark, dir).collect()
    assert(r.length == 1)
    val icc = r(0).getDouble(5)
    assert(icc >= -1.0 && icc <= 1.0 + 1e-9)
    assert(r(0).getDouble(2) >= 0 && r(0).getDouble(3) >= 0)
  }

  test("q_eb_shrinkage: shrunk rates sit between raw and corpus rate") {
    val rows = SparkEntry.queries("q_eb_shrinkage")(spark, dir).collect()
    assert(rows.length == 20)
    val pbar = rows.map(_.getLong(2)).sum.toDouble / rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val (raw, shr, w) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(w > 0.0 && w < 1.0)
      val lo = math.min(raw, pbar) - 1e-6
      val hi = math.max(raw, pbar) + 1e-6
      assert(shr >= lo && shr <= hi, s"shrunk $shr outside [$lo, $hi]")
    }
  }

  test("q_poisson_glm: intercept near ln(mean rate), dispersion near 1 on Poisson-ish counts") {
    val rows = SparkEntry.queries("q_poisson_glm")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (b0, phi) = (r.getDouble(2), r.getDouble(6))
      assert(b0 > -5 && b0 < 15, s"intercept $b0 diverged")
      assert(phi > 0, "dispersion positive")
      assert(phi < 100, s"dispersion $phi signals IRLS divergence")
    }
  }

  test("q_lomb_scargle: one peak per series, powers nonnegative") {
    val rows = SparkEntry.queries("q_lomb_scargle")(spark, dir).collect()
    assert(rows.length == 25, "5 series x 5 candidate periods")
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (et, rs) =>
      assert(rs.map(_.getInt(4)).sum == 1, s"$et must have exactly one peak")
      rs.foreach(r => assert(r.getDouble(3) >= -1e-9, s"$et negative power"))
    }
  }
}
