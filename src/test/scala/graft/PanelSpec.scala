package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the panel-econometrics pack (PanelQueries). */
class PanelSpec extends AnyFunSuite with SparkSuite {

  // sf0.01: the balanced panel (hours where all 5 series report) is empty
  // at sf0.001 — these operators need the denser grid
  private val dir = "/root/testdata/sf0.01"

  test("q_partial_corr: C(5,2) pairs, corr and pcorr in [-1,1], canonical order") {
    val rows = SparkEntry.queries("q_partial_corr")(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) > 10)
      val (corr, pc) = (r.getDouble(4), r.getDouble(5))
      assert(corr >= -1.0 - 1e-9 && corr <= 1.0 + 1e-9, s"corr $corr out of range")
      assert(pc >= -1.0 - 1e-9 && pc <= 1.0 + 1e-9, s"pcorr $pc out of range")
    }
  }

  test("q_transfer_entropy: 20 directed pairs, TE non-negative, asymmetric in general") {
    val rows = SparkEntry.queries("q_transfer_entropy")(spark, dir).collect()
    assert(rows.length == 20, "5*4 directed pairs")
    rows.foreach { r =>
      assert(r.getString(0) != r.getString(1))
      assert(r.getDouble(3) >= -1e-9, s"TE ${r.getDouble(3)} must be non-negative")
    }
    // direction matters: at least one pair has te(x->y) != te(y->x)
    val m = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(m.exists { case ((a, b), v) => math.abs(v - m((b, a))) > 1e-9 },
      "all TE values perfectly symmetric — implausible")
  }

  test("q_variance_ratio: vr positive, reject flag consistent with z") {
    val rows = SparkEntry.queries("q_variance_ratio")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (vr, z, flag) = (r.getDouble(2), r.getDouble(3), r.getInt(4))
      assert(vr > 0.0)
      assert(flag == (if (math.abs(z) >= 1.96) 1 else 0))
    }
  }

  test("q_partial_corr: degenerate panel (sf0.001 has no fully-covered hour) yields empty, not a crash") {
    val rows = SparkEntry.queries("q_partial_corr")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.isEmpty)
  }

  test("Gauss-Jordan inverse inside q_partial_corr: planted 2x2 system sanity") {
    // replicate the exact divide-then-multiply elimination on [S | I] for a
    // known 2x2 SPD matrix and check S^-1 analytically
    val S = Array(Array(2.0, 1.0), Array(1.0, 2.0))
    val k = 2; val cols = 4
    var m = Array.tabulate(k, cols)((i, j) =>
      if (j < k) S(i)(j) else if (j - k == i) 1.0 else 0.0)
    var step = 1
    while (step <= k) {
      val s0 = step - 1
      val piv = m(s0)(s0)
      m = Array.tabulate(k, cols)((r, c) =>
        if (r == s0) m(r)(c) / piv else m(r)(c) - m(r)(s0) * (m(s0)(c) / piv))
      step += 1
    }
    // inv([[2,1],[1,2]]) = 1/3 * [[2,-1],[-1,2]]
    assert(math.abs(m(0)(2) - 2.0 / 3) < 1e-12 && math.abs(m(0)(3) + 1.0 / 3) < 1e-12)
    assert(math.abs(m(1)(2) + 1.0 / 3) < 1e-12 && math.abs(m(1)(3) - 2.0 / 3) < 1e-12)
  }
}
