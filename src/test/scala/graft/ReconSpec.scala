package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.queries.ReconQueries
import org.scalatest.funsuite.AnyFunSuite

/** q_reconcile / q_ensemble_ci validation: the build-time reconciliation
  * projection P = S(TᵀS)⁻¹Tᵀ (kats/models/reconciliation/thm.py:411
  * re-derived) against its defining algebraic properties, plus end-to-end
  * coherence of the reconciled forecasts on real data.
  */
class ReconSpec extends AnyFunSuite with SparkSuite {

  // Stacked S for levels {4,2,1}, m=4, level-descending (matches ReconSql)
  private val S = DenseMatrix(
    (1.0, 1.0, 1.0, 1.0),
    (1.0, 1.0, 0.0, 0.0),
    (0.0, 0.0, 1.0, 1.0),
    (1.0, 0.0, 0.0, 0.0),
    (0.0, 1.0, 0.0, 0.0),
    (0.0, 0.0, 1.0, 0.0),
    (0.0, 0.0, 0.0, 1.0))
  private val P = DenseMatrix(ReconQueries.ReconSql.P: _*)

  test("P is idempotent and fixes coherent vectors (P·P = P, P·S = S)") {
    val pp = P * P
    val ps = P * S
    assert(breeze.linalg.max(breeze.numerics.abs(pp - P)) < 1e-12)
    assert(breeze.linalg.max(breeze.numerics.abs(ps - S)) < 1e-12)
  }

  test("P maps any incoherent stacked vector to a coherent one") {
    val v = DenseVector(7.3, 2.1, -4.0, 0.5, 9.9, 3.2, -1.1)
    val r = P * v
    // level-4 row = sum of the four level-1 rows; level-2 rows = pair sums
    assert(math.abs(r(0) - (r(3) + r(4) + r(5) + r(6))) < 1e-12)
    assert(math.abs(r(1) - (r(3) + r(4))) < 1e-12)
    assert(math.abs(r(2) - (r(5) + r(6))) < 1e-12)
  }

  test("q_reconcile output is sum-coherent across grains") {
    val df = ReconQueries.defs("q_reconcile")(spark, "/root/testdata/sf0.001")
      .collect().map(r => ((r.getString(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    val keys = df.keys.map(_._1).toSet
    assert(keys.nonEmpty)
    for (k <- keys; s <- 1 to 4)
      assert(math.abs(df((k, 2, s)) - (df((k, 1, 2 * s - 1)) + df((k, 1, 2 * s)))) < 2e-6,
        s"level-2 step $s of $k not the sum of its level-1 children")
    for (k <- keys; s <- 1 to 2)
      assert(math.abs(df((k, 4, s)) - (4 * s - 3 to 4 * s).map(i => df((k, 1, i))).sum) < 4e-6,
        s"level-4 step $s of $k not the sum of its level-1 children")
  }

  test("q_ensemble_ci bands bracket the point forecast") {
    val rows = ReconQueries.defs("q_ensemble_ci")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (f, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= f + 1e-9 && f <= hi + 1e-9)
    }
  }
}
