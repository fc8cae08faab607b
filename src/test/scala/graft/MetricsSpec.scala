package graft

import graft.metrics.Metrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Percentage-metric fidelity to kats `_safe_divide` (metrics.py:137):
  * singular rows are CLAMPED AND KEPT — x/0 → sign(x), 0/0 → 0 — and a
  * negative actual makes the (absolute) percentage term negative because
  * the reference divides |err| by y, not |y|. Values below are
  * hand-computed from the numpy definitions on a 4-row fixture covering
  * every branch: y=0 with err≠0, the 0/0 row, a plain row, and y<0.
  */
class MetricsSpec extends AnyFunSuite with SparkSuite {

  // (y, f): (0,2) clamps to sign; (0,0) is the 0/0 row; (4,2) plain;
  // (-2,2) negative actual
  private def fixture = {
    import spark.implicits._
    Seq((0.0, 2.0), (0.0, 0.0), (4.0, 2.0), (-2.0, 2.0)).toDF("y", "f")
  }

  private def one(c: org.apache.spark.sql.Column): Double =
    fixture.agg(c.as("v")).collect()(0).getDouble(0)

  test("mape keeps clamped rows: mean(+1, 0, 0.5, -2) = -0.125") {
    assert(math.abs(one(Metrics.mape(col("y"), col("f"))) - (-0.125)) < 1e-12)
  }

  test("mpe clamps to sign(err): mean(-1, 0, 0.5, 2) = 0.375") {
    assert(math.abs(one(Metrics.mpe(col("y"), col("f"))) - 0.375) < 1e-12)
  }

  test("rmspe squares the clamp: sqrt(mean(1, 0, 0.25, 4))") {
    assert(math.abs(one(Metrics.rmspe(col("y"), col("f"))) - math.sqrt(5.25 / 4)) < 1e-12)
  }

  test("smape counts the 0/0 row as 0: 2 * mean(1, 0, 1/3, 1) = 7/6") {
    assert(math.abs(one(Metrics.smape(col("y"), col("f"))) - 7.0 / 6) < 1e-12)
  }

  test("sbias includes the 0/0 row: -2 * mean(-1, 0, 1/3, -1) = 5/6") {
    assert(math.abs(one(Metrics.sbias(col("y"), col("f"))) - 5.0 / 6) < 1e-12)
  }

  test("mdape median over clamped terms: median(-2, 0, 0.5, 1) = 0.25") {
    assert(math.abs(one(Metrics.mdape(col("y"), col("f"))) - 0.25) < 1e-12)
  }
}
