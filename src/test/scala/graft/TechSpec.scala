package graft

import graft.expressions.{ewm_array, EwmArray}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.expressions.EwmArray]] against direct simulations of the pandas
  * `ewm(...).mean()` contract the reference indicators are defined by
  * (kats/models/nowcasting/feature_extraction.py), plus the MACD chain
  * end-to-end through the DataFrame API.
  */
class TechSpec extends AnyFunSuite with SparkSuite {

  /** pandas ewm(alpha, min_periods, adjust).mean() over a NaN-marked array,
    * NaN-skip semantics (the reference `_ewma` compaction): explicit
    * power-weight / recursive forms, independent of the production kernel.
    */
  private def refEwm(xs: Array[Double], alpha: Double, minPeriods: Int, adjust: Boolean): Array[Double] = {
    val out = Array.fill(xs.length)(Double.NaN)
    val valid = xs.zipWithIndex.filter(p => !p._1.isNaN)
    val b = 1.0 - alpha
    var y = 0.0
    valid.zipWithIndex.foreach { case ((x, pos), k) =>
      if (adjust) {
        val num = (0 to k).map(j => math.pow(b, k - j) * valid(j)._1).sum
        val den = (0 to k).map(j => math.pow(b, k - j)).sum
        if (k + 1 >= minPeriods) out(pos) = num / den
      } else {
        y = if (k == 0) x else b * y + alpha * x
        if (k + 1 >= minPeriods) out(pos) = y
      }
    }
    out
  }

  private def runExpr(xs: Array[Double], alpha: Double, mp: Int, adjust: Boolean): Array[Double] = {
    val expr = EwmArray(Literal.create(xs, ArrayType(DoubleType)), alpha, mp, adjust)
    expr.eval(null).asInstanceOf[ArrayData].toDoubleArray()
  }

  private def assertSame(got: Array[Double], want: Array[Double]): Unit = {
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      if (w.isNaN) assert(g.isNaN, s"expected NaN, got $g")
      else assert(math.abs(g - w) < 1e-10, s"$g vs $w")
    }
  }

  private val series = Array.tabulate(40)(i => math.sin(i * 0.9) * 4 + 0.2 * i + (i % 7))

  test("adjusted EWM matches the power-weight reference, min_periods masks the head") {
    for (mp <- Seq(1, 5, 20)) assertSame(runExpr(series, 2.0 / 13, mp, adjust = true), refEwm(series, 2.0 / 13, mp, adjust = true))
  }

  test("unadjusted EWM matches the recursive reference (RSI form)") {
    for (mp <- Seq(1, 14)) assertSame(runExpr(series, 1.0 / 14, mp, adjust = false), refEwm(series, 1.0 / 14, mp, adjust = false))
  }

  test("NaN inputs are skipped (reference _ewma compaction), outputs stay NaN in place") {
    val withNan = Double.NaN +: Double.NaN +: series.take(20)
    for (adjust <- Seq(true, false)) {
      val got = runExpr(withNan, 0.25, 3, adjust)
      assert(got(0).isNaN && got(1).isNaN)
      // valid tail equals the compacted series' EWM, shifted into place
      val compact = refEwm(series.take(20), 0.25, 3, adjust)
      assertSame(got.drop(2), compact)
    }
  }

  test("doGenCode compiles and matches interpreted eval on both forms") {
    val withNan = Double.NaN +: series
    for (adjust <- Seq(true, false)) {
      val expr = EwmArray(Literal.create(withNan, ArrayType(DoubleType)), 0.15, 4, adjust)
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      val got = proj(InternalRow.empty).getArray(0).toDoubleArray()
      assertSame(got, expr.eval(null).asInstanceOf[ArrayData].toDoubleArray())
    }
  }

  test("MACD chain: mask boundaries and values match a direct simulation") {
    import spark.implicits._
    val df = Seq(("a", series.toSeq)).toDF("k", "xs")
      .withColumn("fast", ewm_array(col("xs"), 2.0 / 13, 20, adjust = true))
      .withColumn("slow", ewm_array(col("xs"), 2.0 / 22, 20, adjust = true))
      .withColumn("macd", zip_with(col("fast"), col("slow"), _ - _))
      .withColumn("sign", ewm_array(col("macd"), 2.0 / 10, 8, adjust = true))
    val r = df.select("fast", "slow", "macd", "sign").as[(Seq[Double], Seq[Double], Seq[Double], Seq[Double])].head()
    val fast = refEwm(series, 2.0 / 13, 20, adjust = true)
    val slow = refEwm(series, 2.0 / 22, 20, adjust = true)
    val macd = fast.zip(slow).map { case (f, s) => f - s }
    val sign = refEwm(macd, 2.0 / 10, 8, adjust = true)
    assertSame(r._1.toArray, fast); assertSame(r._2.toArray, slow)
    assertSame(r._3.toArray, macd); assertSame(r._4.toArray, sign)
    // mask boundaries: fast/slow/macd valid from index 19, sign from 19+8-1=26
    assert(r._3(18).isNaN && !r._3(19).isNaN)
    assert(r._4(25).isNaN && !r._4(26).isNaN)
  }

  test("series shorter than min_periods is fully masked") {
    val short = series.take(5)
    assert(runExpr(short, 0.3, 20, adjust = true).forall(_.isNaN))
  }
}
