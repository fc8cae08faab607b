package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent validation of q_granger: the F-statistic re-derived from a
  * local lag-matrix OLS (dense Gaussian elimination, same 1e-8 ridge), plus
  * the nesting invariant RSS_r ≥ RSS_u that any correct restricted/
  * unrestricted fit pair must satisfy.
  */
class GrangerSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Solve A x = b by Gaussian elimination with partial pivoting. */
  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(a(r)(c)))
      val (ta, tb) = (a(c), b(c)); a(c) = a(piv); a(piv) = ta; b(c) = b(piv); b(piv) = tb
      for (r <- 0 until n if r != c) {
        val f = a(r)(c) / a(c)(c)
        for (k <- 0 until n) a(r)(k) -= f * a(c)(k)
        b(r) -= f * b(c)
      }
    }
    Array.tabulate(n)(i => b(i) / a(i)(i))
  }

  private def ols(rows: Seq[(Array[Double], Double)]): Double = {
    val p = rows.head._1.length
    val xtx = Array.fill(p, p)(0.0); val xty = Array.fill(p)(0.0)
    rows.foreach { case (z, y) =>
      for (i <- 0 until p) { xty(i) += z(i) * y; for (j <- 0 until p) xtx(i)(j) += z(i) * z(j) }
    }
    for (i <- 0 until p) xtx(i)(i) += 1e-8
    val beta = solve(xtx, xty)
    rows.map { case (z, y) =>
      val e = y - (0 until p).map(i => beta(i) * z(i)).sum; e * e
    }.sum
  }

  test("q_granger: F-statistics match a local lag-matrix OLS, nesting holds") {
    val out = SparkEntry.queries("q_granger")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getInt(6))).toMap
    assert(out.size == 20, s"expected 20 ordered pairs, got ${out.size}")
    out.foreach { case ((c, e), (n, rssR, rssU, f, causal)) =>
      assert(n > 10)
      assert(rssU <= rssR + 1e-4, s"$c->$e: unrestricted RSS $rssU above restricted $rssR")
      assert(causal == (if (f > 3.0) 1 else 0), s"$c->$e: causal flag inconsistent with f=$f")
    }
    // local re-derivation on three pairs
    // per-series (ts → (value, lag1, lag2)) with lags over each series'
    // own dense grid, then an inner ts-join — exactly the query's shape
    val series = TS.fillGaps(
      Tables.hourlyEvents(spark, dir).drop("n"), TSSchema(keys = Seq("event_type")), 3600L, Some(0.0))
      .orderBy("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).view.mapValues { rs =>
        val sorted = rs.sortBy(_._2)
        sorted.indices.drop(2).map { i =>
          sorted(i)._2 -> (sorted(i)._3, sorted(i - 1)._3, sorted(i - 2)._3)
        }.toMap
      }.toMap
    val keys = series.keys.toSeq.sorted
    for ((cause, effect) <- Seq((keys(0), keys(1)), (keys(1), keys(0)), (keys(2), keys(3)))) {
      val ym = series(effect); val xm = series(cause)
      val rows = ym.keys.toSeq.filter(xm.contains).sorted.map { ts =>
        val (y, y1, y2) = ym(ts); val (_, x1, x2) = xm(ts)
        (Array(1.0, y1, y2, x1, x2), y)
      }
      val rssU = ols(rows)
      val rssR = ols(rows.map { case (z, yy) => (z.take(3), yy) })
      val fLocal = ((rssR - rssU) / 2.0) / (rssU / (rows.length - 5))
      val (nQ, _, _, fQ, _) = out((cause, effect))
      assert(nQ == rows.length, s"$cause->$effect: n $nQ != local ${rows.length}")
      assert(math.abs(fQ - fLocal) < 1e-2 * math.max(1.0, math.abs(fLocal)),
        s"$cause->$effect: query F $fQ != local $fLocal")
    }
  }
}
