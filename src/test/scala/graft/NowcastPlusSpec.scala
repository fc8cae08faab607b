package graft

import org.scalatest.funsuite.AnyFunSuite

/** models/NowcastPlus: the nowcastingplus composition must (a) recover a
  * purely seasonal series exactly through the poly baseline + the
  * first-occurrence pattern step, (b) absorb a linear drift through the
  * deseasonalized diff(−1) model, (c) guard short series, and (d) be
  * deterministic on the real tables.
  */
class NowcastPlusSpec extends AnyFunSuite with SparkSuite {

  private val T0 = 1704067200L // 2024-01-01 00:00 UTC
  private def u(es: Long): Double = ((es % 86400L) / 60L - 719.5) / 719.5
  private def snap6(x: Double): Double = math.round(x * 1e6) / 1e6

  /** hourly grid of n points with 6-dp-snapped values of f(es). */
  private def mk(n: Int)(f: Long => Double): (Array[Long], Array[Double]) = {
    val es = Array.tabulate(n)(i => T0 + 3600L * i)
    (es, es.map(e => snap6(f(e))))
  }

  test("pure degree-2 season is forecast exactly (poly baseline + pattern step)") {
    def season(e: Long): Double = { val uu = u(e); 2.0 + uu + uu * uu }
    val (es, xs) = mk(24 * 30)(season)
    val (nTrain, yhat, seasonNext) = graft.models.NowcastPlus.run(es, xs).get
    assert(nTrain == es.length - 31)
    // next step after the first row sharing the last row's hour-of-day
    val lastMod = (es.last % 86400L) / 60L
    val fo = es.indexWhere(e => (e % 86400L) / 60L == lastMod)
    val truth = season(es(fo + 1))
    assert(math.abs(seasonNext - truth) < 1e-4, s"seasonNext $seasonNext vs $truth")
    assert(math.abs(yhat - truth) < 1e-3, s"yhat $yhat vs $truth")
  }

  test("linear drift + season: the diff(-1) model carries the drift forward") {
    val c = 0.01
    def f(e: Long): Double = {
      val i = (e - T0) / 3600L
      val uu = u(e)
      c * i + 2.0 + uu + uu * uu
    }
    val n = 24 * 30
    val (es, xs) = mk(n)(f)
    val (_, yhat, _) = graft.models.NowcastPlus.run(es, xs).get
    val lastMod = (es.last % 86400L) / 60L
    val fo = es.indexWhere(e => (e % 86400L) / 60L == lastMod)
    val uu = u(es(fo + 1))
    val truth = c * n + 2.0 + uu + uu * uu // the true next point
    // the poly baseline regresses y on minute-of-day only, and t is
    // correlated with u WITHIN each day, so part of the within-day trend
    // ramp (≤ c·12 here) is attributed to season — reference semantics,
    // not an error; the forecast still lands far closer than the naive
    // last-value carry (off by ~c·1 + season swing ≈ 1.75).
    assert(math.abs(yhat - truth) < 0.25, s"yhat $yhat vs $truth")
    assert(math.abs(yhat - truth) < math.abs(xs.last - truth) / 5,
      s"yhat $yhat should beat the naive carry ${xs.last} vs truth $truth")
  }

  test("short series and feature-incomplete tails are guarded") {
    val (es, xs) = mk(50)(_ => 1.0)
    assert(graft.models.NowcastPlus.run(es, xs).isEmpty)
  }

  test("real tables: every series forecast, deterministically") {
    val S = TSSchema(keys = Seq("event_type"))
    val rows = SeriesOps.collect(
      Tables.hourlyEvents(spark, "/root/testdata/sf0.001").drop("n"), S)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val es = r.getSeq[java.sql.Timestamp](r.fieldIndex("tss"))
        .map(_.getTime / 1000L).toArray
      val xs = r.getSeq[Double](r.fieldIndex("xs")).toArray
      val a = graft.models.NowcastPlus.run(es, xs)
      val b = graft.models.NowcastPlus.run(es, xs)
      assert(a.isDefined, s"${r.getString(0)}: no forecast")
      assert(a == b, "nondeterministic")
      val (nTr, yhat, sn) = a.get
      assert(nTr >= graft.models.NowcastPlus.MinTrain)
      assert(!yhat.isNaN && !yhat.isInfinite && !sn.isNaN)
    }
  }
}
