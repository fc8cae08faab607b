package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the nonparametric two-sample battery + Huber fit
  * (NonparamQueries): statistic bounds, cross-test agreement, and the
  * M-estimator's robustness on a planted outlier series.
  */
class NonparamSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_mann_whitney: delta bounded, z sign follows delta, U in range") {
    val rows = SparkEntry.queries("q_mann_whitney")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n1, n2, u, delta, z) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(u >= 0.0 && u <= n1.toDouble * n2)
      assert(delta >= -1.0 - 1e-9 && delta <= 1.0 + 1e-9)
      if (delta > 1e-9) assert(z > 0) else if (delta < -1e-9) assert(z < 0)
    }
  }

  test("q_cvm_test: T above the no-difference lower bound, agrees with MW on strong shifts") {
    val cvm = SparkEntry.queries("q_cvm_test")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(4), r.getInt(5))).toList
    val mw = SparkEntry.queries("q_mann_whitney")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(5))).toMap
    assert(cvm.length == 5)
    cvm.foreach { case (et, t, differs) =>
      // T's theoretical minimum is -1/(6N) > -0.001 on these grids
      assert(t > -0.001, s"$et: T=$t below the theoretical floor")
      // a very strong MW location shift must register on CvM too
      if (math.abs(mw(et)) > 6.0) assert(differs == 1,
        s"$et: |MW z|=${mw(et)} but CvM missed it")
    }
  }

  test("q_energy_dist: nonnegative, zero iff identical halves") {
    val rows = SparkEntry.queries("q_energy_dist")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getDouble(3) >= -1e-9, "energy distance is nonnegative")
      assert(r.getDouble(4) >= -1e-9)
    }
  }

  test("q_block_bootstrap: intervals contain the mean, bootstrap respects autocorrelation") {
    val rows = SparkEntry.queries("q_block_bootstrap")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (mean, blo, bhi, nlo, nhi, wr) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(blo <= bhi && nlo <= nhi)
      assert(mean >= nlo && mean <= nhi, "naive CI must contain the point mean")
      assert(wr > 0.0, "width ratio must be positive")
    }
  }

  test("q_synth_control: weights reproduce the pre-period fit quality") {
    val r = SparkEntry.queries("q_synth_control")(spark, dir).collect()
    assert(r.length == 1)
    val (nPre, nPost, rmse) = (r(0).getLong(0), r(0).getLong(1), r(0).getDouble(7))
    assert(nPre > 5 && nPost > 5, "both periods must be populated")
    assert(rmse >= 0.0)
    assert(!r(0).isNullAt(10), "z must be defined")
  }

  test("q_k_anonymity: class sizes conserve and k is the minimum") {
    val rows = SparkEntry.queries("q_k_anonymity")(spark, dir).collect()
    val total = Tables.documents(spark, dir).count()
    assert(rows.map(_.getLong(2)).sum == total)
    val k = rows.map(_.getLong(4)).distinct
    assert(k.length == 1 && k.head == rows.map(_.getLong(2)).min)
  }

  test("q_huber: recovers a planted trend through 20% gross outliers where OLS cannot") {
    import spark.implicits._
    // y = 10 + 0.5 t, every 5th point blasted by +500
    val n = 200
    val rows = (1 to n).map { t =>
      val y = 10.0 + 0.5 * t + (if (t % 5 == 0) 500.0 else 0.0)
      ("s1", java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(t)), y)
    }
    val df = rows.toDF("event_type", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("huber_spec").toString
    // write a fake events table so the query runs against its own dir
    df.select(col("event_type"), col("ts"), col("value"))
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("q_huber")(spark, tmp).collect()
    assert(out.length == 1)
    val (bOls, bHuber, nDown) = (out(0).getDouble(2), out(0).getDouble(4), out(0).getLong(6))
    // OLS is dragged by the spikes; Huber must sit within 0.05 of truth
    assert(math.abs(bHuber - 0.5) < 0.05, s"huber slope $bHuber far from 0.5")
    assert(math.abs(bHuber - 0.5) < math.abs(bOls - 0.5),
      s"huber ($bHuber) no better than OLS ($bOls)")
    assert(nDown >= n / 10, "the planted spikes must be downweighted")
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
  private def lit(v: Any) = org.apache.spark.sql.functions.lit(v)
  private def monotonically_increasing_id() =
    org.apache.spark.sql.functions.monotonically_increasing_id()
}
