package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the experimentation-hygiene pack (AbQueries): CUPED
  * variance accounting, SRM count conservation, winsorization bounds.
  */
class AbSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_cuped: theta finite, variance reduction in (-0.05, 1)") {
    val r = SparkEntry.queries("q_cuped")(spark, dir).collect().head
    val (nA, nB, theta, vr) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(5))
    assert(nA > 0 && nB > 0)
    assert(!theta.isNaN && !theta.isInfinite)
    assert(vr > -0.05 && vr < 1.0, s"variance reduction $vr out of the plausible band")
    assert(!r.getDouble(3).isNaN && !r.getDouble(4).isNaN)
  }

  test("q_srm: arm counts conserve the user total; p in [0,1]") {
    val r = SparkEntry.queries("q_srm")(spark, dir).collect().head
    val (nA, nB, p) = (r.getLong(0), r.getLong(1), r.getDouble(3))
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(nA + nB == users, s"arm counts ${nA + nB} != user total $users")
    assert(p >= 0.0 && p <= 1.0)
    // a fair deterministic hash split should not trip the 0.001 guardrail
    assert(r.getInt(4) == 0, "deterministic 50/50 hash split flagged as SRM")
  }

  test("q_did: DiD equals the four-cell double difference; z finite") {
    val r = SparkEntry.queries("q_did")(spark, dir).collect().head
    val (preT, postT, preC, postC, did) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(math.abs(did - ((postT - preT) - (postC - preC))) < 1e-4,
      "DiD must equal (post_t - pre_t) - (post_c - pre_c)")
    assert(!r.getDouble(7).isNaN)
    // a null effect (hash split, same process both arms) should rarely be significant
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("q_ab_winsorized: capped means never exceed raw means; cap positive") {
    val rows = SparkEntry.queries("q_ab_winsorized")(spark, dir).collect()
    val r = rows.head
    val cap = r.getLong(2)
    assert(cap > 0)
    // recompute raw means to compare against the winsorized ones
    val u = Tables.events(spark, dir).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("event_type") === "purchase",
          org.apache.spark.sql.functions.col("value")).otherwise(0.0)).as("m"))
    val rawMax = u.agg(org.apache.spark.sql.functions.max("m")).collect().head.getDouble(0)
    assert(cap <= math.ceil(rawMax).toLong, "p99 cap cannot exceed the metric maximum")
    assert(r.getDouble(3) > 0 && r.getDouble(4) > 0)
    assert(!r.getDouble(5).isNaN && !r.getDouble(6).isNaN)
  }

  test("q_ab_ratio_delta: ratios positive, z finite on a null split") {
    val r = SparkEntry.queries("q_ab_ratio_delta")(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getDouble(2) >= 0 && r(0).getDouble(3) >= 0)
    assert(!r(0).getDouble(5).isNaN)
  }

  test("q_aa_calibration: 20 null splits, false-positive share plausible") {
    val rows = SparkEntry.queries("q_aa_calibration")(spark, dir).collect()
    assert(rows.length == 20)
    val share = rows.map(_.getDouble(5)).distinct
    assert(share.length == 1, "fp_share is a constant across salts")
    // 20 null tests at 5%: P(>8 FPs) is astronomically small
    assert(share.head <= 0.4, s"fp share ${share.head} — assignment machinery broken")
    rows.foreach(r => assert(r.getInt(4) == (if (math.abs(r.getDouble(3)) >= 1.96) 1 else 0)))
  }

  test("q_qte: deciles monotone within each arm") {
    val rows = SparkEntry.queries("q_qte")(spark, dir).collect().sortBy(_.getInt(0))
    assert(rows.length == 9)
    rows.sliding(2).foreach { p =>
      assert(p(0).getDouble(1) <= p(1).getDouble(1) + 1e-9, "control deciles monotone")
      assert(p(0).getDouble(2) <= p(1).getDouble(2) + 1e-9, "treat deciles monotone")
    }
  }
}
