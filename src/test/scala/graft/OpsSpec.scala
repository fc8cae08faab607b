package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the retail/ops pack (OpsQueries) + the Haar kernel. */
class OpsSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_churn_hazard: at-risk shrinks with tenure, hazard in [0,1], counts conserve") {
    val rows = SparkEntry.queries("q_churn_hazard")(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    var lastRisk = Long.MaxValue
    rows.foreach { r =>
      val (risk, churned, cens, h) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(risk <= lastRisk)
      assert(churned + cens <= risk)
      assert(h >= 0.0 && h <= 1.0)
      lastRisk = risk
    }
    // everyone ends somewhere: Σ(churned + censored) = initial at-risk
    assert(rows.map(r => r.getLong(2) + r.getLong(3)).sum == rows.head.getLong(1))
  }

  test("q_price_index: base month indices are exactly 1; fisher between L and P") {
    val rows = SparkEntry.queries("q_price_index")(spark, dir).collect()
    assert(rows.nonEmpty)
    val base = rows.minBy(_.getDate(0).toString)
    assert(math.abs(base.getDouble(2) - 1.0) < 1e-9, "base Laspeyres must be 1")
    assert(math.abs(base.getDouble(3) - 1.0) < 1e-9, "base Paasche must be 1")
    rows.foreach { r =>
      val (l, p, f) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(l > 0 && p > 0)
      assert(f >= math.min(l, p) - 1e-6 && f <= math.max(l, p) + 1e-6,
        "Fisher is the geometric mean, so it sits between L and P")
    }
  }

  test("q_pareto_abc: three classes, shares ordered A<B<C=1, counts positive") {
    val rows = SparkEntry.queries("q_pareto_abc")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("A", "B", "C"))
    val shares = rows.map(_._3)
    assert(shares(0) <= 0.80 + 1e-9 && shares(1) <= 0.95 + 1e-9)
    assert(math.abs(shares(2) - 1.0) < 1e-9, "class C cumulative share must be 1")
    assert(rows.forall(_._2 > 0))
  }

  test("q_abc_xyz: full 3x3 grid partition — part counts conserve across cells") {
    val rows = SparkEntry.queries("q_abc_xyz")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(Seq("A", "B", "C").contains(r.getString(0)))
      assert(Seq("X", "Y", "Z").contains(r.getString(1)))
      assert(r.getLong(2) > 0)
    }
    // every part with >=2 demand months lands in exactly one cell
    val totalCells = rows.map(_.getLong(2)).sum
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, dir)
    val eligible = li.groupBy(col("l_partkey"),
      trunc(to_date(col("l_shipdate")), "month")).count()
      .groupBy("l_partkey").count().where(col("count") >= 2).count()
    assert(totalCells == eligible, s"cells $totalCells != eligible parts $eligible")
  }

  test("q_demand_classes: taxonomy cells valid, intervals >= 1 month") {
    val rows = SparkEntry.queries("q_demand_classes")(spark, dir).collect()
    assert(rows.nonEmpty)
    val valid = Set("smooth", "intermittent", "erratic", "lumpy")
    rows.foreach { r =>
      assert(valid.contains(r.getString(0)))
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) >= 1.0 - 1e-9, "mean inter-demand interval cannot be < 1 month")
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("q_concurrency: 24 hour-of-day rows, peak >= mean >= 1") {
    val rows = SparkEntry.queries("q_concurrency")(spark, dir).collect()
    assert(rows.length == 24)
    rows.foreach { r =>
      val (m, p) = (r.getDouble(2), r.getLong(3))
      assert(m >= 1.0 && p >= m.ceil.toLong - 1,
        "peak active sessions must dominate the mean")
    }
  }

  test("q_dispersion: ratio and verdict consistent") {
    val r = SparkEntry.queries("q_dispersion")(spark, dir).collect().head
    val (ratio, z, v) = (r.getDouble(2), r.getDouble(3), r.getString(4))
    assert(ratio > 0)
    if (z > 1.96) assert(v == "overdispersed")
    else if (z < -1.96) assert(v == "underdispersed")
    else assert(v == "poisson_like")
  }

  test("q_skew_diag: multiplicity accounting holds for each relation") {
    val rows = SparkEntry.queries("q_skew_diag")(spark, dir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (keys, n, maxM, p99) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(keys > 0 && n >= keys)
      assert(p99 <= maxM)
      assert(r.getDouble(6) >= 1.0 - 1e-9, "skew factor max/avg must be >= 1")
      assert(r.getDouble(7) > 0 && r.getDouble(7) <= 1.0)
    }
  }

  test("q_alert_budget: within-budget choices respect the alert cap") {
    val rows = SparkEntry.queries("q_alert_budget")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, t, alerts, ok) = (r.getLong(1), r.getDouble(2), r.getLong(3), r.getInt(4))
      assert(Seq(2.0, 2.5, 3.0, 3.5, 4.0).contains(t))
      if (ok == 1) assert(alerts * 168 <= n, "chosen threshold exceeds the weekly alert budget")
    }
  }

  test("q_haar_energy: shares sum to 1 per series; energy non-negative; dyadic levels") {
    val rows = SparkEntry.queries("q_haar_energy")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val lv = g.map(_.getInt(1)).sorted
      assert(lv.head == 1 && lv.toSeq == (1 to lv.length))
      assert(g.forall(_.getDouble(2) >= 0.0))
      val s = g.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) < 1e-4, s"shares sum to $s")
    }
  }

  test("Haar kernel sanity: a pure pair-alternating series puts all energy at level 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 64 points alternating +1/-1: every (2i-1, 2i) pair has max detail at
    // level 1 and a zero approximation thereafter
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val pts = (0 until 64).map(i =>
      ("s", new java.sql.Timestamp(ts0.getTime + i * 3600000L), if (i % 2 == 0) 1.0 else -1.0))
    val df = pts.toDF("event_type", "ts", "value")
    val S = TSSchema(keys = Seq("event_type"))
    val out = SeriesOps.collect(df, S)
    // reuse the query kernel via the registered query on a temp view is
    // overkill; assert the math directly: level-1 detail = (1-(-1))/√2 = √2,
    // energy = 32·2 = 64, approximations all 0 → share(level 1) = 1
    val xs = out.select("xs").as[Seq[Double]].collect().head
    var m = 1
    while (m * 2 <= xs.length && m * 2 <= 512) m *= 2
    assert(m == 64)
    val e1 = (0 until 32).map { i =>
      val d = (xs(2 * i) - xs(2 * i + 1)) / math.sqrt(2.0); d * d
    }.sum
    assert(math.abs(e1 - 64.0) < 1e-9)
  }
}
