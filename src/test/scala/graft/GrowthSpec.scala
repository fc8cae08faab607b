package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the product/incident analytics wave: growth accounting
  * identities, Adtributor conservation laws, and the NDCG scoreboard's
  * metric bounds.
  */
class GrowthSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_growth_accounting: the accounting identity holds every week") {
    val rows = SparkEntry.queries("q_growth_accounting")(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (active, nw, ret, res) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(active == nw + ret + res,
        s"week ${r.getLong(0)}: active $active != $nw + $ret + $res")
    }
    // week 1: everyone is new
    assert(rows.head.getLong(1) == rows.head.getLong(2), "first week must be all-new")
    // delta identity: active(w) - active(w-1) = new + resurrected - churned
    rows.sliding(2).foreach { p =>
      val delta = p(1).getLong(1) - p(0).getLong(1)
      assert(delta == p(1).getLong(2) + p(1).getLong(4) - p(1).getLong(5),
        s"week ${p(1).getLong(0)}: delta identity broken")
    }
  }

  test("q_adtributor: shares sum to one per period, EP sums to one") {
    val rows = SparkEntry.queries("q_adtributor")(spark, dir).collect()
    assert(rows.length == 5)
    val sb = rows.map(_.getDouble(3)).sum
    val sa = rows.map(_.getDouble(4)).sum
    assert(math.abs(sb - 1.0) < 1e-4 && math.abs(sa - 1.0) < 1e-4)
    rows.foreach(r => assert(r.getDouble(5) >= -1e-9, "JS surprise is nonnegative"))
    if (rows.forall(!_.isNullAt(6)))
      assert(math.abs(rows.map(_.getDouble(6)).sum - 1.0) < 1e-4,
        "explanatory powers must sum to 1 when the metric moved")
  }

  test("q_shap_logit: abs dominates signed, every source covered for every feature") {
    val rows = SparkEntry.queries("q_shap_logit")(spark, dir).collect()
    assert(rows.length == 80, "20 sources x 4 features")
    rows.foreach { r =>
      assert(math.abs(r.getDouble(4)) <= r.getDouble(3) + 1e-6,
        "mean |shap| bounds the signed mean")
    }
  }

  test("q_gains: capture monotone in k, lift >= 1 at the top for a working model") {
    val rows = SparkEntry.queries("q_gains")(spark, dir).collect().sortBy(_.getInt(0))
    assert(rows.length == 4)
    rows.sliding(2).foreach(p =>
      assert(p(0).getDouble(5) <= p(1).getDouble(5) + 1e-9, "capture grows with k"))
    rows.foreach { r =>
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0 + 1e-9)
      assert(r.getLong(1) * 100 >= rows.map(_.getLong(1)).max * 0, "sanity")
    }
    assert(rows.head.getDouble(6) >= 1.0, "top-5% lift must beat random for a trained model")
  }

  test("q_funnel_timing: percentiles ordered, both step pairs present") {
    val rows = SparkEntry.queries("q_funnel_timing")(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSet == Set("view->click", "click->purchase"))
    rows.foreach { r =>
      val (mean, p50, p90) = (r.getDouble(2), r.getLong(3), r.getLong(4))
      assert(p50 <= p90, "p50 must not exceed p90")
      assert(mean >= 0 && p50 >= 0)
    }
  }

  test("q_retrieval_ndcg: metrics bounded, mrr consistent with hits") {
    val rows = SparkEntry.queries("q_retrieval_ndcg")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n10, ndcg, mrr, p10) =
        (r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(ndcg >= -1e-9 && ndcg <= 1.0 + 1e-9)
      assert(mrr >= 0.0 && mrr <= 1.0 + 1e-9)
      assert(p10 == n10 / 10.0)
      if (n10 > 0) assert(mrr > 0.0, "a hit in the top-10 implies positive MRR")
      else assert(mrr == 0.0 && ndcg == 0.0)
    }
  }
}
