package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the assembly-layer composites (point-in-time
  * feature join, RRF fusion, matryoshka certification) — the oracle proves
  * engine agreement; these prove the operators MEAN what they claim.
  */
class AssemblySpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_pit_features: features are point-in-time correct (no leakage) and recomputable") {
    val out = SparkEntry.queries("q_pit_features")(spark, dir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // availability is strictly in the past: age >= 0 whenever a feature exists
    rows.foreach { r =>
      if (!r.isNullAt(5)) assert(r.getLong(5) >= 0, s"negative feature age: $r")
      // a null click count must come with a null age and null sum
      assert(r.isNullAt(3) == r.isNullAt(5) && r.isNullAt(3) == r.isNullAt(4))
    }
    // independent recompute for the label with the largest click count:
    // clk_n must equal the user's click count in the last CLOSED hour
    // bucket at or before the label ts — and that bucket must not contain
    // the label's own hour (leakage).
    val probe = rows.filter(r => !r.isNullAt(3)).maxBy(_.getLong(3))
    val (user, tsS, clkN) = (probe.getLong(0), probe.getLong(1), probe.getLong(3))
    val ev = Tables.events(spark, dir)
    val bucket = ev.where(col("event_type") === "click" && col("user_id") === user)
      .groupBy(date_trunc("hour", col("ts")).as("h")).agg(count(lit(1)).as("n"))
      .where(unix_timestamp(col("h")) + 3600 <= tsS) // closed at or before label
      .orderBy(col("h").desc).limit(1).collect()
    assert(bucket.nonEmpty && bucket.head.getLong(1) == clkN,
      s"recomputed closed-bucket count ${bucket.headOption} != emitted $clkN")
    assert(unix_timestamp(lit(bucket.head.getTimestamp(0))).toString != null) // shape sanity
  }

  test("q_rrf_fusion: rrf equals the rank formula, ranks dense, scores sorted") {
    val rows = SparkEntry.queries("q_rrf_fusion")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val rks = rs.map(_.getInt(1)).sorted
      assert(rks.sameElements(1 to rs.length), s"qid $qid ranks not dense")
      val byRk = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b }, s"qid $qid rrf not sorted")
    }
    rows.foreach { r =>
      val bm = if (r.isNullAt(4)) 0.0 else 1.0 / (60 + r.getInt(4))
      val knn = if (r.isNullAt(5)) 0.0 else 1.0 / (60 + r.getInt(5))
      assert(math.abs(r.getDouble(3) - (bm + knn)) < 1e-6, s"rrf formula mismatch: $r")
      assert(!r.isNullAt(4) || !r.isNullAt(5), s"fused row in neither arm: $r")
    }
  }

  test("q_shard_plan: shards partition each source's docs and fill to budget") {
    val rows = SparkEntry.queries("q_shard_plan")(spark, dir).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getString(0))
    bySource.foreach { case (src, shards) =>
      val ids = shards.map(_.getLong(1)).sorted
      assert(ids.sameElements(0L until ids.length), s"$src shard ids not dense: ${ids.mkString(",")}")
      // every shard except the last must have crossed the budget boundary
      val ordered = shards.sortBy(_.getLong(1))
      ordered.init.foreach { sh =>
        assert(sh.getLong(3) >= 1, s"$src shard ${sh.getLong(1)} empty")
      }
      // doc ranges are disjoint and ordered
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) < b.getLong(4),
          s"$src shards ${a.getLong(1)}/${b.getLong(1)} doc ranges overlap")
        case _ =>
      }
    }
    // total docs across shards == corpus size
    val total = rows.map(_.getLong(2)).sum
    assert(total === Tables.documents(spark, dir).count())
  }

  test("q_embed_outliers: flags are a small minority and distances are sane") {
    val rows = SparkEntry.queries("q_embed_outliers")(spark, dir).collect()
    assert(rows.length === Tables.embeddings(spark, dir).count())
    rows.foreach(r => assert(r.getDouble(2) >= -1e-9 && r.getDouble(2) <= 2.0 + 1e-9))
    val frac = rows.count(_.getInt(3) == 1).toDouble / rows.length
    assert(frac < 0.2, s"outlier fraction implausibly high: $frac")
  }

  test("q_embed_matryoshka: recalls in [0,1]; a full-width prefix recalls 1.0") {
    val rows = SparkEntry.queries("q_embed_matryoshka")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0 && r.getDouble(1) <= 1)
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1)
    }
    // degenerate-prefix self-check through the same kernel: top-5 under a
    // 64-dim "prefix" IS the full top-5 (recall exactly 1 for every probe)
    import graft.expressions.cosine_sim
    val e = Tables.embeddings(spark, dir)
    val probes = e.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    def top5(cut: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("cos").desc, col("c.vec_id"))
      e.as("c").join(broadcast(probes), col("c.vec_id") =!= col("probe_id"))
        .withColumn("cos", cosine_sim(cut(col("pvec")), cut(col("c.embedding"))))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("probe_id"), col("c.vec_id").as("neighbor_id"))
    }
    val full = top5(identity).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cut64 = top5(v => slice(v, 1, 64)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == cut64, "64-dim prefix must reproduce the full top-5 exactly")
  }
}
