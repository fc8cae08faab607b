package graft

import graft.expressions.{cms_sketch, hll_sketch, kmv_sketch, Sketches}
import graft.text.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the mergeable sketch aggregates that the oracle equality
  * check can't see: estimates are INVARIANT under repartitioning (the
  * merge path is exercised and associative), accuracy lands inside the
  * published error bounds, KMV is exact below k, CMS never undercounts,
  * and the oracle-side HLL constant literal matches the Scala fold.
  */
class SketchSpec extends AnyFunSuite with SparkSuite {

  private def hv(c: org.apache.spark.sql.Column) = TextFunctions.hash60(c.cast("string"))

  test("KMV is exact below k; KMV and HLL land within published error bounds at 5000 distinct") {
    import spark.implicits._
    val small = (1 to 40).map(i => s"u$i").toDF("v")
    val smallEst = small.agg(kmv_sketch(hv(col("v")), 64)).head.getDouble(0)
    assert(smallEst == 40.0, s"KMV below k must be exact, got $smallEst")

    val big = (1 to 5000).map(i => s"user_$i").toDF("v")
    val row = big.agg(
      kmv_sketch(hv(col("v")), 64).as("kmv"),
      hll_sketch(hv(col("v"))).as("hll")).head
    // std errors: KMV ~ 1/sqrt(k-2) ≈ 12.7%, HLL ~ 1.04/sqrt(64) = 13%;
    // 4 sigma keeps the deterministic check far from flakiness
    assert(math.abs(row.getDouble(0) - 5000) / 5000 < 0.5, s"kmv=${row.getDouble(0)}")
    assert(math.abs(row.getDouble(1) - 5000) / 5000 < 0.5, s"hll=${row.getDouble(1)}")
  }

  test("estimates are invariant under repartitioning (merge path is associative)") {
    import spark.implicits._
    // duplicates spread across partitions so merge must dedup (KMV/HLL)
    // and sum (CMS) correctly
    val vals = (1 to 3000).map(i => s"k${i % 700}").toDF("v")
    def run(parts: Int): (Double, Double, Seq[Long]) = {
      val d = vals.repartition(parts)
      val r = d.agg(
        kmv_sketch(hv(col("v")), 64).as("kmv"),
        hll_sketch(hv(col("v"))).as("hll"),
        cms_sketch(TextFunctions.hash31(col("v")), 4, 64).as("cms")).head
      (r.getDouble(0), r.getDouble(1), r.getSeq[Long](2))
    }
    val (k1, h1, c1) = run(1)
    val (k13, h13, c13) = run(13)
    assert(k1 == k13, s"KMV not merge-invariant: $k1 vs $k13")
    assert(h1 == h13, s"HLL not merge-invariant: $h1 vs $h13")
    assert(c1 == c13, "CMS not merge-invariant")
    assert(c1.sum == 3000L * 4, s"CMS total mass must be rows×depth, got ${c1.sum}")
  }

  test("CMS never undercounts, and is exact when width clears the collision load") {
    import spark.implicits._
    val rows = (1 to 2000).map(i => s"t${i % 50}").toDF("v") // 50 tokens × 40
    val withH = rows.withColumn("h", TextFunctions.hash31(col("v")))
    val sk = withH.agg(cms_sketch(col("h"), 4, 4096).as("cms"))
    val P = TextFunctions.MinHashPrime
    val est = TextFunctions.permParams(4).zipWithIndex.map { case ((a, b), j) =>
      element_at(col("cms"), (lit(j * 4096) + ((lit(a) * col("h") + lit(b)) % P) % 4096 + 1).cast("int"))
    }.reduce(least(_, _))
    val checked = withH.groupBy("v", "h").agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sk)).select(col("exact"), est.as("est"))
      .collect()
    assert(checked.length == 50)
    checked.foreach { r =>
      assert(r.getLong(1) >= r.getLong(0), s"CMS undercounted: $r")
    }
    // 50 distinct hashes into 4×4096 buckets: collisions are essentially
    // impossible, so the min over rows is exact
    assert(checked.forall(r => r.getLong(1) == r.getLong(0)), "expected exact at this width")
  }

  test("KMV set algebra recovers a known Jaccard from sketches alone") {
    import spark.implicits._
    // two sets of 2000 with exactly 1000 shared → |A∪B| = 3000, J = 1/3
    val a = (0 until 2000).map(i => ("a", s"item_$i"))
    val b = (1000 until 3000).map(i => ("b", s"item_$i"))
    val df = (a ++ b).toDF("side", "v")
    val k = 256
    val sk = df.groupBy("side")
      .agg(graft.expressions.kmv_hashes(TextFunctions.hash60(col("v")), k).as("kh"))
    val pair = sk.as("x").join(sk.as("y"), col("x.side") < col("y.side"))
      .withColumn("u", slice(array_sort(array_union(col("x.kh"), col("y.kh"))), 1, k))
      .withColumn("l", size(col("u")))
      .withColumn("est_union",
        lit((k - 1).toDouble) * graft.expressions.Sketches.HashSpace
          / element_at(col("u"), k).cast("double"))
      .withColumn("n_both", size(filter(col("u"),
        h => array_contains(col("x.kh"), h) && array_contains(col("y.kh"), h))))
      .select(col("est_union"), (col("n_both") / col("l")).as("est_jac"))
      .head
    // k=256 → ~6% std error on the union; Jaccard estimator ~ ±2σ of
    // sqrt(J(1-J)/k) ≈ 0.03. Loose 4σ-ish bounds keep this deterministic
    // test meaningful without flaking on the fixed hash draw.
    assert(math.abs(pair.getDouble(0) - 3000.0) / 3000.0 < 0.25, s"union=${pair.getDouble(0)}")
    assert(math.abs(pair.getDouble(1) - 1.0 / 3.0) < 0.12, s"jaccard=${pair.getDouble(1)}")
  }

  test("CMS join-size estimate never undercounts the true join cardinality") {
    val row = SparkEntry.queries("q_sketch_joinsize")(spark, "/root/testdata/sf0.001").head
    val exact = row.getAs[Long]("exact_pairs")
    val est = row.getAs[Long]("est_pairs")
    assert(exact > 0)
    assert(est >= exact, s"CMS inner product must overestimate: est=$est exact=$exact")
    assert(est < exact * 10, s"estimate uselessly loose: est=$est exact=$exact")
  }

  test("histogram quantiles survive a constant-valued series (hi = lo)") {
    import spark.implicits._
    // mirror the query's math on a local frame: constant series must land
    // all mass in bucket 0 and report the constant as every percentile
    val df = Seq.fill(100)(("flat", 7.5)).toDF("event_type", "value")
    val rng = df.groupBy("event_type").agg(
      min("value").as("lo"), max("value").as("hi"), count(lit(1)).as("n"))
    val bucketed = df.join(broadcast(rng), "event_type")
      .withColumn("bucket", when(col("hi") === col("lo"), lit(0L)).otherwise(
        least(floor((col("value") - col("lo")) * 512.0 / (col("hi") - col("lo"))), lit(511.0)).cast("long")))
    val row = bucketed.groupBy("event_type", "bucket").count().collect()
    assert(row.length == 1 && row.head.getLong(1) == 0L && row.head.getLong(2) == 100L)
    val est = rng.select(col("lo") + (lit(0L) + 0.5) * ((col("hi") - col("lo")) / 512.0)).head.getDouble(0)
    assert(est == 7.5, s"constant series must report the constant, got $est")
  }

  test("Misra-Gries guarantee: every key above N/(cap+1) survives, at any partitioning") {
    import spark.implicits._
    // skewed stream: key_i has frequency i for i in 1..50 (N = 1275);
    // cap = 32 → guarantee threshold N/33 ≈ 38.6 → keys 39..50 MUST be
    // candidates no matter how partitions split the stream
    val rows = (1 to 50).flatMap(i => Seq.fill(i)(s"key_$i")).toDF("v")
    val n = 1275
    val cap = 32
    val must = (1 to 50).filter(i => i > n / (cap + 1)).map(i => s"key_$i").toSet
    assert(must.nonEmpty)
    for (parts <- Seq(1, 7, 32)) {
      val cands = rows.repartition(parts)
        .agg(graft.expressions.mg_candidates(col("v"), cap))
        .head.getSeq[String](0).toSet
      assert(cands.size <= cap, s"state exceeded capacity: ${cands.size}")
      assert(must.subsetOf(cands),
        s"parts=$parts lost guaranteed heavy hitters: ${must -- cands}")
    }
  }

  test("Misra-Gries is exact (all keys kept) when capacity covers the key space") {
    import spark.implicits._
    val rows = (1 to 500).map(i => s"k${i % 40}").toDF("v")
    val cands = rows.repartition(9)
      .agg(graft.expressions.mg_candidates(col("v"), 64))
      .head.getSeq[String](0)
    assert(cands.sorted == cands, "candidate array must be ascending-sorted")
    assert(cands.toSet == (0 until 40).map(i => s"k$i").toSet)
  }

  test("two-pass heavy hitters: final set is partition-invariant despite sketch slack") {
    import spark.implicits._
    // zipf-ish corpus with a 200-key vocab; cap 128 > the 100 the share
    // filter needs (guarantee N/129 < N/100) yet far below the vocab, so
    // the sketch carries partition-dependent slack the confirm must prune
    val rows = (1 to 200).flatMap(i => Seq.fill(1 + 2000 / i)(s"w$i")).toDF("tok")
    def hh(parts: Int): Set[(String, Long)] = {
      val t = rows.repartition(parts)
      val sk = t.agg(graft.expressions.mg_candidates(col("tok"), 128).as("c"),
        count(lit(1)).as("n"))
      val cands = sk.select(explode(col("c")).as("tok"), col("n"))
      t.join(broadcast(cands), "tok")
        .groupBy("tok", "n").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * 100L > col("n")) // share > 1%
        .select("tok", "cnt").as[(String, Long)].collect().toSet
    }
    val a = hh(1)
    val b = hh(13)
    assert(a == b, s"heavy-hitter set must be deterministic: ${a.diff(b)} / ${b.diff(a)}")
    assert(a.nonEmpty)
    // cross-check against the exact answer
    val n = rows.count()
    val exact = rows.groupBy("tok").count().where(col("count") * 100L > n)
      .as[(String, Long)].collect().toSet
    assert(a == exact, "two-pass result must equal the exact heavy-hitter set")
  }

  test("hist_sketch: merge-invariant, mass-conserving, edge-clamping") {
    import spark.implicits._
    val rows = (0 until 1000).map(i => (i % 37).toLong).toDF("b")
    def run(parts: Int): Seq[Long] =
      rows.repartition(parts).agg(graft.expressions.hist_sketch(col("b"), 64))
        .head.getSeq[Long](0)
    val c1 = run(1)
    val c11 = run(11)
    assert(c1 == c11, "hist_sketch not merge-invariant")
    assert(c1.length == 64 && c1.sum == 1000L, s"mass not conserved: ${c1.sum}")
    // out-of-range indices clamp into the edges, never drop
    val clamped = Seq(-5L, -1L, 64L, 99L).toDF("b")
      .agg(graft.expressions.hist_sketch(col("b"), 64)).head.getSeq[Long](0)
    assert(clamped.head == 2L && clamped.last == 2L && clamped.sum == 4L)
  }

  test("HLL internals: rank convention and the oracle constant literal") {
    assert(Sketches.hllRank(0L) == 55)
    assert(Sketches.hllRank(1L) == 54)            // 53 leading zeros in 54-bit field
    assert(Sketches.hllRank(1L << 53) == 1)       // top bit of the field
    assert(Sketches.hllRank(3L) == 53)
    // the e-notation literal inlined in SketchQueries' oracle SQL must be
    // the bit-exact double of the Scala fold
    assert("1.0462993238608057e+20".toDouble == Sketches.HllAm2)
  }
}
