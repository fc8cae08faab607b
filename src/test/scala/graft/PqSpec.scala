package graft

import graft.ann.Pq
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PQ quality gates, on a corpus with actual neighbor structure (8
  * Gaussian blobs): ADC is a coarse filter — it must place candidates in
  * the right blob — and the production path (ADC top-cand → exact
  * re-rank) must recover the exact top-k almost perfectly. The
  * testdata embeddings are near-uniform (distance p5 ≈ p50), the PQ
  * worst case, so quality is measured where quality is defined;
  * correctness on the testdata is the q_ann_pq oracle's job.
  */
class PqSpec extends AnyFunSuite with SparkSuite {

  /** 8 well-separated 64-d Gaussian blobs, 40 members each, shuffled ids. */
  private lazy val (corpus, blobOf) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(8)(Array.fill(64)(rnd.nextGaussian() * 3.0))
    val rows = for (b <- 0 until 8; i <- 0 until 40)
      yield (b, centers(b).map(c => (c + rnd.nextGaussian() * 0.5).toFloat).toSeq)
    val shuffled = new scala.util.Random(13).shuffle(rows).zipWithIndex
      .map { case ((b, v), id) => (id.toLong, v, b) }
    (shuffled.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding").persist(),
      shuffled.map { case (id, _, b) => id -> b }.toMap)
  }

  private def d2(a: Seq[Double], b: Seq[Double]) =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  private lazy val cb = Pq.fitCodebooks(corpus, m = 4, ks = 8, iters = 2)
  private lazy val probes = corpus.where(col("vec_id") % 40 === 0)

  test("ADC top-10 lands in the probe's blob (coarse-filter contract)") {
    val adc = Pq.adcTopK(Pq.encode(corpus, cb), probes, cb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val purity = adc.count { case (p, n) => blobOf(p) == blobOf(n) }.toDouble / adc.length
    assert(purity >= 0.9, s"ADC blob purity $purity — codebooks not resolving the cluster structure")
  }

  test("ADC + exact re-rank recovers the exact top-10 (production path)") {
    val got = Pq.adcRerankTopK(Pq.encode(corpus, cb), corpus, probes, cb, cand = 50, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (p, v) => p -> v.map(_._2).toSet }
    val all = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val want = all.filter(_._1 % 40 == 0).map { case (p, pv) =>
      p -> all.filter(_._1 != p).map { case (i, v) => (d2(pv, v), i) }.sorted.take(10).map(_._2).toSet
    }.toMap
    assert(got.keySet === want.keySet)
    val recalls = got.map { case (p, g) => g.intersect(want(p)).size / 10.0 }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean rerank recall $mean")
  }

  test("IVF-PQ (coarse cells + residual codes) keeps the coarse-filter contract") {
    import graft.ann.KMeansDet
    val centsDf = KMeansDet.fit(corpus, k = 8, iters = 2)
    val cents = centsDf.collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    val resid = Pq.residuals(KMeansDet.assign(corpus, centsDf), centsDf)
    val rcb = Pq.fitCodebooks(resid, m = 4, ks = 8, iters = 2)
    val hits = Pq.adcIvfTopK(Pq.encode(resid, rcb, keep = Seq("cell")), cents, rcb,
        probes, nprobe = 2, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.nonEmpty)
    val purity = hits.count { case (p, n) => blobOf(p) == blobOf(n) }.toDouble / hits.length
    assert(purity >= 0.9, s"IVF-PQ blob purity $purity")
  }

  test("encode is deterministic and the code space is bounded") {
    val a = Pq.encode(corpus, cb).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = Pq.encode(corpus, cb).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a === b)
    assert(a.values.forall(codes => codes.length == 4 && codes.forall(c => c >= 0 && c < 8)))
    // 64 floats compress to 4 small codes; the codebooks are the only
    // float state: 4 books x <=8 cells x 16 dims
    assert(cb.length == 4 && cb.forall(bk => bk.size <= 8 && bk.forall(_.length == 16)))
  }
}
