package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Validation of the LM pack (LmQueries): Kneser-Ney probability/score
  * sanity plus a normalization check over a seen context, and TextRank
  * ranking invariants.
  */
class LmSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_kneser_ney: scores are proper (logp < 0, ppl > 1) and KN sums to ~1 over a seen context") {
    val out = SparkEntry.queries("q_kneser_ney")(spark, dir).collect()
    assert(out.length > 100)
    out.foreach { r =>
      assert(r.getDouble(2) < 0.0, s"doc ${r.getLong(0)} mean_logp must be negative")
      assert(r.getDouble(3) > 1.0, s"doc ${r.getLong(0)} ppl must exceed 1")
    }
    // brute-force KN over the training half: for the most frequent context
    // w1, sum P(w2|w1) over the FULL vocabulary must be ~1 (the
    // interpolated-KN normalization identity)
    val train = Tables.documents(spark, dir).where(col("doc_id") % 2 === 0)
      .select(split(lower(col("text")), " ").as("ws")).collect()
      .flatMap(_.getSeq[String](0).sliding(2).filter(p =>
        p.length == 2 && p.forall(_.matches("^[a-z]+$"))).map(p => (p(0), p(1))))
    val c12 = train.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val n1f = c12.groupBy(_._1._1).map { case (w, m) => w -> m.size.toLong }
    val n1p = c12.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val bt = c12.size.toLong
    val vocab = (c12.keys.map(_._1) ++ c12.keys.map(_._2)).toSet
    val w1 = c1.maxBy(_._2)._1
    val d = 0.75
    val total = vocab.toSeq.map { w2 =>
      val pc = n1p.get(w2).map(_.toDouble / bt).getOrElse(0.5 / bt)
      math.max(c12.getOrElse((w1, w2), 0L) - d, 0.0) / c1(w1) + (d * n1f(w1) / c1(w1)) * pc
    }.sum
    assert(math.abs(total - 1.0) < 0.02, s"KN mass over context '$w1' = $total")
  }

  test("q_textrank: top words are ranked descending, positive, and frequent") {
    val out = SparkEntry.queries("q_textrank")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 10)
    assert(out.forall(_._3 > 0.0))
    assert(out.forall(_._2 >= 5), "every keyword must clear the vocabulary floor")
    val ranks = out.map(_._3)
    assert(ranks.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)), "ranks not descending")
  }
}
