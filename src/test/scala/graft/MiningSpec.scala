package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent validation of the mining pack (MiningQueries): TF-IDF
  * ranking invariants, SemDeDup verdicts re-derived brute-force from the
  * raw embeddings, and the matrix profile re-derived from the direct
  * z-normalized-distance definition (the query computes it via the STOMP
  * correlation identity — the two must agree).
  */
class MiningSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_tfidf_terms: ranks are consecutive, scores non-increasing, terms really occur in the doc") {
    val out = SparkEntry.queries("q_tfidf_terms")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(5)))
    val texts = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (doc, rows) =>
      val byRk = rows.sortBy(_._2)
      assert(byRk.map(_._2).toSeq == (1 to rows.length), s"doc $doc ranks not consecutive")
      assert(byRk.map(_._4).toSeq.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"doc $doc scores increase down the ranking")
      rows.foreach { case (_, _, term, _) =>
        assert(texts(doc).toLowerCase.split(" ").contains(term), s"doc $doc top term '$term' not in text")
      }
    }
  }

  test("q_semdedup: every verdict matches a brute-force within-cell cosine check") {
    val out = SparkEntry.queries("q_semdedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
    val cells = out.map(r => r._1 -> r._2).toMap
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    assert(out.nonEmpty)
    out.foreach { case (id, cell, isDup) =>
      val hasLowerDup = vecs.keys.exists { other =>
        other < id && cells(other) == cell &&
          BigDecimal(cos(vecs(other), vecs(id))).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal("0.4")
      }
      assert(hasLowerDup == (isDup == 1), s"vec $id: brute-force dup=$hasLowerDup but query says $isDup")
    }
  }

  test("q_matrix_profile: agrees with the direct z-normalized distance definition") {
    val m = 24; val excl = 12
    val out = SparkEntry.queries("q_matrix_profile")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getDouble(2), r.getInt(3)))).toMap
    assert(out.nonEmpty)
    val series = TS.fillGaps(Tables.hourlyEvents(spark, dir).drop("n"), TSSchema(keys = Seq("event_type")), 3600L, Some(0.0))
      .orderBy("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    series.foreach { case (key, v) =>
      val nw = v.length - m + 1
      val stats = (0 until nw).map { i =>
        val w = v.slice(i, i + m)
        val mu = w.sum / m
        (mu, math.sqrt(math.max(w.map(x => x * x).sum / m - mu * mu, 0.0)))
      }
      def zdist(i: Int, j: Int): Double = {
        val (mi, si) = stats(i); val (mj, sj) = stats(j)
        math.sqrt((0 until m).map { k =>
          val za = (v(i + k) - mi) / si; val zb = (v(j + k) - mj) / sj
          (za - zb) * (za - zb)
        }.sum)
      }
      (0 until nw).foreach { i =>
        // windows with no admissible neighbor (possible only when
        // nw <= 2*excl) are absent from the output by contract
        val hasNeighbor = i >= excl || i + excl < nw
        if (!hasNeighbor) {
          assert(!out.contains((key, i)), s"$key idx $i: emitted despite no admissible neighbor")
        } else {
        val (mp, nn) = out((key, i))
        assert(nn >= 0 && nn < nw, s"$key idx $i: neighbor index $nn out of range [0, $nw)")
        assert(math.abs(i - nn) >= excl, s"$key idx $i: trivial-match neighbor $nn inside exclusion zone")
        if (stats(i)._2 > 1e-9 && stats(nn)._2 > 1e-9) {
          assert(math.abs(zdist(i, nn) - mp) < 1e-3,
            s"$key idx $i: mp=$mp but direct distance to nn $nn is ${zdist(i, nn)}")
          // the reported neighbor is (near-)optimal: no other window beats it
          // by more than the rounding the kernel applies before the argmin
          val best = (0 until nw).filter(j => math.abs(i - j) >= excl && stats(j)._2 > 1e-9)
            .map(zdist(i, _)).min
          assert(mp <= best + 1e-3, s"$key idx $i: mp=$mp misses a closer neighbor at distance $best")
        }
        }
      }
    }
  }
}
