package graft

import graft.ann.{Ann, KMeansDet}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnnSpec extends AnyFunSuite with SparkSuite {

  /** Deterministic synthetic corpus: two noisy clusters in 16-d. */
  private def corpus(n: Int) = {
    import spark.implicits._
    def lcg(seed: Long): Iterator[Double] =
      Iterator.iterate(seed)(s => (s * 48271) % 2147483647L).drop(1).map(_.toDouble / 2147483647L - 0.5)
    (0L until n).map { i =>
      val base = if (i % 2 == 0) Array.fill(16)(1.0f) else Array.tabulate(16)(d => if (d < 8) 1.0f else -1.0f)
      val noise = lcg(i * 7 + 11).take(16).toArray
      (i, base.zip(noise).map { case (b, e) => (b + 0.4 * e).toFloat })
    }.toDF("vec_id", "embedding")
  }

  test("triangle block all-pairs matches a direct quadratic scan") {
    import spark.implicits._
    val c = corpus(60).cache()
    val got = Ann.allPairsCosine(c, threshold = 0.8, blocks = 4)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val vecs = c.as[(Long, Array[Float])].collect()
    val want = (for {
      (i, a) <- vecs; (j, b) <- vecs if i < j
      dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      na = math.sqrt(a.map(x => x.toDouble * x).sum)
      nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if dot / (na * nb) >= 0.8
    } yield (i, j)).toSet
    assert(got === want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("banded LSH near-dup recall is high at the threshold") {
    val c = corpus(200).cache()
    val exact = Ann.allPairsCosine(c, threshold = 0.8, blocks = 4).count()
    val lsh = Ann.lshNearDupPairs(c, threshold = 0.8, bands = 16, rowsPerBand = 3).count()
    assert(exact > 0, "fixture must contain near-dup pairs")
    val recall = lsh.toDouble / exact
    assert(recall >= 0.9, s"recall $recall ($lsh of $exact)")
  }

  test("LSH banding schedule: bounded bucket load and flat recall curve") {
    // The schedule's two contracts, checked analytically at EVERY step so
    // the next decade can't silently re-open the Θ(n²/buckets) defect the
    // r10/r11 measurements caught twice:
    // (1) scale — expected bucket load n/2^rows stays ≤ 512 at each step
    //     boundary (per-band candidates Θ(n·load), i.e. linear in n);
    // (2) recall — 1-(1-p^r)^b at cos 0.9 (p = 1-θ/π) stays ≥ 0.988 at
    //     every step: growing rows alone would crush recall, the
    //     compensating band counts hold the curve.
    val steps = Ann.LshSteps
    assert(steps.last.maxN == Long.MaxValue, "schedule must cover every n")
    assert(steps.map(_.maxN) == steps.map(_.maxN).sorted && steps.map(_.rows) == steps.map(_.rows).sorted)
    val p = 1.0 - math.acos(0.9) / math.Pi
    steps.foreach { st =>
      if (st.maxN != Long.MaxValue)
        assert(st.maxN.toDouble / math.pow(2, st.rows) <= 512.0,
          s"bucket load at boundary ${st.maxN} with ${st.rows} rows exceeds 512")
      val recall = 1.0 - math.pow(1.0 - math.pow(p, st.rows), st.bands)
      assert(recall >= 0.988, s"recall $recall at step $st")
    }
    // step selection is the same n <= maxN rule the oracle's VALUES twin
    // replays (first applicable row in maxN order)
    assert(Ann.lshStepFor(4096L) == Ann.LshSteps(0))
    assert(Ann.lshStepFor(4097L) == Ann.LshSteps(1))
    assert(Ann.lshStepFor(200000L).rows == 12 && Ann.lshStepFor(200000L).bands == 27)
    assert(Ann.lshStepFor(Long.MaxValue).rows == 21)
  }

  test("deterministic Lloyd separates two blobs") {
    import spark.implicits._
    val c = corpus(100).cache()
    val cents = KMeansDet.fit(c, k = 2, iters = 3)
    val assigned = KMeansDet.assign(c, cents)
      .select("vec_id", "cell").as[(Long, Int)].collect()
    // cluster label should align with parity (the two construction modes)
    val byParity = assigned.groupBy(_._1 % 2).map { case (p, rows) =>
      p -> rows.groupBy(_._2).maxBy(_._2.length)._1
    }
    assert(byParity(0L) != byParity(1L), "the two blobs must land in different cells")
    val purity = assigned.count { case (id, cell) => byParity(id % 2) == cell }.toDouble / assigned.length
    assert(purity > 0.95, s"purity $purity")
  }
}
