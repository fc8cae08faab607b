package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-truth calibration of the round-9 causal/drift operators — the
  * q_detector_eval discipline applied to the new family: each test
  * constructs a fixture with a KNOWN effect and asserts the operator
  * recovers it (and stays quiet on the null).
  */
class PlantedSpec extends AnyFunSuite with SparkSuite {

  /** Deterministic uniform(0,1) noise from an integer key (splitmix-style
    * mix — a bare multiplicative LCG is AFFINE in the key, which makes
    * fixed-offset id pairs spuriously similar). */
  private def u(k: Long): Double = {
    var x = k * 2654435761L + 1442695040888963407L
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
    (x & 0xfffffffL).toDouble / 0xfffffffL.toDouble
  }

  private def writeEvents(rows: Seq[(String, java.time.LocalDateTime, Double)]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("planted").toString
    rows.zipWithIndex.map { case ((et, t, v), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(t), (i % 50).toLong, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  test("q_synth_control recovers a planted post-period lift on the treated unit") {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val n = 1200 // hours -> 100 twelve-hour buckets
    // donors d1..d4 are noisy sines; treated (lexicographically first:
    // 'a_treated') is a fixed combo of them + a +200-per-hour lift in the
    // second half
    val rows = (0 until n).flatMap { t =>
      val base = 50.0 + 10.0 * math.sin(2 * math.Pi * t / 24.0)
      val d = (1 to 4).map(j => base + 5.0 * u(t * 7L + j))
      val lift = if (t >= n / 2) 200.0 / 12.0 else 0.0
      val treated = 0.25 * d.sum + lift + 2.0 * u(t * 13L + 99)
      ("a_treated", t0.plusHours(t), treated) +:
        d.zipWithIndex.map { case (v, j) => (s"d${j + 1}", t0.plusHours(t), v) }
    }
    val dir = writeEvents(rows)
    val r = SparkEntry.queries("q_synth_control")(spark, dir).collect()
    assert(r.length == 1)
    val (gap, z) = (r(0).getDouble(8), r(0).getDouble(10))
    // per-12h-bucket lift is 200; the fit sees the pre-period combo
    assert(gap > 100.0, s"planted lift missed: post_mean_gap=$gap")
    assert(z > 3.0, s"planted lift not significant: z=$z")
  }

  test("q_synth_control stays quiet on the null") {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val n = 1200
    val rows = (0 until n).flatMap { t =>
      val base = 50.0 + 10.0 * math.sin(2 * math.Pi * t / 24.0)
      val d = (1 to 4).map(j => base + 5.0 * u(t * 7L + j))
      val treated = 0.25 * d.sum + 2.0 * u(t * 13L + 99)
      ("a_treated", t0.plusHours(t), treated) +:
        d.zipWithIndex.map { case (v, j) => (s"d${j + 1}", t0.plusHours(t), v) }
    }
    val dir = writeEvents(rows)
    val r = SparkEntry.queries("q_synth_control")(spark, dir).collect()
    assert(math.abs(r(0).getDouble(10)) < 3.0,
      s"null case flagged: z=${r(0).getDouble(10)}")
  }

  test("q_mmd_drift flags a planted mean shift and passes the iid null") {
    import spark.implicits._
    def writeEmb(shift: Double): String = {
      val tmp = java.nio.file.Files.createTempDirectory("planted_emb").toString
      val n = 800
      (0 until n).map { i =>
        val s = if (i > n / 2) shift else 0.0
        val v = (0 until 64).map(d => (u(i * 64L + d) - 0.5 + s).toFloat).toArray
        (i.toLong, v, i % 4)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      tmp
    }
    val drift = SparkEntry.queries("q_mmd_drift")(spark, writeEmb(0.3)).collect()(0)
    assert(drift.getInt(4) == 1, s"planted drift missed: z=${drift.getDouble(3)}")
    val nul = SparkEntry.queries("q_mmd_drift")(spark, writeEmb(0.0)).collect()(0)
    assert(nul.getInt(4) == 0, s"iid null flagged: z=${nul.getDouble(3)}")
  }

  test("q_kendall reads a planted monotone pair as tau ~ 1") {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val rows = (0 until 400).flatMap { t =>
      Seq(("a", t0.plusHours(t), t + u(t)), ("b", t0.plusHours(t), 2.0 * t + u(t + 7919)))
    }
    val dir = writeEvents(rows)
    val r = SparkEntry.queries("q_kendall")(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getDouble(5) > 0.95, s"monotone pair tau=${r(0).getDouble(5)}")
  }
}
