package graft

import org.scalatest.funsuite.AnyFunSuite

/** Independent validation of the drift/cleaning pack (DriftQueries):
  * Hampel medians re-derived brute-force from raw frames, the KS D
  * statistic recomputed from the two half-sample ECDFs, and Page-Hinkley
  * alarm indices replayed by a direct reference implementation.
  */
class DriftSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val S = TSSchema(keys = Seq("event_type"))

  private lazy val series: Map[String, Seq[Double]] = {
    val dense = TS.fillGaps(Tables.hourlyEvents(spark, dir).drop("n"), S, 3600L, Some(0.0))
    dense.orderBy("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  test("q_hampel: med/mad match brute-force frame order statistics; cleaned replaces flagged") {
    def med(v: Seq[Double]): Double = {
      val s = v.sorted; val n = s.length
      (s((n + 1) / 2 - 1) + s(n / 2)) / 2.0
    }
    val out = SparkEntry.queries("q_hampel")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getInt(5), r.getDouble(6)))
    assert(out.nonEmpty)
    val byKey = out.groupBy(_._1)
    byKey.foreach { case (et, rows) =>
      val ordered = rows.sortBy(_._2)
      val xs = ordered.map(_._3)
      ordered.zipWithIndex.foreach { case ((_, _, x, m, md, flag, cleaned), i) =>
        val frame = xs.slice(math.max(0, i - 5), math.min(xs.length, i + 6))
        val bfMed = med(frame)
        val bfMad = med(frame.map(v => math.abs(v - bfMed)))
        assert(math.abs(m - bfMed) < 1e-5, s"$et@$i med")
        assert(math.abs(md - bfMad) < 1e-5, s"$et@$i mad")
        val bfFlag = if (math.abs(x - bfMed) > 3.0 * (1.4826 * bfMad)) 1 else 0
        assert(flag == bfFlag, s"$et@$i flag")
        assert(math.abs(cleaned - (if (flag == 1) bfMed else x)) < 1e-5, s"$et@$i cleaned")
      }
    }
  }

  test("q_ks_test: D matches the brute-force two-half ECDF sup-difference") {
    val out = SparkEntry.queries("q_ks_test")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (et, n1, n2, d) =>
      val xs = series(et)
      assert(n1 == xs.length / 2 && n1 + n2 == xs.length)
      val (a, b) = xs.splitAt(xs.length / 2)
      val dBf = (a ++ b).distinct.map { v =>
        math.abs(a.count(_ <= v).toDouble / a.size - b.count(_ <= v).toDouble / b.size)
      }.max
      assert(math.abs(d - dBf) < 1e-5, s"$et D: $d vs $dBf")
    }
  }

  test("q_page_hinkley: alarm index matches a direct replay of the recursion") {
    val out = SparkEntry.queries("q_page_hinkley")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (et, alarmIdx, maxGap) =>
      val xs = series(et)
      val n = xs.length
      val mu = xs.sum / n
      val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (n - 1))
      val (delta, lambda) = (0.005 * sd, 20.0 * sd)
      var mean = 0.0; var cum = 0.0; var mn = 0.0; var bfIdx = -1; var bfMax = 0.0
      xs.zipWithIndex.foreach { case (x, i) =>
        mean += (x - mean) / (i + 1)
        cum += x - mean - delta
        if (cum < mn) mn = cum
        if (cum - mn > bfMax) bfMax = cum - mn
        if (bfIdx < 0 && cum - mn > lambda) bfIdx = i
      }
      assert(alarmIdx == bfIdx, s"$et alarm $alarmIdx vs $bfIdx")
      assert(math.abs(maxGap - bfMax) < 1e-3, s"$et maxGap")
    }
  }

  test("q_isotonic: fit is non-decreasing, pool-mean-consistent, and SSE-optimal vs simple alternatives") {
    val out = SparkEntry.queries("q_isotonic")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (et, rows) =>
      val ordered = rows.sortBy(_._2)
      val fits = ordered.map(_._4)
      assert(fits.sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9), s"$et not monotone")
      // each maximal constant-fit pool's value is the mean of its members
      val xs = ordered.map(_._3)
      var i = 0
      while (i < fits.length) {
        var j = i
        while (j + 1 < fits.length && fits(j + 1) == fits(i)) j += 1
        if (fits(i) != fits.lift(i - 1).getOrElse(Double.NaN)) {
          // only check from the true pool start
          val mean = xs.slice(i, j + 1).sum / (j - i + 1)
          assert(math.abs(fits(i) - mean) < 1e-4, s"$et pool [$i,$j] fit ${fits(i)} vs mean $mean")
        }
        i = j + 1
      }
      // optimality sanity: the PAVA fit beats the global-mean fit on SSE
      val mu = xs.sum / xs.length
      val ssePava = xs.zip(fits).map { case (x, f) => (x - f) * (x - f) }.sum
      val sseMean = xs.map(x => (x - mu) * (x - mu)).sum
      assert(ssePava <= sseMean + 1e-6, s"$et PAVA SSE $ssePava worse than constant fit $sseMean")
    }
  }
}
