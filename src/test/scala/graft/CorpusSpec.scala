package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the corpus-reporting pack (CorpusQueries) + Erlang-C. */
class CorpusSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_hill_tail: tail is ~10% of docs, alpha positive, threshold below max length") {
    val rows = SparkEntry.queries("q_hill_tail")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, t, k, alpha) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(k > 0 && k <= n / 5, s"tail size $k implausible for $n docs")
      assert(t > 0)
      assert(alpha > 0, s"Hill alpha $alpha must be positive")
    }
  }

  test("q_dataset_card: shares and rates in [0,1], mean consistent with totals") {
    val rows = SparkEntry.queries("q_dataset_card")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, chars, mean) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(math.abs(mean - chars.toDouble / n) < 1e-3)
      val (share, dup) = (r.getDouble(6), r.getDouble(7))
      assert(share > 0 && share <= 1.0)
      assert(dup >= 0.0 && dup < 1.0)
      assert(r.getLong(4) >= 1)
    }
  }

  test("q_erlang_c: staffing exceeds offered load, wait prob <= 0.2 when found") {
    val rows = SparkEntry.queries("q_erlang_c")(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (a, c, w) = (r.getDouble(3), r.getInt(4), r.getDouble(5))
      assert(a > 0)
      if (c > 0) {
        assert(c > a, "a stable queue needs c > offered load")
        assert(w <= 0.2 + 1e-9 && w >= 0.0)
      }
    }
  }

  test("Erlang recursion sanity: a=1, c=2 gives the textbook C(2,1)=1/3 wait probability") {
    // B(1) = 1/(1+1) = 0.5; B(2) = 0.5/(2+0.5) = 0.2; C = 2*0.2/(2-1*0.8) = 1/3
    val a = 1.0
    var b = 1.0
    for (c <- 1 to 2) b = a * b / (c + a * b)
    val cw = 2 * b / (2 - a * (1.0 - b))
    assert(math.abs(b - 0.2) < 1e-12)
    assert(math.abs(cw - 1.0 / 3) < 1e-12)
  }
}
