package graft

import breeze.linalg.{inv, DenseMatrix, DenseVector}
import graft.models.GaussJordan
import org.scalatest.funsuite.AnyFunSuite

/** q_bayes_var validation: the unrolled transform-chain Gauss-Jordan against
  * breeze LAPACK, and the full moment-space posterior (Σ⁻¹⊗S rearrangement)
  * against a dense computation shaped exactly like the reference's fit loop
  * (kats/models/bayesian_var.py:186 — per-t Z_tᵀ Σ⁻¹ Z_t accumulation with
  * block-diagonal Z_t), which shares no algebra with the implementation.
  */
class BayesVarSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("GaussJordan.eliminate solves a multi-RHS SPD system to LAPACK precision") {
    import spark.implicits._
    val a = DenseMatrix((4.0, 1.0, 0.5), (1.0, 3.0, 0.2), (0.5, 0.2, 2.0))
    val b = DenseMatrix((1.0, 2.0), (0.0, 1.0), (3.0, -1.0))
    val want = inv(a) * b
    val flat = (0 until 3).flatMap(r => (0 until 3).map(c => a(r, c)) ++ (0 until 2).map(c => b(r, c)))
    val df = Seq(Tuple1(flat)).toDF("_m")
    val got = GaussJordan.eliminate(df, "_m", 3, 5).head().getSeq[Double](0)
    for (r <- 0 until 3; j <- 0 until 2)
      assert(math.abs(got(r * 5 + 3 + j) - want(r, j)) < 1e-9, s"x($r,$j)")
  }

  test("q_var_irf: h=1 responses equal the fitted VAR coefficients; stable systems decay") {
    val irf = SparkEntry.queries("q_var_irf")(spark, dir).collect()
    val varFit = SparkEntry.queries("q_var")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(3), r.getDouble(4))).toMap
    val bySeries = irf.groupBy(_.getString(0))
    assert(bySeries.size == 5)
    bySeries.foreach { case (et, rows) =>
      val h1 = rows.find(_.getInt(1) == 1).get
      val (a11, a12) = varFit((et, "value"))
      val (a21, a22) = varFit((et, "n"))
      assert(h1.getDouble(2) == a11 && h1.getDouble(3) == a12, s"$et psi_1 row1 != A")
      assert(h1.getDouble(4) == a21 && h1.getDouble(5) == a22, s"$et psi_1 row2 != A")
      if (rows.head.getBoolean(7)) { // stable => responses decay by h=12
        val h12 = rows.find(_.getInt(1) == 12).get
        val h1max = (2 to 5).map(i => math.abs(h1.getDouble(i))).max
        val h12max = (2 to 5).map(i => math.abs(h12.getDouble(i))).max
        assert(h12max <= h1max, s"$et stable but responses grew: $h12max > $h1max")
      }
    }
  }

  test("q_bayes_var matches a reference-shaped dense posterior computation") {
    import spark.implicits._
    val T = 72
    val ks = Array.tabulate(T)(t => 1 + t % 3)
    // integer-exact hourly sums so the 6-dp input snap is a no-op
    val y1 = Array.tabulate(T) { t => val k = ks(t); k * (50.0 + (t % 7) * 3) + k * (k - 1) / 2.0 }
    val y2 = Array.tabulate(T)(t => ks(t).toDouble)

    val tmp = java.nio.file.Files.createTempDirectory("bayesvar").toString
    val rows = for { t <- 0 until T; j <- 0 until ks(t) } yield
      ("e", (1700000000L + t * 3600L + j * 60L) * 1000000000L, 50.0 + (t % 7) * 3 + j)
    rows.toDF("event_type", "ts", "value").write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("q_bayes_var")(spark, tmp)
      .collect().map(r => r.getString(1) -> r).toMap

    // --- dense reference computation (structure of bayesian_var.py fit) ---
    val N = 4
    def z(t: Int) = DenseVector(y1(t - 1), y2(t - 1), t.toDouble / T, 1.0)
    val S = DenseMatrix.zeros[Double](N, N)
    val W = DenseMatrix.zeros[Double](2, N)
    val YY = DenseMatrix.zeros[Double](2, 2)
    for (t <- 1 until T) {
      val zt = z(t); val yt = DenseVector(y1(t), y2(t))
      S += zt * zt.t; W += yt * zt.t; YY += yt * yt.t
    }
    val sigma = (YY - W * inv(S) * W.t) / (T - 3).toDouble
    val A = inv(sigma)
    val M = DenseMatrix.zeros[Double](8, 8)
    val rhs = DenseVector.zeros[Double](8)
    for (t <- 1 until T) {
      val zt = z(t)
      val Zt = DenseMatrix.zeros[Double](2, 8)
      for (i <- 0 until 2; a <- 0 until N) Zt(i, i * N + a) = zt(a)
      M += Zt.t * A * Zt
      rhs += Zt.t * (A * DenseVector(y1(t), y2(t)))
    }
    def popVar(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val vp = Array(popVar(y1), popVar(y2))
    val v0 = DenseVector(0.02, 0.02 * 0.25 * vp(1) / vp(0), 0.4, 0.4,
      0.02 * 0.25 * vp(0) / vp(1), 0.02, 0.4, 0.4)
    val precPrior = DenseMatrix.tabulate(8, 8)((i, j) => if (i == j) 1.0 / v0(i) else 0.0)
    val mu0 = DenseVector.zeros[Double](8); mu0(0) = 1.0; mu0(5) = 1.0
    val mu = inv(precPrior + M) * (precPrior * mu0 + rhs)
    val zAhead = DenseVector(y1(T - 1), y2(T - 1), 1.0, 1.0)
    val f = Array(0, 1).map(i => (0 until N).map(a => zAhead(a) * mu(i * N + a)).sum)

    // impl rounds moments to a 4-dp grid and ridges S by 1e-8; the dense
    // version does neither, so compare at 1e-3, far below any wiring error
    def g(row: org.apache.spark.sql.Row, i: Int) = row.getDouble(i)
    val v = out("value"); val n = out("n")
    assert(math.abs(g(v, 2) - mu(0)) < 1e-3, "value own-lag")
    assert(math.abs(g(v, 3) - mu(1)) < 1e-3, "value cross-lag")
    assert(math.abs(g(v, 4) - mu(2)) < 1e-3, "value trend")
    assert(math.abs(g(v, 5) - mu(3)) < 1e-3, "value intercept")
    assert(math.abs(g(v, 6) - f(0)) < 1e-2, "value yhat_1")
    assert(math.abs(g(n, 2) - mu(5)) < 1e-3, "n own-lag")
    assert(math.abs(g(n, 3) - mu(4)) < 1e-3, "n cross-lag")
    assert(math.abs(g(n, 4) - mu(6)) < 1e-3, "n trend")
    assert(math.abs(g(n, 5) - mu(7)) < 1e-3, "n intercept")
    assert(math.abs(g(n, 6) - f(1)) < 1e-2, "n yhat_1")
  }
}
