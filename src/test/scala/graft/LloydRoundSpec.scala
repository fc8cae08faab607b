package graft

import graft.ann.{KMeansDet, Pq}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one-job Lloyd round ([[KMeansDet.fit]], [[Pq.fitCodebooks]])
  * against the DataFrame formulation it replaced — a broadcast argmin
  * join plus a (cell, dim)-keyed mean per round, collected and reassembled
  * on the driver — kept here as the reference: same centroids to 1e-12
  * (only the summation order of the partition sums differs), the same
  * dropped cells, the same assignments; and the job count the fold buys.
  */
class LloydRoundSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Seeded corpus: three noisy 16-d blobs over 4 partitions. With `dupSeed`
    * vector 1 repeats vector 0, so seed cell 1 ties cell 0 everywhere, wins
    * nothing and is dropped after the first round. */
  private def corpus(n: Int, seed: Int, dupSeed: Boolean = false, asDouble: Boolean = false): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(3)(Array.fill(16)(rnd.nextGaussian() * 2.0))
    val rows = (0L until n).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.7).toFloat).toSeq)
    }
    val fixed = if (dupSeed) rows.updated(1, (1L, rows(0)._2)) else rows
    val df = fixed.toDF("vec_id", "embedding").repartition(4)
    (if (asDouble) df.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")) else df)
      .persist()
  }

  // ---- the replaced DataFrame formulation, verbatim in its arithmetic ----

  private def d2(vec: Column, centroid: Column): Column =
    aggregate(zip_with(vec, centroid, (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, v) => acc + v)

  private def refAssign(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val centsRow = cents.agg(array_sort(collect_list(struct(col("cell"), col("centroid")))).as("_cents"))
    corpus.crossJoin(broadcast(centsRow))
      .withColumn("_best", array_min(transform(col("_cents"),
        c => struct(d2(col("embedding"), c.getField("centroid")).as("d2"), c.getField("cell").as("cell")))))
      .select(col("vec_id"), col("_best.cell").as("cell"), col("_best.d2").as("d2"))
  }

  private def refFit(corpus: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    import spark.implicits._
    var cents: Seq[(Int, Seq[Double])] = corpus.orderBy(col("vec_id")).limit(k)
      .select(expr("transform(embedding, x -> cast(x as double))")).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }
    for (_ <- 0 until iters) {
      val assigned = corpus.crossJoin(broadcast(
          cents.toDF("cell", "centroid").agg(array_sort(collect_list(struct(col("cell"), col("centroid")))).as("_cents"))))
        .withColumn("_best", array_min(transform(col("_cents"),
          c => struct(d2(col("embedding"), c.getField("centroid")).as("d2"), c.getField("cell").as("cell")))))
        .select(col("_best.cell").as("cell"), col("embedding"))
      cents = assigned.select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg(col("x").cast("double")).as("cx"))
        .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).toSeq.map { case (c, xs) => (c, xs.sortBy(_._2).map(_._3)) }.sortBy(_._1)
    }
    cents
  }

  private def refCodebooks(corpus: DataFrame, m: Int, ks: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    val seedRows = corpus.orderBy(col("vec_id")).limit(ks)
      .select(expr("transform(embedding, x -> cast(x as double))")).collect().map(_.getSeq[Double](0))
    val sub = seedRows.head.length / m
    var books: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map { j =>
      seedRows.zipWithIndex.map { case (v, c) => (c, v.slice(j * sub, (j + 1) * sub)) }.toSeq
    }
    for (_ <- 0 until iters) {
      val assigned = corpus.select(explode(array(books.zipWithIndex.map { case (book, j) =>
        val slices = slice(col("embedding"), j * sub + 1, sub)
        val best = array_min(array(book.map { case (cellId, cent) =>
          struct(d2(slices, typedlit(cent)).as("d"), lit(cellId).as("c"))
        }: _*)).getField("c")
        struct(lit(j).as("sub"), best.as("cell"), slices.as("v"))
      }: _*)).as("a"))
        .select(col("a.sub"), col("a.cell"), posexplode(col("a.v")).as(Seq("dim", "x")))
      val means = assigned.groupBy("sub", "cell", "dim").agg(avg(col("x").cast("double")).as("cx"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sortBy(_._1).map(_._2).toSeq }
      books = (0 until m).map { j =>
        means.collect { case ((s, c), cent) if s == j => (c, cent) }.toSeq.sortBy(_._1)
      }
    }
    books.map(_.map(_._2))
  }

  // ---- checks ----

  private def assertClose(got: Seq[Seq[Double]], want: Seq[Seq[Double]], what: String): Unit = {
    assert(got.map(_.length) === want.map(_.length), s"$what: shapes differ")
    got.flatten.zip(want.flatten).foreach { case (g, w) =>
      assert(math.abs(g - w) <= 1e-12, s"$what: centroid coordinate $g vs $w")
    }
  }

  private def fitCase(c: DataFrame, k: Int, iters: Int): Seq[Int] = {
    import spark.implicits._
    val fitted = KMeansDet.fit(c, k, iters)
    val got = fitted.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    val want = refFit(c, k, iters)
    assert(got.map(_._1) === want.map(_._1), "surviving cell ids differ")
    assertClose(got.map(_._2), want.map(_._2), "fit")
    val asg = KMeansDet.assign(c, fitted).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ref = refAssign(c, want.toDF("cell", "centroid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(asg === ref, "assignments differ")
    got.map(_._1)
  }

  test("fit matches the DataFrame formulation: centroids to 1e-12, identical assignments") {
    for (seed <- Seq(1, 2, 3)) {
      val c = corpus(600, seed)
      assert(fitCase(c, k = 8, iters = 3).length == 8)
      c.unpersist()
    }
    val d = corpus(300, 4, asDouble = true)
    fitCase(d, k = 5, iters = 2)
    d.unpersist()
  }

  test("a cell that wins nothing is dropped and the survivors keep their ids") {
    val c = corpus(300, 5, dupSeed = true)
    val cells = fitCase(c, k = 6, iters = 3)
    assert(!cells.contains(1), s"cell 1 should be empty: $cells")
    assert(cells.head == 0 && cells.length >= 3, s"survivors renumbered: $cells")
    c.unpersist()
  }

  test("assign gives the aggregate-and-broadcast bits from a local or a distributed table") {
    val c = corpus(300, 6)
    val cents = KMeansDet.fit(c, k = 8, iters = 2)
    def bits(t: DataFrame) = t.select("vec_id", "cell", "d2").collect()
      .map(r => (r.getLong(0), r.getInt(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    val want = bits(refAssign(c, cents))
    assert(bits(KMeansDet.assign(c, cents)) === want)
    assert(bits(KMeansDet.assign(c, cents.repartition(2))) === want)
    val none = KMeansDet.assign(c, cents.limit(0)).select("cell", "d2").collect()
    assert(none.length == 300 && none.forall(r => r.isNullAt(0) && r.isNullAt(1)),
      "an empty centroid table must give NULL cells")
    c.unpersist()
  }

  test("Pq.fitCodebooks matches its DataFrame formulation, dropped cells included") {
    for ((seed, dup) <- Seq((7, false), (8, true))) {
      val c = corpus(400, seed, dupSeed = dup)
      val got = Pq.fitCodebooks(c, m = 4, ks = 6, iters = 2)
      val want = refCodebooks(c, m = 4, ks = 6, iters = 2)
      assert(got.map(_.length) === want.map(_.length), "codebook sizes differ")
      got.zip(want).foreach { case (g, w) => assertClose(g, w, s"pq seed $seed") }
      if (dup) assert(got.forall(_.length == 5), "the duplicated seed cell must drop in every subspace")
      c.unpersist()
    }
  }

  test("fit runs iters + 1 jobs and makes no broadcast beyond its stages' task binaries") {
    val sc = spark.sparkContext
    val c = corpus(600, 9)
    c.count()
    var jobs = 0
    var stages = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages += 1
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      for ((k, iters) <- Seq((8, 3), (4, 1), (8, 5))) {
        jobs = 0; stages = 0
        // broadcast ids are sequential: every broadcast made between the two
        // probes is either a stage's task binary or one the fit made itself
        val before = sc.broadcast(0)
        KMeansDet.fit(c, k, iters).collect()
        val after = sc.broadcast(0)
        org.apache.spark.ListenerDrain(sc)
        assert(jobs == iters + 1, s"fit($k, $iters) ran $jobs jobs")
        assert(after.id - before.id - 1 == stages,
          s"fit($k, $iters) made ${after.id - before.id - 1} broadcasts for $stages stages")
        before.destroy(); after.destroy()
      }
      jobs = 0
      Pq.fitCodebooks(c, m = 4, ks = 8, iters = 2)
      org.apache.spark.ListenerDrain(sc)
      assert(jobs == 3, s"fitCodebooks(iters = 2) ran $jobs jobs")
    } finally sc.removeSparkListener(l)
    c.unpersist()
  }
}
