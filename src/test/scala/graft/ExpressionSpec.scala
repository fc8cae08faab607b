package graft

import graft.expressions.{ewma_array, EwmaArray}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExpressionSpec extends AnyFunSuite with SparkSuite {

  /** Reference adjusted EWMA (pandas ewm(adjust=True).mean()). */
  private def refEwma(xs: Array[Double], alpha: Double): Array[Double] = {
    val b = 1.0 - alpha
    xs.indices.map { t =>
      val w = (0 to t).map(j => math.pow(b, j))
      (0 to t).map(j => w(j) * xs(t - j)).sum / w.sum
    }.toArray
  }

  test("EwmaArray interpreted eval matches the reference recursion") {
    val xs = Array(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    val expr = EwmaArray(Literal.create(xs, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)), 0.2)
    val got = expr.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    val want = refEwma(xs, 0.2)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12, s"$g vs $w") }
  }

  test("EwmaArray doGenCode compiles (no janino fallback) and matches nullSafeEval") {
    // GenerateUnsafeProjection has no interpreted fallback: a bad FQCN in the
    // generated source throws here instead of silently degrading the stage.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val xs = Array.tabulate(64)(i => math.cos(i * 0.7) * 5 + 0.3 * i)
    val expr = EwmaArray(Literal.create(xs, ArrayType(DoubleType)), 0.35)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val got = proj(InternalRow.empty).getArray(0).toDoubleArray()
    val want = expr.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w, s"$g vs $w") }
  }

  test("ewma_array Column runs through codegen and matches reference") {
    import spark.implicits._
    val xs = Array.tabulate(100)(i => math.sin(i * 0.3) * 10 + i * 0.1)
    val df = Seq(Tuple1(xs.toSeq)).toDF("xs").select(ewma_array(col("xs"), 0.35).as("y"))
    val got = df.collect()(0).getSeq[Double](0).toArray
    val want = refEwma(xs, 0.35)
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9, s"$g vs $w") }
  }

  test("ewma_array constant series is identity") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq.fill(20)(7.5))).toDF("xs").select(ewma_array(col("xs"), 0.5).as("y"))
    assert(df.collect()(0).getSeq[Double](0).forall(v => math.abs(v - 7.5) < 1e-12))
  }

  test("ewma_array is registered as a SQL function via GraftExtensions") {
    // a new session gets only what the installed extension injects, never
    // the lazy post-hoc registration earlier tests may have triggered here
    val fresh = spark.newSession()
    assert(fresh.catalog.functionExists("ewma_array"), "GraftSession did not install GraftExtensions")
    val got = fresh.sql("SELECT ewma_array(array(1.0d, 2.0d, 3.0d), 0.5) AS y")
      .collect()(0).getSeq[Double](0).toArray
    val want = refEwma(Array(1.0, 2.0, 3.0), 0.5)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
  }

  test("TS.ewma end-to-end with the native expression matches per-point reference") {
    import spark.implicits._
    val s = TSSchema(Seq("k"), "ts", "value")
    val xs = Array(1.0, 5.0, 2.0, 8.0, 3.0)
    val df = xs.zipWithIndex.map { case (v, i) => ("a", java.sql.Timestamp.valueOf(f"2024-01-01 0$i:00:00"), v) }
      .toSeq.toDF("k", "ts", "value")
    val out = TS.ewma(df, s, 0.2).orderBy("ts").collect().map(_.getAs[Double]("ewma"))
    val want = refEwma(xs, 0.2).map(v => math.rint(v * 1e6) / 1e6)
    out.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9, s"$g vs $w") }
  }

  test("dup_bigram_frac equals the HOF gram composition and handles edge cases") {
    import spark.implicits._
    val docs = Seq(
      "a b a b a b",            // grams: ab ba ab ba ab -> 3 dups / 5
      "x",                      // < 2 words -> 0.0
      "w1 w2 w3 w4",            // all distinct -> 0.0
      "r r r r r"               // all identical -> 4 grams, 3 dups -> 0.75
    ).toDF("text").withColumn("_ws", split(col("text"), " "))
    val hof = expr("CASE WHEN size(_ws) >= 2 THEN " +
      "1.0 - size(array_distinct(transform(sequence(0, size(_ws) - 2), i -> " +
      "array_join(slice(_ws, i + 1, 2), ' ')))) / CAST(size(_ws) - 1 AS DOUBLE) ELSE 0.0 END")
    val rows = docs
      .withColumn("fast", graft.expressions.dup_bigram_frac(col("_ws")))
      .withColumn("ref", hof)
      .collect()
    rows.foreach(r => assert(r.getAs[Double]("fast") === r.getAs[Double]("ref"),
      s"mismatch on '${r.getAs[String]("text")}'"))
    assert(rows.map(_.getAs[Double]("fast")).toSeq === Seq(0.6, 0.0, 0.0, 0.75))
  }

  test("dup_bigram_frac is registered as a SQL function") {
    import spark.implicits._
    val out = Seq("p q p q").toDF("text")
      .selectExpr("dup_bigram_frac(split(text, ' ')) AS f").head().getDouble(0)
    assert(math.abs(out - 1.0 / 3.0) < 1e-15)
  }

  test("hash60 equals the md5-hex/conv SQL composition on arbitrary strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val strs = Seq("", "a", "the quick brown fox", "naïve café — 中文 テスト",
      "w1 w2 w3") ++ Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
    val rows = strs.toDF("s")
      .select(col("s"),
        expr("hash60(s)").as("fast"),
        expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS LONG)").as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"mismatch on '${r.getString(0)}'"))
  }

  test("lsh_band_buckets is bit-identical to the per-plane HOF projections") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vecs = Seq.fill(50)(Array.fill(64)(rnd.nextFloat() * 2 - 1)).map(_.toSeq)
    val df = vecs.toDF("embedding")
    val bands = 8; val rows = 4
    // reference: the original per-plane fold (Ann.planeProjection signs)
    val refCols = (0 until bands).map { b =>
      (0 until rows).map { r =>
        val plane = b * rows + r
        when(graft.ann.Ann.planeProjection(col("embedding"), plane) >= 0, lit(1L << r))
          .otherwise(lit(0L))
      }.reduce(_ + _).as(s"ref$b")
    }
    val got = df
      .withColumn("fast", graft.expressions.lsh_band_buckets(col("embedding"), bands, rows))
      .select((col("fast") +: refCols): _*)
      .collect()
    got.foreach { row =>
      val fast = row.getSeq[Long](0)
      (0 until bands).foreach(b => assert(fast(b) === row.getLong(1 + b)))
    }
  }

  test("minhash_signature is identical to the per-perm HOF minima") {
    import spark.implicits._
    import graft.text.TextFunctions
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "one two three four five six seven",
      "a b c" // exactly one 3-shingle
    ).toDF("text")
      .withColumn("_hs", transform(TextFunctions.shingles(col("text"), 3),
        s => TextFunctions.hash31(s)))
    val numPerms = 16
    val refCols = TextFunctions.permParams(numPerms).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("_hs"), h => (h * a + b) % TextFunctions.MinHashPrime)).as(s"ref$i")
    }
    val got = docs
      .withColumn("fast", graft.expressions.minhash_signature(col("_hs"), numPerms))
      .select((col("fast") +: refCols): _*)
      .collect()
    got.foreach { row =>
      val fast = row.getSeq[Long](0)
      (0 until numPerms).foreach(i => assert(fast(i) === row.getLong(1 + i)))
    }
    // empty shingle array -> NULL signature (callers filter size > 0)
    val empty = Seq(Seq.empty[Long]).toDF("_hs")
      .select(graft.expressions.minhash_signature(col("_hs"), numPerms).as("sig"))
      .head()
    assert(empty.isNullAt(0))
  }

  test("bpe_token_count applies the cascade exactly like the SQL replace chain") {
    import spark.implicits._
    val merges = Seq("l l", "ll o") // ll then llo
    val rows = Seq(
      "hello yellow llll x zz9 ok", // hello->h e llo (3), yellow->y e llo w (4);
                                    // llll-> "l l l l" merges ONCE to "ll l l" (3):
                                    // replace never rescans emitted text, and the
                                    // remainder "l l " has no leading anchor space;
                                    // x->1 (short), zz9->1 (digit), ok->o k (2)
      "" // empty text -> split gives [""] -> 1
    ).toDF("text")
      .select(graft.expressions.bpe_token_count(split(lower(col("text")), " "), merges).as("n"))
      .collect()
    assert(rows(0).getLong(0) === (3 + 4 + 3 + 1 + 1 + 2))
    assert(rows(1).getLong(0) === 1L)
  }
}
