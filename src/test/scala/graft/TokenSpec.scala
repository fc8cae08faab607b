package graft

import graft.queries.TokenQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tokenizer-side pack: mixture planning, duplicated-span detection, BPE
  * merge learning.
  */
class TokenSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q_mix_weights: weights normalize, budget is conserved, temperature flattens") {
    val out = TokenQueries.defs("q_mix_weights")(spark, sf).cache()
    val agg = out.agg(sum("mix_weight").as("wsum"), sum("share").as("ssum"),
      sum("target_tokens").as("tsum"), (sum("n_tokens") * 0.5).as("budget")).head()
    assert(math.abs(agg.getDouble(0) - 1.0) < 1e-4)
    assert(math.abs(agg.getDouble(1) - 1.0) < 1e-4)
    // targets re-assemble the budget (up to per-row rounding)
    assert(math.abs(agg.getDouble(2) - agg.getDouble(3)) < 1.0)
    // T=2 temperature flattens: the upweighting ratio mix_weight/share =
    // (1/sqrt(share))/Σsqrt is strictly decreasing in share, so sorting by
    // share must sort the ratio the other way
    val ratios = out.orderBy("share").collect()
      .map(r => r.getAs[Double]("mix_weight") / r.getAs[Double]("share"))
    assert(ratios.zip(ratios.tail).forall { case (a, b) => b <= a + 1e-6 })
    assert(out.where(col("epochs") < 1).count() === 0)
    out.unpersist()
  }

  test("q_substring_dedup: crafted cross-doc duplicate span is found and merged") {
    import spark.implicits._
    val span = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 shared tokens
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta", "en", "s0", 0L),
      (2L, s"one two three four five six seven $span", "en", "s0", 0L),
      (3L, "completely unrelated words nine ten eleven twelve thirteen fourteen fifteen sixteen", "en", "s0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // the query reads $dir/documents.parquet — point it at a crafted corpus
    val dir = java.nio.file.Files.createTempDirectory("tokenspec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TokenQueries.defs("q_substring_dedup")(spark, dir).cache()
    val r1 = out.where(col("doc_id") === 1).head()
    val r2 = out.where(col("doc_id") === 2).head()
    val r3 = out.where(col("doc_id") === 3).head()
    // the 12-token shared run is one merged span of 12 tokens in both docs
    assert(r1.getAs[Long]("n_dup_spans") === 1L && r1.getAs[Long]("dup_tokens") === 12L)
    assert(r2.getAs[Long]("n_dup_spans") === 1L && r2.getAs[Long]("dup_tokens") === 12L)
    assert(r3.getAs[Long]("n_dup_spans") === 0L && r3.getAs[Long]("dup_tokens") === 0L)
    out.unpersist()
  }

  test("q_substring_dedup: randomized equivalence against a brute-force span scan") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee") // tiny vocab forces collisions
    val runs = Vector.fill(4)(Vector.fill(10)(vocab(rnd.nextInt(vocab.size))))
    val docs = (0 until 40).map { id =>
      val base = Vector.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      // plant a shared run into some docs at a random offset
      val words =
        if (rnd.nextBoolean()) {
          val r = runs(rnd.nextInt(runs.size))
          val at = rnd.nextInt(base.size + 1)
          base.take(at) ++ r ++ base.drop(at)
        } else base
      (id.toLong, words.mkString(" "), "en", "s0", 0L)
    }
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("tokenspec-rand").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TokenQueries.defs("q_substring_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_spans"), r.getAs[Long]("dup_tokens")))).toMap
    // brute force: an 8-gram at position i is a hit iff the same text
    // occurs in any OTHER doc; overlapping hits merge into maximal spans
    val words = docs.map { case (id, t, _, _, _) => id -> t.split(" ").toVector }.toMap
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, ws) <- words; i <- 0 to ws.size - 8)
      gramDocs.updateWith(ws.slice(i, i + 8).mkString(" "))(s => Some(s.getOrElse(Set.empty) + id))
    for ((id, ws) <- words) {
      val hits = (0 to ws.size - 8).filter(i => gramDocs(ws.slice(i, i + 8).mkString(" ")).size >= 2)
      var spans = List.empty[(Int, Int)]
      // merge iff the new window still overlaps the running span (the
      // query breaks when pos > cummax(prev_end)); touching-but-disjoint
      // windows start a new span
      for (p <- hits) spans = spans match {
        case (s0, e0) :: rest if p <= e0 => (s0, math.max(e0, p + 7)) :: rest
        case _ => (p, p + 7) :: spans
      }
      val expTokens = spans.map { case (s0, e0) => e0 - s0 + 1 }.sum.toLong
      assert(out(id) === ((spans.size.toLong, expTokens)),
        s"doc $id: got ${out(id)}, brute force says (${spans.size}, $expTokens)")
    }
  }

  test("q_substring_dedup: real corpus — every doc present, spans within bounds") {
    val out = TokenQueries.defs("q_substring_dedup")(spark, sf).cache()
    assert(out.count() === Tables.documents(spark, sf).count())
    assert(out.where(col("dup_tokens") > col("n_tokens") || col("dup_frac") > 1.0).count() === 0)
    assert(out.where(col("n_dup_spans") > 0 && col("dup_tokens") < 8).count() === 0)
    out.unpersist()
  }

  test("q_quality_bins: deciles complete, balanced, and score-ordered") {
    import graft.queries.LlmQueries
    val out = LlmQueries.defs("q_quality_bins")(spark, sf).cache()
    // all 10 bins present per source, populations differ by at most 1
    val bySrc = out.groupBy("source").agg(
      countDistinct("bin").as("nb"), max("n_docs").as("mx"), min("n_docs").as("mn"))
    assert(bySrc.where(col("nb") =!= 10 || col("mx") - col("mn") > 1).count() === 0)
    // deciles are ordered: bin k's floor is at or above bin k+1's ceiling
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("bin")
    val bad = out.withColumn("next_max", lead("max_score", 1).over(w))
      .where(col("next_max").isNotNull && col("min_score") < col("next_max")).count()
    assert(bad === 0)
    out.unpersist()
  }

  test("q_bpe_encode: symbol counts bounded by chars below and words above") {
    val out = TokenQueries.defs("q_bpe_encode")(spark, sf).cache()
    // every word is at least one symbol; merges can only shrink the
    // char-split, so bpe tokens sit between word count and char count
    assert(out.where(col("bpe_tokens") < col("ws_tokens")).count() === 0)
    assert(out.where(col("bpe_per_word") < 1.0 || col("chars_per_token") < 1.0).count() === 0)
    // the learned merges actually fire: strictly fewer symbols than the
    // raw char-split of the in-alphabet words would give (chars_per_token
    // > 1 means at least one multi-char symbol survived somewhere)
    assert(out.where(col("chars_per_token") <= 1.0).count() === 0)
    out.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("BPE runs dry gracefully: a tiny corpus yields fewer merges and a working cascade") {
    import spark.implicits._
    // one mergeable word: round 1 learns 'a b' -> 'ab', then no pairs remain
    val docs = Seq((1L, "ab ab zz9 ab", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("tokenspec-dry").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = TokenQueries.defs("q_bpe_learn")(spark, dir).collect()
    assert(merges.length < 8 && merges.nonEmpty) // dry rounds skipped, no crash
    assert(merges.head.getAs[String]("pair") === "a b")
    // encode under the short cascade: 'ab' is one symbol, 'zz9' stays 1
    val enc = TokenQueries.defs("q_bpe_encode")(spark, dir).head()
    assert(enc.getAs[Long]("ws_tokens") === 4L)
    assert(enc.getAs[Long]("bpe_tokens") === 4L) // 3x 'ab' fully merged + 'zz9'
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("q_bpe_learn: ranks complete, merges well-formed, argmax counts non-increasing") {
    val rows = TokenQueries.defs("q_bpe_learn")(spark, sf)
      .orderBy("merge_rank").collect()
    assert(rows.length === 8)
    assert(rows.map(_.getAs[Int]("merge_rank")).toSeq === (1 to 8))
    rows.foreach { r =>
      val pair = r.getAs[String]("pair")
      assert(pair.count(_ == ' ') === 1)
      assert(r.getAs[String]("merged") === pair.replace(" ", ""))
      assert(r.getAs[Long]("pair_count") > 0L)
    }
    // merging can only shrink or preserve the best pair count: new pairs
    // created by a merge occur at most as often as the merge itself
    val counts = rows.map(_.getAs[Long]("pair_count")).toSeq
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
    // no persisted blocks left behind by the learning loop
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
