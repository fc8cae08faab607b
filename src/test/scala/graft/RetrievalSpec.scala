package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the retrieval/corpus-modeling pack — the oracle
  * proves engine agreement; these prove the operators MEAN what they
  * claim on real data.
  */
class RetrievalSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.01"

  test("q_retrieval_eval: metrics bounded in [0,1], MRR consistency, perfect-ranking identity") {
    val rows = SparkEntry.queries("q_retrieval_eval")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nRel, p10, mrr, ndcg, ap) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(p10 >= 0 && p10 <= 1 && mrr >= 0 && mrr <= 1, s"bounds: $r")
      assert(ndcg >= 0 && ndcg <= 1 + 1e-9 && ap >= 0 && ap <= 1 + 1e-9, s"bounds: $r")
      // a first-rank hit means mrr = 1; no hits means everything but n_rel is 0
      if (p10 == 0.0) assert(mrr == 0.0 && ndcg == 0.0 && ap == 0.0, s"no-hit consistency: $r")
      if (mrr == 1.0) assert(p10 >= 0.1, s"rank-1 hit implies >= 1 hit: $r")
      assert(nRel >= 0)
    }
    // with >= 10 relevant in-corpus and a perfect top-10, ndcg and ap are 1
    rows.filter(r => r.getLong(1) >= 10 && r.getDouble(2) == 1.0).foreach { r =>
      assert(math.abs(r.getDouble(4) - 1.0) < 1e-6 && math.abs(r.getDouble(5) - 1.0) < 1e-6,
        s"perfect ranking must score 1: $r")
    }
  }

  test("q_bm25: scores are positive, ranks are dense 1..k per query") {
    val rows = SparkEntry.queries("q_bm25")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rs) =>
      val rks = rs.map(_.getInt(1)).sorted
      assert(rks.sameElements(1 to rs.length), s"query $qid ranks not dense: ${rks.mkString(",")}")
      assert(rs.forall(_.getDouble(3) > 0), s"query $qid has non-positive BM25 score")
      // scores non-increasing in rank
      val byRk = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b }, s"query $qid scores not sorted")
    }
  }

  test("q_lm_backoff: the in-domain (en) slice scores higher than other langs") {
    val rows = SparkEntry.queries("q_lm_backoff")(spark, dir)
      .where(col("n_grams") > 0).collect()
    val (en, rest) = rows.partition(_.getString(1) == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    val enAvg = en.map(_.getDouble(3)).sum / en.length
    val restAvg = rest.map(_.getDouble(3)).sum / rest.length
    assert(enAvg > restAvg,
      s"train-domain docs should score higher: en=$enAvg vs rest=$restAvg")
  }

  test("q_nb_classify: every held-out doc is classified, posterior is finite") {
    // the driver corpus shares ONE vocabulary across langs (not unigram-
    // separable by construction), so accuracy there is a prior check only
    val rows = SparkEntry.queries("q_nb_classify")(spark, dir).collect()
    assert(rows.length == 250) // the odd half of 500 docs
    assert(rows.forall(r => !r.isNullAt(2) && !r.getDouble(3).isNaN && !r.getDouble(3).isInfinite))
  }

  test("q_nb_classify: recovers the classes on a separable corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_nbspec").toString
    // two langs with DISJOINT vocabularies: NB must get the held-out half
    // (odd ids) essentially perfect
    val aWords = Seq("alpha", "beta", "gamma", "delta")
    val bWords = Seq("omega", "sigma", "kappa", "lambda")
    val docs = (0 until 60).map { i =>
      val words = if (i % 3 == 0) bWords else aWords // lang by id mod 3
      val lang = if (i % 3 == 0) "bb" else "aa"
      val text = (0 until 20).map(j => words((i + j) % words.length)).mkString(" ")
      (i.toLong, text, lang, "s0", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q_nb_classify")(spark, tmp).collect()
    assert(rows.length == 30)
    val acc = rows.count(_.getInt(4) == 1).toDouble / rows.length
    assert(acc >= 0.95, s"NB accuracy on a separable corpus is $acc")
  }

  test("q_embed_sq8: 8-bit reconstruction is near-lossless") {
    val rows = SparkEntry.queries("q_embed_sq8")(spark, dir).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.999, s"vec ${r.getLong(0)}: cos_recon ${r.getDouble(2)} too low")
      assert(r.getInt(3) <= 255, s"vec ${r.getLong(0)}: code out of 8-bit range")
    }
  }

  test("q_corpus_zipf: slopes are negative (frequency falls with rank)") {
    val rows = SparkEntry.queries("q_corpus_zipf")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) < 0, s"source ${r.getString(0)}: non-negative Zipf slope")
    }
  }

  test("q_mp_discords: rows are the k largest profile distances per series") {
    val prof = SparkEntry.queries("q_matrix_profile")(spark, dir).collect()
      .groupBy(_.getString(0))
    val disc = SparkEntry.queries("q_mp_discords")(spark, dir).collect()
    assert(disc.nonEmpty)
    disc.groupBy(_.getString(0)).foreach { case (key, rs) =>
      assert(rs.length <= 3)
      val top = prof(key).map(r => (-r.getDouble(2), r.getInt(1))).sorted.take(rs.length)
        .map { case (d, i) => (i, -d) }
      val got = rs.sortBy(_.getInt(1)).map(r => (r.getInt(2), r.getDouble(3)))
      assert(got.sameElements(top), s"$key discords $got != expected $top")
    }
  }

  test("q_mmr_rerank: first pick is the top-relevance candidate and gains are non-increasing") {
    val out = SparkEntry.queries("q_mmr_rerank")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (qid, rows) =>
      val byRk = rows.sortBy(_._2)
      assert(byRk.map(_._2).toSeq == (1 to rows.length), s"q$qid ranks not consecutive")
      // the first selection maximizes pure relevance (max-sim term is 0)
      assert(byRk.head._4 == rows.map(_._4).max, s"q$qid first pick not top-relevance")
      // MMR gains are non-increasing down the selection order (greedy
      // invariant: adding selections only raises the diversity penalty)
      val gains = byRk.map(_._5)
      assert(gains.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-9),
        s"q$qid gains increase: $gains")
      // selections are distinct docs
      assert(rows.map(_._3).distinct.length == rows.length, s"q$qid duplicate docs")
    }
  }
}
