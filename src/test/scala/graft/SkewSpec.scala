package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew salting for LSH band joins: on an adversarial hot-bucket corpus
  * (many byte-identical docs — every copy collides in EVERY band), the
  * salted pair join must produce the identical pair set while bounding
  * the per-join-key candidate count, i.e. the work one task can be
  * handed.
  */
class SkewSpec extends AnyFunSuite with SparkSuite {

  /** 80 byte-identical docs (the hot bucket) + 40 distinct docs. */
  private lazy val hotCorpus = {
    import spark.implicits._
    val hot = (0 until 80).map(i => (i.toLong, "the same document body repeated verbatim across the corpus many times over"))
    val cold = (0 until 40).map(i => (1000L + i, s"unique document number $i with its own words entirely qq$i ww$i ee$i rr$i tt$i yy$i uu$i ii$i"))
    (hot ++ cold).toDF("doc_id", "text")
  }

  test("salted minhash LSH pairs equal the unsalted pair set") {
    val unsalted = Dedup.minhashLshPairs(hotCorpus, numPerms = 32, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Dedup.minhashLshPairs(hotCorpus, numPerms = 32, bands = 8, salt = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(unsalted.nonEmpty)
    assert(salted === unsalted)
    // the hot 80 identical docs must all pair up
    assert(unsalted.count { case (i, j, _) => i < 1000 && j < 1000 } === 80 * 79 / 2)
  }

  test("salting bounds the per-join-key candidate count on the hot bucket") {
    val sig = Dedup.minhashSignatures(hotCorpus, numPerms = 32)
    val (banded, bKeys) = Dedup.bandedSignatures(sig, numPerms = 32, bands = 8, id = "doc_id")

    def maxKeyLoad(salt: Int): (Long, Long) = {
      val keys = if (salt <= 1) bKeys else bKeys :+ "_sg"
      val loads = Dedup.saltedPairJoin(banded, bKeys, "doc_id", salt)
        .groupBy(keys.map(col): _*).count()
        .agg(max("count").as("mx"), sum("count").as("tot")).head()
      (loads.getLong(0), loads.getLong(1))
    }

    val (maxUnsalted, totUnsalted) = maxKeyLoad(1)
    val (maxSalted, totSalted) = maxKeyLoad(4)
    // identical total pair multiset size (each unordered pair meets once
    // per colliding band either way) ...
    assert(totSalted === totUnsalted)
    // ... but the hottest key's load — the work one task gets — drops ~4×
    assert(maxUnsalted === 80L * 79 / 2, "the hot bucket concentrates all pairs on one key unsalted")
    assert(maxSalted <= maxUnsalted / 2,
      s"salting should split the hot key: maxSalted=$maxSalted maxUnsalted=$maxUnsalted")
  }

  test("salted hyperplane-LSH near-dup pairs equal the unsalted pair set") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val unsalted = graft.ann.Ann.lshNearDupPairs(embs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = graft.ann.Ann.lshNearDupPairs(embs, threshold = 0.9, salt = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === unsalted)
  }

  test("q_dedup_eval: planted-clone recall is high at the operating threshold and non-increasing") {
    val rows = SparkEntry.queries("q_dedup_eval")(spark, "/root/testdata/sf0.001").collect()
      .sortBy(_.getDouble(0))
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.3, 0.5, 0.7))
    val planted = rows.head.getLong(1)
    assert(planted > 0)
    rows.foreach(r => assert(r.getLong(1) == planted))
    val recalls = rows.map(_.getDouble(3))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b },
      "recall must be non-increasing in threshold")
    assert(recalls.head > 0.5, s"LSH misses most planted clones: recall ${recalls.head}")
  }
}
