package graft

import graft.queries.PipeQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 ingest-pipeline pack: sequence packing, PII scrubbing,
  * bloom-prefiltered incremental dedup.
  */
class PipeSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q_pack_sequences: chunking is gapless, offsets in range, budget accounted") {
    val out = PipeQueries.defs("q_pack_sequences")(spark, sf).cache()
    // every offset strictly inside the sequence budget
    assert(out.where(col("seq_off") < 0 || col("seq_off") >= 512).count() === 0)
    // concat-then-chunk is gapless: per source, cum_before of the k-th doc
    // equals the sum of all earlier docs' tokens — so the max(cum_before +
    // n_tokens) equals the source's total token budget
    val bad = out.groupBy("source")
      .agg(sum("n_tokens").as("total"), max(col("cum_before") + col("n_tokens")).as("hi"))
      .where(col("total") =!= col("hi")).count()
    assert(bad === 0)
    // spans: a doc straddles exactly as many sequences as its token run covers
    assert(out.where(col("n_seqs_spanned") < 1).count() === 0)
    val wrongSpan = out.where(
      expr("n_seqs_spanned != ((cum_before + n_tokens - 1) DIV 512) - (cum_before DIV 512) + 1")).count()
    assert(wrongSpan === 0)
    out.unpersist()
  }

  test("q_text_scrub: crafted PII is redacted, counts match, clean text untouched") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "reach me at alice.smith+spam@corp.example.org thanks"),
      (2L, "server 192.168.1.44 and peer 10.0.0.7 are up"),
      (3L, "call +44 20 7946 0958 or +1-555-0123 now"),
      (4L, "no pii here at all")
    ).toDF("doc_id", "text")
    crafted.createOrReplaceTempView("_scrub_in")
    // the PRODUCT patterns — referencing them directly means this test
    // fails (not silently passes) if the patterns regress
    val emailPat = PipeQueries.EmailPat
    val ipPat = PipeQueries.Ipv4Pat
    val phonePat = PipeQueries.PhonePat
    val scrubbed = crafted.select(col("doc_id"),
      regexp_count(col("text"), lit(emailPat)).as("ne"),
      regexp_count(col("text"), lit(ipPat)).as("ni"),
      regexp_count(col("text"), lit(phonePat)).as("np"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit(emailPat), lit("<EMAIL>")), lit(ipPat), lit("<IP>")), lit(phonePat), lit("<PHONE>")).as("s"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(scrubbed(1L).getAs[Int]("ne") === 1)
    assert(scrubbed(1L).getAs[String]("s") === "reach me at <EMAIL> thanks")
    assert(scrubbed(2L).getAs[Int]("ni") === 2)
    assert(scrubbed(2L).getAs[String]("s") === "server <IP> and peer <IP> are up")
    assert(scrubbed(3L).getAs[Int]("np") === 2)
    assert(scrubbed(3L).getAs[String]("s") === "call <PHONE> or <PHONE> now")
    assert(scrubbed(4L).getAs[String]("s") === "no pii here at all")
    // and on the corpus: every augmented marker is scrubbed back out
    val out = PipeQueries.defs("q_text_scrub")(spark, sf)
    assert(out.where(col("doc_id") % 5 === 0 && col("n_emails") === 0).count() === 0)
    assert(out.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 0 &&
      col("doc_id") % 11 =!= 0 && col("chars_removed") =!= 0).count() === 0)
  }

  test("q_pack_sequences_sharded: gapless per (source, shard), shards genuinely split the work") {
    val out = PipeQueries.defs("q_pack_sequences_sharded")(spark, sf).cache()
    val bad = out.groupBy("source", "shard")
      .agg(sum("n_tokens").as("total"), max(col("cum_before") + col("n_tokens")).as("hi"))
      .where(col("total") =!= col("hi")).count()
    assert(bad === 0)
    // the md5 shard must actually spread documents (not collapse to one)
    assert(out.select("shard").distinct().count() === 4)
    out.unpersist()
  }

  test("q_ingest_e2e: output is deduped, quality-gated, and packed gaplessly") {
    val out = PipeQueries.defs("q_ingest_e2e")(spark, sf).cache()
    // no doc survives twice, offsets inside the budget
    assert(out.select("doc_id").distinct().count() === out.count())
    assert(out.where(col("seq_off") < 0 || col("seq_off") >= 512).count() === 0)
    // gapless packing within each source over the SURVIVING docs
    val bad = out.groupBy("source")
      .agg(sum("n_tokens").as("total"), max(col("cum_before") + col("n_tokens")).as("hi"))
      .where(col("total") =!= col("hi")).count()
    assert(bad === 0)
    // the quality gate's floor holds on everything that survived
    assert(out.where(col("n_tokens") < 10 || col("n_tokens") > 1000).count() === 0)
    out.unpersist()
  }

  test("q_dedup_bloom: exact result (no false negatives), bloom prunes the confirm join") {
    val out = PipeQueries.defs("q_dedup_bloom")(spark, sf)
    // ground truth: plain exact semi-join, no bloom anywhere
    val d = Tables.documents(spark, sf)
    val hist = d.where(col("doc_id") < 300).select(md5(col("text")).as("fp")).distinct()
    val truth = d.where(col("doc_id") >= 300)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .join(hist.withColumn("_h", lit(1)), Seq("fp"), "left")
      .select(col("doc_id"), col("_h").isNotNull.cast("int").as("dup_vs_corpus"))
    val diff = out.select("doc_id", "dup_vs_corpus").as("a")
      .join(truth.as("b"), "doc_id")
      .where(col("a.dup_vs_corpus") =!= col("b.dup_vs_corpus")).count()
    assert(diff === 0, s"$diff docs disagree with the exact semi-join")
    assert(out.count() === 200)
  }

  test("bloom_might_contain: never a false negative, fp rate bounded at sane sizing") {
    import spark.implicits._
    val members = (0L until 500L).map(i => s"doc_$i").toDF("k")
    val bf = members
      .agg(graft.expressions.bloom_filter_build(xxhash64(col("k")), 1000L, 8192L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val fn = members
      .where(!graft.expressions.bloom_might_contain(lit(bf), xxhash64(col("k")))).count()
    assert(fn === 0, "bloom filter produced a false negative")
    val probes = (0L until 2000L).map(i => s"other_$i").toDF("k")
    val fp = probes
      .where(graft.expressions.bloom_might_contain(lit(bf), xxhash64(col("k")))).count()
    assert(fp < 1000, s"false-positive rate implausibly high: $fp/2000")
  }
}
