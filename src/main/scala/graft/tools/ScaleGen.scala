package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the SCALE.md evidence (VERDICT
  * r9 #3): replicate a driver SF directory `factor`× so the heavy
  * families (dedup, CC, BPE, ANN, streams) can be measured one decade
  * above the largest driver SF.
  *
  *   sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10"
  *
  * Replica 0 is verbatim (intrinsic duplicate clusters preserved);
  * replicas k ≥ 1 keep every distributional property that drives cost
  * (token counts, vocabulary, per-user event rates, vector norms) but
  * are NOT near-duplicates of the originals:
  *   - documents: tokens Fisher-Yates-shuffled by a SplitMix64 PRNG
  *     seeded per (doc_id, k) — same length/vocabulary, disjoint
  *     3-gram shingles, so LSH pair counts scale with the corpus
  *     instead of exploding in artificial 10-way dup cliques;
  *   - events: ids/users offset per replica (per-user rates constant);
  *   - embeddings: vector rotated k positions (norm-preserving).
  * Everything else copies verbatim.
  */
object ScaleGen {

  private def splitMix64(seed0: Long): () => Long = {
    var seed = seed0
    () => {
      seed += 0x9e3779b97f4a7c15L
      var z = seed
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  /** Deterministic per-replica text perturbation keyed by (id, k):
    * Fisher-Yates token shuffle (decorrelates ORDER-sensitive
    * fingerprints: shingles, minhash, winnowing) plus replica-salting of
    * half the token occurrences (decorrelates ORDER-INVARIANT ones:
    * simhash over the distinct-token set — without the salt, a shuffled
    * replica keeps the identical 64-bit simhash and the 10× corpus is
    * ten exact signature cliques, a generator artifact, not an operator
    * property). Token count and length distributions are preserved;
    * vocabulary grows with the corpus as a real 10× scrape's would
    * (Heaps' law). */
  private[tools] def shuffleTokens(text: String, id: Long, k: Int): String = {
    val toks = text.split(" ")
    val rnd = splitMix64(id * 1000003L + k)
    var i = toks.length - 1
    while (i > 0) {
      val j = (math.floorMod(rnd(), i + 1)).toInt
      val t = toks(i); toks(i) = toks(j); toks(j) = t
      i -= 1
    }
    var p = 0
    while (p < toks.length) {
      if ((rnd() & 1L) == 0L) toks(p) = toks(p) + k
      p += 1
    }
    toks.mkString(" ")
  }

  /** Series-cardinality mode (r12 — SURVEY §1 claims "scale axis =
    * number of series" but every prior decade multiplied events/docs/
    * vectors at a FIXED 5 event_types): replicate events only, suffixing
    * event_type per replica (replica 0 verbatim), ids offset so
    * user/event keys stay unique. The hourly grid, per-series lengths,
    * and value distributions are preserved exactly — per-series kernel
    * cost per series is constant, so total cost must be Θ(#series); a
    * superlinear exponent on this axis is a defect (the #series² pair
    * joins were pre-fixed with Tables.SeriesPairCap). Other tables copy
    * verbatim.
    *
    *   sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.01 /tmp/ser100 100 series"
    */
  private def seriesMode(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    import org.apache.spark.sql.functions._
    val off = 10000000L
    val ks = spark.range(factor).select(col("id").cast("int").as("k"))
    val ev = spark.read.parquet(s"$src/events.parquet")
    ev.crossJoin(broadcast(ks))
      .select((col("event_id") + col("k") * off).as("event_id"), col("ts"),
        (col("user_id") + col("k") * off).as("user_id"),
        when(col("k") === 0, col("event_type"))
          .otherwise(concat(col("event_type"), lit("_"), col("k"))).as("event_type"),
        col("value"), col("props"))
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")
    Seq("documents", "embeddings", "region", "nation", "customer", "supplier",
      "part", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    println(s"""{"scalegen": "$out", "factor": $factor, "mode": "series"}""")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.start()
    import spark.implicits._

    if (args.length > 3 && args(3) == "series") {
      seriesMode(spark, src, out, factor)
      spark.stop()
      return
    }

    val off = 10000000L
    def replicas(df: DataFrame): DataFrame = {
      val ks = (0 until factor).toDF("k")
      df.crossJoin(broadcast(ks))
    }

    val shuffleUdf = udf { (text: String, id: Long, k: Int) =>
      if (k == 0) text else shuffleTokens(text, id, k)
    }
    val docs = spark.read.parquet(s"$src/documents.parquet")
    replicas(docs)
      .withColumn("text", shuffleUdf(col("text"), col("doc_id"), col("k")))
      .select((col("doc_id") + col("k") * off).as("doc_id"), col("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")

    val ev = spark.read.parquet(s"$src/events.parquet")
    replicas(ev)
      .select((col("event_id") + col("k") * off).as("event_id"), col("ts"),
        (col("user_id") + col("k") * off).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")

    // rotate by k mod dim AND flip signs by a per-replica SplitMix64 mask:
    // a pure rotation is the IDENTITY at k = dim (factor 100 would plant
    // 2k exact duplicate vectors per wrapped replica pair — the same
    // generator-artifact class the r10 decade caught for simhash). The
    // sign mask is applied uniformly within a replica, so every
    // intra-replica pairwise cosine (and every norm) is preserved —
    // intrinsic near-dup structure intact — while cross-replica cosines
    // decorrelate for ANY k ≥ 1.
    val rotSignUdf = udf { (emb: Seq[Float], k: Int) =>
      if (k == 0) emb else {
        val d = emb.length
        val r = k % d
        val rot = (emb.drop(r) ++ emb.take(r)).toArray
        val rnd = splitMix64(0x5ca1eL * 1000003L + k)
        var i = 0
        while (i < d) { if ((rnd() & 1L) == 1L) rot(i) = -rot(i); i += 1 }
        rot.toSeq
      }
    }
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    replicas(emb)
      .select((col("vec_id") + col("k") * off).as("vec_id"),
        rotSignUdf(col("embedding"), col("k")).as("embedding"),
        col("label"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    println(s"""{"scalegen": "$out", "factor": $factor}""")
    spark.stop()
  }
}
