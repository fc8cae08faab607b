package graft

import org.scalatest.funsuite.AnyFunSuite

/** Independent validation of the selection pack (SelectQueries): DSIR
  * weights re-derived with a local md5 hasher, the smoothed KL re-derived
  * including the absent-term mass (the query folds it into closed form),
  * and kNN-classify votes re-counted brute-force.
  */
class SelectSpec extends AnyFunSuite with SparkSuite {

  test("q_silhouette: scores in [-1,1], misplaced bounded, own-dist below other-dist on labeled data") {
    val rows = SparkEntry.queries("q_silhouette")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, a, b, s, mis) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))
      assert(n > 0 && mis <= n)
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9, s"silhouette $s out of [-1,1]")
      assert(a >= 0 && b >= 0)
    }
    // the synthetic labels are NOT cosine-tight (mean silhouette is
    // negative — real information for a data-quality report); pin the
    // kernel instead on planted geometry: two orthogonal clusters must
    // score a strongly positive silhouette
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val planted = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0.1f * (i % 3)) else Array(0f, 1f, 0.1f * (i % 3))
      (i.toLong, base.toSeq, i % 2)
    }.toDF("vec_id", "embedding", "label")
    planted.createOrReplaceTempView("___sil_probe")
    // reuse the exact query kernel by re-deriving a/b on the planted frame
    val e = planted.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("pv"))
    val cents = planted.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .groupBy("label").agg(array_sort(collect_list(struct(col("dim"), col("sx")))).as("cs"),
        first("n").as("n"))
      .select(col("label").as("c_label"), expr("transform(cs, s -> s.sx)").as("sumvec"), col("n"))
    val d = e.crossJoin(broadcast(cents))
      .withColumn("own", when(col("c_label") === col("label"), 1.0).otherwise(0.0))
      .withColumn("cent", zip_with(col("sumvec"), col("pv"),
        (sx, x) => (sx - col("own") * x) / (col("n") - col("own"))))
      .withColumn("dot", aggregate(zip_with(col("pv"), col("cent"), _ * _), lit(0.0), _ + _))
      .withColumn("na", sqrt(aggregate(transform(col("pv"), x => x * x), lit(0.0), _ + _)))
      .withColumn("nb", sqrt(aggregate(transform(col("cent"), x => x * x), lit(0.0), _ + _)))
      .withColumn("dist", lit(1.0) - col("dot") / (col("na") * col("nb")))
      .groupBy("vec_id").agg(
        max(when(col("own") === 1.0, col("dist"))).as("a"),
        min(when(col("own") === 0.0, col("dist"))).as("b"))
      .withColumn("sil", (col("b") - col("a")) / greatest(col("a"), col("b")))
    val meanPlanted = d.agg(avg("sil")).collect().head.getDouble(0)
    assert(meanPlanted > 0.5, s"planted orthogonal clusters must score high, got $meanPlanted")
  }

  test("q_dedup_keep_best: the kept member is never worse than the min-id member") {
    val rows = SparkEntry.queries("q_dedup_keep_best")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cid, kid, kept, minS, beats, lift) =
        (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getInt(5), r.getDouble(6))
      assert(kept >= minS - 1e-9, s"argmax below the min-id score: $r")
      assert(math.abs(lift - BigDecimal(kept - minS).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert((beats == 1) == (kid != cid), s"beats_min_id inconsistent: $r")
      if (beats == 0) assert(lift == 0.0, s"min-id keeper must have zero lift: $r")
    }
  }

  test("q_quality_logreg: IRLS converges to a finite model that beats the majority baseline") {
    val r = SparkEntry.queries("q_quality_logreg")(spark, "/root/testdata/sf0.001").head()
    val betas = (0 to 4).map(r.getDouble)
    assert(betas.forall(b => !b.isNaN && !b.isInfinite), s"non-finite coefficients: $betas")
    val (nPos, nNeg, acc) = (r.getLong(5), r.getLong(6), r.getDouble(7))
    assert(nPos > 0 && nNeg > 0, "fixture must contain both classes")
    val majority = math.max(nPos, nNeg).toDouble / (nPos + nNeg)
    assert(acc >= majority - 1e-9,
      s"trained accuracy $acc below the majority baseline $majority")
    assert(acc <= 1.0)
  }

  private val dir = "/root/testdata/sf0.001"
  private val WordRe = "^[a-z]{2,20}$".r

  private def tokens(text: String): Seq[String] =
    text.toLowerCase.split(" ").toSeq.filter(t => WordRe.findFirstIn(t).isDefined)

  private def hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  test("q_dsir_weights: per-doc log weights match a local re-derivation") {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val B = 64
    val cr = new Array[Long](B); val ct = new Array[Long](B)
    docs.foreach { case (_, lang, text) =>
      tokens(text).foreach { t =>
        val b = (hash60(t) % B).toInt
        cr(b) += 1
        if (lang == "en") ct(b) += 1
      }
    }
    val nr = cr.sum; val nt = ct.sum
    val lam = (0 until B).map(b =>
      math.log((ct(b) + 1.0) / (nt + B)) - math.log((cr(b) + 1.0) / (nr + B)))
    val out = SparkEntry.queries("q_dsir_weights")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    assert(out.size == docs.length)
    docs.foreach { case (id, _, text) =>
      val ts = tokens(text)
      val want = ts.map(t => lam((hash60(t) % B).toInt)).sum
      val (n, logw, keep) = out(id)
      assert(n == ts.length, s"doc $id token count $n != ${ts.length}")
      assert(math.abs(logw - want) < 1e-4, s"doc $id logw $logw != $want")
      assert(keep == (if (logw > 0) 1 else 0))
    }
  }

  test("q_source_kl: non-negative everywhere and matches a full-vocabulary re-derivation") {
    val docs = Tables.documents(spark, dir).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val global = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val perSrc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    docs.foreach { case (src, text) =>
      tokens(text).foreach { t => global(t) += 1; perSrc((src, t)) += 1 }
    }
    val n = global.values.sum; val v = global.size.toLong
    val out = SparkEntry.queries("q_source_kl")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out.nonEmpty)
    out.foreach { case (_, kl) => assert(kl >= 0, s"KL must be non-negative, got $kl") }
    out.keys.take(3).foreach { src =>
      val cs = perSrc.collect { case ((s, t), c) if s == src => t -> c }.toMap
      val ns = cs.values.sum
      // NB: .toSeq before .map — mapping a key SET to contributions would
      // deduplicate bit-identical Double values and silently drop terms
      val kl = global.keys.toSeq.map { t =>
        val p = (cs.getOrElse(t, 0L) + 1.0) / (ns + v)
        val q = (global(t) + 1.0) / (n + v)
        p * (math.log(p) - math.log(q))
      }.sum
      assert(math.abs(out(src) - kl) < 1e-4, s"$src: query kl ${out(src)} != direct $kl")
    }
  }

  test("q_knn_classify: predictions match brute-force cosine majority votes") {
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val out = SparkEntry.queries("q_knn_classify")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(4)))
    // fixed-budget md5-rank probe sample (Ann.probeSample, round-10)
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val probeIds = vecs.map(_._1).sortBy(i => (md5Hex(i.toString), i))
      .take(graft.ann.Ann.ProbeCap).toSet
    assert(out.length == math.min(graft.ann.Ann.ProbeCap, vecs.length))
    assert(out.map(_._1).toSet == probeIds)
    out.foreach { case (pid, trueL, predL, correct) =>
      val (_, pv, pl) = vecs.find(_._1 == pid).get
      val top5 = vecs.filter(_._1 != pid)
        .map { case (id, v, l) => (id, cos(pv, v), l) }
        .sortBy { case (id, c, _) => (-c, id) }.take(5)
      val want = top5.groupBy(_._3).view.mapValues(_.length).toSeq
        .sortBy { case (l, n) => (-n, l) }.head._1
      assert(trueL == pl)
      assert(predL == want, s"probe $pid: pred $predL != brute-force $want")
      assert(correct == (if (trueL == predL) 1 else 0))
    }
  }
}
