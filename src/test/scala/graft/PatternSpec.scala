package graft

import org.scalatest.funsuite.AnyFunSuite

/** Independent validation of the pattern-mining pack (PatternQueries):
  * association-rule probability identities re-derived brute-force from the
  * raw basket sets, SAX alphabet/shape invariants, and RAKE phrases checked
  * against the stopword contract and a brute-force best-phrase recompute.
  */
class PatternSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_assoc_rules: support/confidence/lift match a brute-force basket recount") {
    import org.apache.spark.sql.functions._
    val baskets = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"), col("event_type"))
      .distinct().collect()
      .groupBy(r => (r.getLong(0), r.get(1)))
      .map { case (_, rs) => rs.map(_.getString(2)).toSet }.toSeq
    val nb = baskets.size.toDouble
    val out = SparkEntry.queries("q_assoc_rules")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, c) = (r.getString(0), r.getString(1))
      val pairN = baskets.count(b => b(a) && b(c))
      val nA = baskets.count(_(a))
      val nC = baskets.count(_(c))
      assert(r.getLong(2) == pairN, s"$a->$c pair count")
      assert(math.abs(r.getDouble(3) - pairN / nb) < 1e-5, s"$a->$c support")
      assert(math.abs(r.getDouble(4) - pairN.toDouble / nA) < 1e-5, s"$a->$c confidence")
      assert(math.abs(r.getDouble(5) - nb * pairN / (nA.toDouble * nC)) < 1e-5, s"$a->$c lift")
      assert(r.getDouble(4) <= 1.0 + 1e-9 && r.getDouble(3) <= r.getDouble(4) + 1e-9)
    }
  }

  test("q_sax_words: words are 4 letters over {a,b,c,d}, ranks consecutive, counts non-increasing") {
    val out = SparkEntry.queries("q_sax_words")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, _, w, n) =>
      assert(w.length == 4 && w.forall(c => c >= 'a' && c <= 'd'), s"bad SAX word $w")
      assert(n >= 1)
    }
    out.groupBy(_._1).foreach { case (et, rows) =>
      val byRk = rows.sortBy(_._2)
      assert(byRk.map(_._2).toSeq == (1 to rows.length), s"$et ranks not consecutive")
      assert(byRk.map(_._4).toSeq.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"$et counts increase down the ranking")
    }
  }

  test("q_rake_keywords: phrase is a stopword-free contiguous run of its doc and scores the corpus-best") {
    val stops = graft.text.TextFunctions.LangProfiles.toMap.apply("en").toSet
    val texts = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSeq).toMap
    // brute-force corpus word stats: freq + degree over stopword-split runs
    val allPhrases = texts.toSeq.flatMap { case (doc, ws) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
      var cur = Vector.empty[String]
      ws.filter(_.matches("^[a-z]+$")).foreach { w =>
        if (stops(w)) { if (cur.nonEmpty) runs += cur; cur = Vector.empty }
        else cur = cur :+ w
      }
      if (cur.nonEmpty) runs += cur
      runs.map(doc -> _)
    }
    val freq = allPhrases.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.size }
    val degree = allPhrases.flatMap { case (_, p) => p.map(_ -> p.size) }
      .groupBy(_._1).map { case (w, o) => w -> o.map(_._2).sum }
    def iscore(w: String): Long = math.round(degree(w) * 1e6 / freq(w))
    val out = SparkEntry.queries("q_rake_keywords")(spark, dir).collect()
    assert(out.length == texts.size)
    out.foreach { r =>
      val (doc, phrase) = (r.getLong(0), r.getString(1))
      val words = phrase.split(" ").toSeq
      assert(words.forall(w => !stops(w)), s"doc $doc phrase contains a stopword")
      assert(texts(doc).containsSlice(words), s"doc $doc phrase not contiguous in text")
      val bestScore = allPhrases.filter(_._1 == doc).map(_._2.map(iscore).sum).max
      assert(math.abs(r.getDouble(3) - bestScore / 1e6) < 1e-5,
        s"doc $doc emitted score != brute-force best")
    }
  }

  test("Burst.detect: a planted dense stretch inside a uniform stream is the burst") {
    // uniform arrivals every 60 s, with a 50-event stretch at 2 s spacing
    val tus = scala.collection.mutable.ArrayBuffer.empty[Long]
    var t = 0L
    for (_ <- 1 to 200) { tus += t; t += 60000000L }
    for (_ <- 1 to 50) { tus += t; t += 2000000L }
    for (_ <- 1 to 200) { tus += t; t += 60000000L }
    val bursts = graft.detectors.Burst.detect(tus.toSeq)
    assert(bursts.nonEmpty, "no burst found")
    val main = bursts.maxBy(_._4)
    val burstStart = tus(200) / 1000000L
    val burstEnd = tus(250) / 1000000L
    assert(math.abs(main._2 - burstStart) <= 120 && math.abs(main._3 - burstEnd) <= 120,
      s"burst [${main._2}, ${main._3}] vs planted [$burstStart, $burstEnd]")
    // a perfectly uniform stream yields no bursts
    val uniform = (0 until 300).map(i => i * 60000000L)
    assert(graft.detectors.Burst.detect(uniform).isEmpty)
  }
}
