package graft.queries

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pattern-mining operators over the event stream and the corpus:
  *
  *  - association rules (Agrawal & Srikant 1994, the market-basket
  *    classic): support/confidence/lift over per-(user, day) event-type
  *    baskets — the "users who error also churn" reading of an event
  *    stream;
  *  - SAX symbolization (Lin et al. 2003 "A Symbolic Representation of
  *    Time Series"): z-normalize → PAA → Gaussian-breakpoint alphabet,
  *    then the most frequent SAX words per series (motif counting — the
  *    discrete complement of the matrix profile's distance motifs);
  *  - RAKE keyword extraction (Rose et al. 2010): stopword-delimited
  *    candidate phrases scored by the degree/frequency word statistic —
  *    a corpus-level keyword surface beside TF-IDF's smooth-idf one.
  *
  * Engine-agreement discipline: every ranking statistic in this pack is
  * carried as a SCALED BIGINT (z·1e6 sums for PAA, 1e6·degree/freq word
  * scores) so the aggregations that feed a discrete decision (symbol
  * choice, top-k order) are exact integer sums — no float-summation-order
  * divergence can flip a symbol or a rank between Spark and the oracle.
  */
object PatternQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private val H = Tables.hourlySql

  /** Association-rule thresholds: min basket support of the PAIR. */
  private val MinSupport = 0.05

  /** SAX: points per PAA segment, word length (in segments), alphabet
    * breakpoints for a=4 (standard normal quartiles). */
  private val PaaW = 4
  private val SaxWord = 4
  private val Bp = 0.6744897501960817 // norm.ppf(0.75)

  /** RAKE stopword delimiters (the en profile of the language-ID table —
    * one shared list, not a fork). */
  private val RakeStops = graft.text.TextFunctions.LangProfiles.toMap.apply("en")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── Association rules over per-(user, day) event-type baskets:
    // basket = the set of event types a user produced that day; rules
    // A→B emitted in both directions with support/confidence/lift at
    // min pair support 5%. Shape: one distinct aggregation to baskets
    // (events-keyed shuffle), then a self-join on the basket key whose
    // per-basket cost is C(k,2) with k ≤ |event-type vocabulary| — never
    // corpus-quadratic; item counts are a vocabulary-sized broadcast.
    // lift = nb·pair/(n_a·n_b) stays an exact integer ratio until one
    // final division, so both engines agree bit-for-bit. ──
    "q_assoc_rules" -> ((s, dir) => {
      val b = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("d"), col("event_type"))
        .distinct()
      val nb = b.select("user_id", "d").distinct().agg(count(lit(1)).as("nb"))
      val item = b.groupBy("event_type").agg(count(lit(1)).as("n_item"))
      val l = b.select(col("user_id"), col("d"), col("event_type").as("ante"))
      val r = b.select(col("user_id"), col("d"), col("event_type").as("cons"))
      val pairs = l.join(r, Seq("user_id", "d")).where(col("ante") =!= col("cons"))
        .groupBy("ante", "cons").agg(count(lit(1)).as("pair_n"))
      val out = pairs
        .join(broadcast(item.select(col("event_type").as("ante"), col("n_item").as("n_a"))), Seq("ante"))
        .join(broadcast(item.select(col("event_type").as("cons"), col("n_item").as("n_c"))), Seq("cons"))
        .crossJoin(broadcast(nb))
        .withColumn("support", round(col("pair_n").cast("double") / col("nb"), 6))
        .withColumn("confidence", round(col("pair_n").cast("double") / col("n_a"), 6))
        .withColumn("lift", round((col("nb") * col("pair_n")).cast("double") / (col("n_a") * col("n_c")), 6))
      out.where(col("support") >= MinSupport)
        .select("ante", "cons", "pair_n", "support", "confidence", "lift")
    }),

    // ── SAX motif words: per series, z-normalize the dense hourly grid,
    // PAA-average 4-point segments, map to the 4-letter Gaussian alphabet,
    // slide a 4-segment word, count and keep the top-3 words. The symbol
    // decision compares an EXACT BIGINT sum of 1e6-scaled z values against
    // the 4e6-scaled breakpoints, so no engine can flip a letter; ranking
    // is (count desc, word asc) — total and integer. One series-keyed
    // shuffle end to end; the top-3 window compiles to WindowGroupLimit. ──
    "q_sax_words" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
      val wo = Window.partitionBy("event_type").orderBy("ts")
      val z = Tables.denseHourly(s, dir)
        .withColumn("mu", avg("value").over(w))
        .withColumn("sd", stddev_pop("value").over(w))
        .withColumn("zi", round(round((col("value") - col("mu")) / col("sd"), 6) * 1e6).cast("long"))
        .withColumn("rn", row_number().over(wo))
        .withColumn("seg", ((col("rn") - 1) / PaaW).cast("long"))
      val segs = z.groupBy("event_type", "seg")
        .agg(sum("zi").as("s4"), count(lit(1)).as("npts"))
        .where(col("npts") === PaaW)
        .withColumn("sym",
          when(col("s4") < -Bp * PaaW * 1e6, "a")
            .when(col("s4") < 0, "b")
            .when(col("s4") < Bp * PaaW * 1e6, "c")
            .otherwise("d"))
      val ws = Window.partitionBy("event_type").orderBy("seg")
      val words = segs
        .withColumn("word", concat(col("sym"), lead("sym", 1).over(ws),
          lead("sym", 2).over(ws), lead("sym", 3).over(ws)))
        .where(col("word").isNotNull)
        .groupBy("event_type", "word").agg(count(lit(1)).as("cnt"))
      val rk = Window.partitionBy("event_type").orderBy(col("cnt").desc, col("word").asc)
      words.withColumn("rk", row_number().over(rk)).where(col("rk") <= 3)
        .select("event_type", "rk", "word", "cnt")
    }),

    // ── RAKE keywords: candidate phrases are maximal stopword-free token
    // runs (gaps-and-islands on token positions); word score =
    // degree/frequency over the whole corpus (degree counts the length of
    // every phrase occurrence containing the word); a phrase scores the
    // sum of its members' scores and each doc keeps its best phrase.
    // Word scores are snapped to 1e6-scaled BIGINTs before the phrase sum,
    // so the per-phrase total — and therefore the per-doc argmax — is
    // exact integer math in both engines. One (doc, token) shuffle, a
    // vocabulary-sized stats join, and a per-doc WindowGroupLimit. ──
    "q_rake_keywords" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
        .where(col("tok").rlike("^[a-z]+$"))
      val nonstop = toks.where(!col("tok").isin(RakeStops: _*))
      val wo = Window.partitionBy("doc_id").orderBy("pos")
      val isl = nonstop.withColumn("island", col("pos") - row_number().over(wo))
      val phrases = isl.groupBy("doc_id", "island")
        .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("_m"))
        .withColumn("plen", size(col("_m")))
        .withColumn("phrase", concat_ws(" ", col("_m.tok")))
      val occ = phrases.select(col("doc_id"), col("island"), col("plen"), explode(col("_m.tok")).as("tok"))
      val wstats = occ.groupBy("tok")
        .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
        .withColumn("iscore", round(col("degree") * lit(1e6) / col("freq")).cast("long"))
      val scored = occ.join(wstats.select("tok", "iscore"), Seq("tok"))
        .groupBy("doc_id", "island").agg(sum("iscore").as("pscore"))
      val best = phrases.select("doc_id", "island", "phrase", "plen")
        .join(scored, Seq("doc_id", "island"))
      val rk = Window.partitionBy("doc_id").orderBy(col("pscore").desc, col("phrase").asc)
      best.withColumn("rk", row_number().over(rk)).where(col("rk") === 1)
        .select(col("doc_id"), col("phrase"), col("plen"),
          round(col("pscore") / 1e6, 6).as("score"))
    }),

    // ── Kleinberg burst detection (detectors/Burst.scala) over the RAW
    // per-type event stream (microsecond gaps, not the hourly resample):
    // the minimum-cost 2-state automaton path marks bursty stretches.
    // Rides the one-series-per-row reduction — one keyed shuffle, the
    // O(n) Viterbi runs once per collected series; the oracle replays
    // the DP with backpointer lists and a pointer-walk backtrack (the
    // q_hmm_regimes machinery on inter-arrival gaps). ──
    "q_burst_kleinberg" -> ((s, dir) => {
      // Array[Long], not Seq[Long]: under a Generate the Seq deserializer
      // re-boxes the 20k-element array per OUTPUT row (measured 10.4 s at
      // sf0.1); the primitive-array binding is a flat copy (0.3 s)
      val fn = udf { tus: Array[Long] => graft.detectors.Burst.detect(tus) }
      Tables.events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("tus"))
        .groupBy("event_type")
        .agg(sort_array(collect_list("tus")).as("tuss"))
        .withColumn("_b", explode(fn(col("tuss"))))
        .select(col("event_type"), col("_b._1").as("burst_no"), col("_b._2").as("start_ts"),
          col("_b._3").as("end_ts"), col("_b._4").as("n_gaps"))
    })
  )

  private val stopList = RakeStops.map(t => s"'$t'").mkString(", ")

  val sql: Map[String, String] = Map(

    "q_assoc_rules" ->
      s"""WITH b AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d, event_type FROM events),
         |nb AS (SELECT count(*) AS nb FROM (SELECT DISTINCT user_id, d FROM b)),
         |item AS (SELECT event_type, count(*) AS n_item FROM b GROUP BY 1),
         |pairs AS (SELECT l.event_type AS ante, r.event_type AS cons, count(*) AS pair_n
         |          FROM b l JOIN b r ON l.user_id = r.user_id AND l.d = r.d
         |          WHERE l.event_type <> r.event_type GROUP BY 1, 2)
         |SELECT p.ante, p.cons, p.pair_n,
         |  round(p.pair_n::DOUBLE / nb.nb, 6) AS support,
         |  round(p.pair_n::DOUBLE / ia.n_item, 6) AS confidence,
         |  round((nb.nb * p.pair_n)::DOUBLE / (ia.n_item * ic.n_item), 6) AS lift
         |FROM pairs p
         |JOIN item ia ON ia.event_type = p.ante
         |JOIN item ic ON ic.event_type = p.cons
         |CROSS JOIN nb
         |WHERE round(p.pair_n::DOUBLE / nb.nb, 6) >= $MinSupport""".stripMargin,

    "q_sax_words" ->
      s"""WITH hourly AS ($H),
         |${Tables.denseHourlySql},
         |st AS (SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd FROM dense GROUP BY 1),
         |z AS (SELECT d.event_type,
         |        round(round((d.value - st.mu) / st.sd, 6) * 1e6)::BIGINT AS zi,
         |        (row_number() OVER (PARTITION BY d.event_type ORDER BY d.ts) - 1) // $PaaW AS seg
         |      FROM dense d JOIN st ON d.event_type = st.event_type),
         |segs AS (SELECT event_type, seg, sum(zi) AS s4, count(*) AS npts
         |         FROM z GROUP BY 1, 2),
         |syms AS (SELECT event_type, seg,
         |           CASE WHEN s4 < -$Bp * $PaaW * 1e6 THEN 'a'
         |                WHEN s4 < 0 THEN 'b'
         |                WHEN s4 < $Bp * $PaaW * 1e6 THEN 'c'
         |                ELSE 'd' END AS sym
         |         FROM segs WHERE npts = $PaaW),
         |words AS (SELECT event_type,
         |            sym || lead(sym, 1) OVER w || lead(sym, 2) OVER w || lead(sym, 3) OVER w AS word
         |          FROM syms WINDOW w AS (PARTITION BY event_type ORDER BY seg)),
         |cnts AS (SELECT event_type, word, count(*) AS cnt FROM words
         |         WHERE word IS NOT NULL GROUP BY 1, 2),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, word ASC) AS rk
         |       FROM cnts)
         |SELECT event_type, rk, word, cnt FROM rk WHERE rk <= 3""".stripMargin,

    "q_rake_keywords" ->
      s"""WITH toks AS (
         |  SELECT doc_id, i - 1 AS pos, ws[i] AS tok
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents))),
         |ok AS (SELECT doc_id, pos, tok FROM toks WHERE regexp_matches(tok, '^[a-z]+$$')),
         |ns AS (SELECT doc_id, pos, tok,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |       FROM ok WHERE tok NOT IN ($stopList)),
         |phrases AS (SELECT doc_id, island, count(*) AS plen,
         |              string_agg(tok, ' ' ORDER BY pos) AS phrase
         |            FROM ns GROUP BY 1, 2),
         |wstats AS (SELECT n.tok, count(*) AS freq, sum(p.plen) AS degree
         |           FROM ns n JOIN phrases p ON n.doc_id = p.doc_id AND n.island = p.island
         |           GROUP BY 1),
         |ws AS (SELECT tok, round(degree * 1e6 / freq)::BIGINT AS iscore FROM wstats),
         |scored AS (SELECT n.doc_id, n.island, sum(ws.iscore) AS pscore
         |           FROM ns n JOIN ws ON n.tok = ws.tok GROUP BY 1, 2),
         |best AS (SELECT p.doc_id, p.phrase, p.plen, s.pscore,
         |           row_number() OVER (PARTITION BY p.doc_id ORDER BY s.pscore DESC, p.phrase ASC) AS rk
         |         FROM phrases p JOIN scored s ON p.doc_id = s.doc_id AND p.island = s.island)
         |SELECT doc_id, phrase, plen, round(pscore / 1e6, 6) AS score
         |FROM best WHERE rk = 1""".stripMargin,

    "q_burst_kleinberg" -> {
      val s2 = graft.detectors.Burst.S
      val g = graft.detectors.Burst.Gamma
      s"""WITH RECURSIVE
         |ord AS (SELECT event_type, epoch_us(ts) AS tus,
         |          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         |          count(*) OVER (PARTITION BY event_type) AS ne
         |        FROM events),
         |gaps AS (SELECT event_type, rn - 1 AS t,
         |           (tus - lag(tus) OVER (PARTITION BY event_type ORDER BY rn)) / 1e6 AS x
         |         FROM ord),
         |par AS (SELECT event_type, max(ne) - 1 AS n,
         |          (max(ne) - 1) / ((max(tus) - min(tus)) / 1e6) AS a0,
         |          $s2 * ((max(ne) - 1) / ((max(tus) - min(tus)) / 1e6)) AS a1,
         |          round($g * ln((max(ne) - 1)::DOUBLE), 6) AS tau
         |        FROM ord GROUP BY 1 HAVING max(ne) - 1 >= 2 AND max(tus) > min(tus)),
         |dp AS (
         |  SELECT p.event_type, 1 AS t,
         |    round(p.a0 * g.x - ln(p.a0), 6) AS v0,
         |    p.tau + round(p.a1 * g.x - ln(p.a1), 6) AS v1,
         |    [0] AS b0, [1] AS b1, p.n, p.a0, p.a1, p.tau
         |  FROM par p JOIN gaps g ON g.event_type = p.event_type AND g.t = 1
         |  UNION ALL
         |  SELECT d.event_type, d.t + 1,
         |    (CASE WHEN d.v0 <= d.v1 THEN d.v0 ELSE d.v1 END) + round(d.a0 * g.x - ln(d.a0), 6),
         |    (CASE WHEN d.v1 <= d.v0 + d.tau THEN d.v1 ELSE d.v0 + d.tau END) + round(d.a1 * g.x - ln(d.a1), 6),
         |    list_append(d.b0, CASE WHEN d.v0 <= d.v1 THEN 0 ELSE 1 END),
         |    list_append(d.b1, CASE WHEN d.v1 <= d.v0 + d.tau THEN 1 ELSE 0 END),
         |    d.n, d.a0, d.a1, d.tau
         |  FROM dp d JOIN gaps g ON g.event_type = d.event_type AND g.t = d.t + 1
         |  WHERE d.t < d.n),
         |fin AS (SELECT event_type, CASE WHEN v0 <= v1 THEN 0 ELSE 1 END AS st, b0, b1,
         |          CAST(n AS INTEGER) AS n
         |        FROM dp WHERE t = n),
         |bt AS (
         |  SELECT event_type, n AS t, st, b0, b1 FROM fin
         |  UNION ALL
         |  SELECT event_type, t - 1, CASE WHEN st = 0 THEN b0[t] ELSE b1[t] END, b0, b1
         |  FROM bt WHERE t > 1),
         |isl AS (SELECT event_type, t,
         |          t - row_number() OVER (PARTITION BY event_type ORDER BY t) AS grp
         |        FROM bt WHERE st = 1),
         |segs AS (SELECT event_type, min(t) AS t0, max(t) AS t1, count(*)::INT AS n_gaps
         |         FROM isl GROUP BY event_type, grp)
         |SELECT s.event_type,
         |  row_number() OVER (PARTITION BY s.event_type ORDER BY s.t0)::INT AS burst_no,
         |  oa.tus // 1000000 AS start_ts, ob.tus // 1000000 AS end_ts, s.n_gaps
         |FROM segs s
         |JOIN ord oa ON oa.event_type = s.event_type AND oa.rn = s.t0
         |JOIN ord ob ON ob.event_type = s.event_type AND ob.rn = s.t1 + 1""".stripMargin
    }
  )
}
