package graft.queries

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus/series pattern-mining operators:
  *
  *  - TF-IDF keyword extraction (the classic sklearn smooth-idf flavor) —
  *    the per-doc salient-term surface a data pipeline uses for topic
  *    tagging and near-dup triage;
  *  - SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  *    web-scale through semantic deduplication"): k-means cells bound the
  *    pairwise-cosine dup check, so the pair join is within-cell only;
  *  - the Matrix Profile (Yeh et al. 2016 "Matrix Profile I"; the STOMP
  *    z-normalized-distance formulation of Zhu et al. 2016): per-window
  *    nearest-neighbor distances that make motifs (small MP) and discords
  *    (large MP) directly readable — a time-series mining primitive the
  *    reference's detector suite doesn't ship.
  */
object MiningQueries {
  private val S = TSSchema(keys = Seq("event_type"))
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** Top-k TF-IDF terms kept per document. */
  private val TfK = 3

  /** SemDeDup within-cell cosine threshold (embeddings are synthetic with
    * max pair cosine ≈ 0.55, so 0.4 marks the planted near-dups). */
  private val SemTau = 0.4

  /** Matrix-profile subsequence length (one day of hourly points) and the
    * trivial-match exclusion zone (m/2, the standard convention). */
  private val MpM = 24
  private val MpExcl = 12

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── TF-IDF keyword extraction: tf over (doc, term), df over term, the
    // sklearn smooth-idf ln((1+N)/(1+df))+1, top-3 per doc. One (doc,term)
    // shuffle + one vocabulary-keyed df aggregate + a key-equality join on
    // term + one doc-keyed window that compiles to WindowGroupLimit — every
    // stage is linear in corpus tokens or vocabulary size, nothing is
    // quadratic, nothing collects. Ranking compares the 6-dp-rounded score
    // (term-asc tie-break) so both engines pick identical rows. ──
    "q_tfidf_terms" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .where(col("term").rlike("^[a-z]{2,20}$"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dft, "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("doc_freq"))) + 1.0), 6))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rk", row_number().over(w)).where(col("rk") <= TfK)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("doc_freq"), col("tfidf"))
    }),

    // ── SemDeDup: deterministic Lloyd cells (k=8, 3 rounds — the exact
    // q_kmeans fit) bound the semantic dup check to WITHIN-cell pairs;
    // a vector is a dup if some lower-id cell-mate has cosine ≥ τ (the
    // deterministic keep-lowest-id variant of the paper's policy). The
    // pair join keys on cell, so its cost is Σ|cell|² — at 100 TB k grows
    // with the corpus to keep cells bounded (the paper runs k≈100k on
    // LAION), and the per-pair math is the codegen'd cosine_sim
    // expression. Output: every vector with its cell, its max similarity
    // to a lower-id cell-mate, and the keep/dup verdict. ──
    "q_semdedup" -> ((s, dir) => {
      // persist covers the fit's per-round collect jobs; unpersist before
      // returning so no cached blocks outlive the query
      val e = embs(s, dir).select(col("vec_id"), col("embedding")).persist()
      val cents = graft.ann.KMeansDet.fit(e, k = 8, iters = 3)
      val assigned = graft.ann.KMeansDet.assign(e, cents)
        .select(col("vec_id"), col("embedding"), col("cell"))
      val a = assigned.select(col("cell"), col("vec_id").as("i"), col("embedding").as("va"))
      val b = assigned.select(col("cell"), col("vec_id").as("j"), col("embedding").as("vb"))
      val sims = a.join(b, Seq("cell")).where(col("i") < col("j"))
        .select(col("j").as("vec_id"),
          round(graft.expressions.cosine_sim(col("va"), col("vb")), 6).as("cos"))
      val per = sims.groupBy("vec_id").agg(max("cos").as("max_sim"))
      val out = assigned.join(per, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("max_sim"),
          when(col("max_sim") >= SemTau, 1).otherwise(0).as("is_dup"))
      e.unpersist()
      out
    }),

    // ── Matrix profile (STOMP distance semantics): per series, for every
    // length-m window, the z-normalized Euclidean distance to its nearest
    // non-trivial neighbor (|i−j| ≥ m/2) and that neighbor's index. Rides
    // the one-series-per-row reduction (SeriesOps.collect): ONE keyed
    // shuffle, then the O(nw²·m) kernel runs once per collected series —
    // the scale axis is series count, and a year of hourly data is
    // 8 760 points ≈ 1.9M window pairs per series, millisecond-scale JIT'd
    // math. Distances are clamped-then-rounded (6 dp) BEFORE the argmin so
    // both engines pick identical neighbors (index-asc tie-break), and the
    // emitted distance is recomputed from the rounded d² — fully
    // engine-stable. ──
    "q_matrix_profile" -> ((s, dir) => {
      SeriesOps.collect(Tables.denseHourly(s, dir), S)
        .withColumn("_w", explode(mpUdf(col("xs"))))
        .select(col("event_type"), col("_w._1").as("idx"),
          col("_w._2").as("mp_dist"), col("_w._3").as("nn_idx"))
    }),

    // ── Discord extraction over the matrix profile: the top-3 LARGEST
    // nearest-neighbor distances per series are its most anomalous
    // subsequences (Yeh et al. 2016 §4 — the discord reading of the MP).
    // Same one-shuffle kernel; the ranking window compiles to
    // WindowGroupLimit so only k rows survive per series. Ranking compares
    // the already-6-dp-rounded distance (idx-asc tie-break), engine-stable
    // by the same discipline as the profile itself. ──
    "q_mp_discords" -> ((s, dir) => {
      val prof = SeriesOps.collect(Tables.denseHourly(s, dir), S)
        .withColumn("_w", explode(mpUdf(col("xs"))))
        .select(col("event_type"), col("_w._1").as("idx"),
          col("_w._2").as("mp_dist"), col("_w._3").as("nn_idx"))
      val w = Window.partitionBy("event_type").orderBy(col("mp_dist").desc, col("idx").asc)
      prof.withColumn("rk", row_number().over(w)).where(col("rk") <= DiscordK)
        .select(col("event_type"), col("rk"), col("idx"), col("mp_dist"), col("nn_idx"))
    })
  )

  /** Top-k discords kept per series. */
  private val DiscordK = 3

  /** The STOMP kernel: per length-m window, (idx, z-norm distance to the
    * nearest non-trivial neighbor, neighbor idx). Shared by
    * q_matrix_profile / q_mp_discords. */
  private val mpUdf = {
      val m = MpM; val excl = MpExcl
      udf { xs: Seq[Double] =>
        def round6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val v = xs.toArray
        val nw = v.length - m + 1
        if (nw <= excl) Seq.empty[(Int, Double, Int)]
        else {
          val mu = new Array[Double](nw); val sg = new Array[Double](nw)
          var i = 0
          while (i < nw) {
            var sum = 0.0; var sq = 0.0; var k = 0
            while (k < m) { val x = v(i + k); sum += x; sq += x * x; k += 1 }
            val m1 = sum / m
            mu(i) = m1
            sg(i) = math.sqrt(math.max(sq / m - m1 * m1, 0.0))
            i += 1
          }
          val bestD = Array.fill(nw)(Double.MaxValue)
          val bestJ = Array.fill(nw)(-1)
          i = 0
          while (i < nw) {
            var j = i + excl
            while (j < nw) {
              var dot = 0.0; var k = 0
              while (k < m) { dot += v(i + k) * v(j + k); k += 1 }
              val corr =
                if (sg(i) <= 1e-9 || sg(j) <= 1e-9) 0.0
                else (dot / m - mu(i) * mu(j)) / (sg(i) * sg(j))
              val d2r = round6(math.max(2.0 * m * (1.0 - corr), 0.0))
              // strict lexicographic (d2r, partner) min — order-independent,
              // identical to the oracle's ORDER BY d2r, nn
              if (d2r < bestD(i) || (d2r == bestD(i) && j < bestJ(i))) { bestD(i) = d2r; bestJ(i) = j }
              if (d2r < bestD(j) || (d2r == bestD(j) && i < bestJ(j))) { bestD(j) = d2r; bestJ(j) = i }
              j += 1
            }
            i += 1
          }
          // windows with no admissible neighbor (possible when
          // excl < nw < 2*excl) are dropped, matching the oracle's pair
          // join which never generates them
          (0 until nw).filter(bestJ(_) >= 0)
            .map(i => (i, round6(math.sqrt(bestD(i))), bestJ(i)))
        }
      }
  }

  private val H = Tables.hourlySql
  private val DenseSql = Tables.denseHourlySql

  /** The matrix-profile CTE chain (through `best`), shared by
    * q_matrix_profile and q_mp_discords. */
  private lazy val MpCtes =
    s"""hourly AS ($H),
       |$DenseSql,
       |arr AS (SELECT event_type, list(value ORDER BY ts) AS v, count(*)::INT AS n
       |        FROM dense GROUP BY 1),
       |st AS (SELECT event_type, i AS idx, w,
       |         list_sum(w) / $MpM AS mu,
       |         sqrt(greatest(list_sum(list_transform(w, x -> x * x)) / $MpM
       |                       - (list_sum(w) / $MpM) * (list_sum(w) / $MpM), 0.0)) AS sig
       |       FROM (SELECT event_type, v[i + 1 : i + $MpM] AS w, i
       |             FROM (SELECT event_type, v, unnest(range(0, n - $MpM + 1))::INT AS i FROM arr))),
       |pr AS (SELECT a.event_type, a.idx AS i, b.idx AS j,
       |         round(greatest(2.0 * $MpM * (1.0 -
       |           CASE WHEN a.sig <= 1e-9 OR b.sig <= 1e-9 THEN 0.0
       |                ELSE (list_sum(list_transform(list_zip(a.w, b.w), p -> p[1] * p[2])) / $MpM
       |                      - a.mu * b.mu) / (a.sig * b.sig) END), 0.0), 6) AS d2r
       |       FROM st a JOIN st b ON a.event_type = b.event_type AND b.idx - a.idx >= $MpExcl),
       |bi AS (SELECT event_type, i AS idx, j AS nn, d2r FROM pr
       |       UNION ALL
       |       SELECT event_type, j AS idx, i AS nn, d2r FROM pr),
       |best AS (SELECT *, row_number() OVER (PARTITION BY event_type, idx ORDER BY d2r, nn) AS r
       |         FROM bi)""".stripMargin

  val sql: Map[String, String] = Map(
    "q_tfidf_terms" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
         |       WHERE regexp_matches(term, '^[a-z]{2,20}$$') GROUP BY 1, 2),
         |df AS (SELECT term, count(*)::BIGINT AS doc_freq FROM tf GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
         |             round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.doc_freq)) + 1.0), 6) AS tfidf
         |           FROM tf JOIN df USING (term) CROSS JOIN n),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
         |       FROM scored)
         |SELECT doc_id, rk::INT AS rk, term, tf, doc_freq, tfidf FROM rk WHERE rk <= $TfK""".stripMargin,

    "q_semdedup" ->
      s"""WITH ${LlmQueries.kmChainSql(8, 3)},
         |assigned AS (SELECT vec_id, embedding, cell FROM as3),
         |sims AS (SELECT b.vec_id AS vec_id,
         |           round(${LlmQueries.cosSql("a.embedding", "b.embedding")}, 6) AS cos
         |         FROM assigned a JOIN assigned b
         |           ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |per AS (SELECT vec_id, max(cos) AS max_sim FROM sims GROUP BY 1)
         |SELECT a.vec_id, a.cell, per.max_sim,
         |  CASE WHEN per.max_sim >= $SemTau THEN 1 ELSE 0 END AS is_dup
         |FROM assigned a LEFT JOIN per USING (vec_id)""".stripMargin,

    // same clamp-round-argmin discipline as the Spark kernel: d² is
    // clamped to ≥ 0 then rounded to 6 dp, the neighbor is the row_number-1
    // row under ORDER BY (d2r, nn), and mp_dist = round(sqrt(d2r), 6)
    "q_matrix_profile" ->
      s"""WITH $MpCtes
         |SELECT event_type, idx, round(sqrt(d2r), 6) AS mp_dist, nn AS nn_idx
         |FROM best WHERE r = 1""".stripMargin,

    "q_mp_discords" ->
      s"""WITH $MpCtes,
         |prof AS (SELECT event_type, idx, round(sqrt(d2r), 6) AS mp_dist, nn AS nn_idx
         |         FROM best WHERE r = 1),
         |dk AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY mp_dist DESC, idx) AS rk
         |       FROM prof)
         |SELECT event_type, rk::INT AS rk, idx, mp_dist, nn_idx
         |FROM dk WHERE rk <= $DiscordK""".stripMargin
  )
}
