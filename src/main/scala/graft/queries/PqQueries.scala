package graft.queries

import graft._
import graft.ann.{Ann, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization ANN (ann/Pq.scala) — oracle replays the whole
  * pipeline: per-subspace deterministic Lloyd chains → codebooks →
  * corpus codes → probe distance tables → ADC top-k.
  */
object PqQueries {
  private def embs(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  private val M = 4      // subspaces over dim 64
  private val SUB = 16   // dims per subspace
  private val KS = 8     // codebook cells per subspace
  private val ITERS = 2  // Lloyd rounds per codebook
  private val TOPK = 5
  private val CAND = 50  // ADC candidates per probe before the exact re-rank
  private val KC = 8     // IVF coarse cells (q_ann_ivfpq)
  private val IC = 2     // coarse Lloyd rounds
  private val NPROBE = 2 // coarse cells probed per query

  private def d2Sql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"

  private def sl(tbl: String, j: Int) =
    s"($tbl.embedding::DOUBLE[])[${j * SUB + 1}:${(j + 1) * SUB}]"

  /** The per-subspace Lloyd replay: cents{j}0 → rounds → book{j} (cells
    * re-ranked to dense positions, the code space). `src` is the corpus
    * relation (embeddings, or the IVF residual CTE) and `pfx` namespaces
    * the CTEs. */
  private def bookChainSql(j: Int, src: String = "embeddings", pfx: String = ""): String = {
    val assign = (i: Int) =>
      s"""as$pfx${j}_$i AS (SELECT vec_id, v, cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk FROM (
         |    SELECT e.vec_id, ${sl("e", j)} AS v, c.cell, ${d2Sql(sl("e", j), "c.centroid")} AS d2
         |    FROM $src e CROSS JOIN cents$pfx${j}_$i c))
         |  WHERE rk = 1)""".stripMargin
    val update = (i: Int) =>
      s"""cents$pfx${j}_${i + 1} AS (
         |  SELECT cell, list(cx ORDER BY dim) AS centroid FROM (
         |    SELECT cell, dim, avg(x) AS cx FROM (
         |      SELECT a.cell, generate_subscripts(a.v, 1) AS dim, unnest(a.v) AS x
         |      FROM as$pfx${j}_$i a)
         |    GROUP BY 1, 2) GROUP BY 1)""".stripMargin
    val rounds = (0 until ITERS).map(i => s"${assign(i)},\n${update(i)}").mkString(",\n")
    s"""cents$pfx${j}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, ${sl("s", j)} AS centroid
       |  FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $KS) s),
       |$rounds,
       |book$pfx$j AS (SELECT row_number() OVER (ORDER BY cell) - 1 AS pos, centroid FROM cents$pfx${j}_$ITERS)""".stripMargin
  }

  // each query persists the corpus (and q_ann_ivfpq its residuals) for the
  // codebook fits only, and unpersists before returning, as q_ann_ivf does
  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_pq" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding")).persist()
      val cb = Pq.fitCodebooks(e, M, KS, ITERS)
      val out = Pq.adcTopK(Pq.encode(e, cb), graft.ann.Ann.probeSample(e), cb, TOPK)
      e.unpersist()
      out
    }),

    "q_ann_pq_rerank" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding")).persist()
      val cb = Pq.fitCodebooks(e, M, KS, ITERS)
      val out = Pq.adcRerankTopK(Pq.encode(e, cb), e, graft.ann.Ann.probeSample(e), cb, CAND, TOPK)
      e.unpersist()
      out
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // the full IVF-PQ composition: coarse Lloyd cells -> residuals ->
      // residual PQ codebooks -> cell-keyed ADC search (probed slice
      // moves as codes, never as vectors)
      val e = embs(s, dir).select(col("vec_id"), col("embedding")).persist()
      val centsDf = graft.ann.KMeansDet.fit(e, KC, IC)
      val cents = centsDf.collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
      val resid = Pq.residuals(graft.ann.KMeansDet.assign(e, centsDf), centsDf).persist()
      val cb = Pq.fitCodebooks(resid, M, KS, ITERS)
      val out = Pq.adcIvfTopK(Pq.encode(resid, cb, keep = Seq("cell")), cents, cb,
        graft.ann.Ann.probeSample(e), NPROBE, TOPK)
      resid.unpersist()
      e.unpersist()
      out
    })
  )

  /** Shared oracle prefix: per-subspace Lloyd chains → books → codes →
    * probe distance tables → ADC distances. */
  private lazy val adcChainSql: String = {
    val books = (0 until M).map(j => bookChainSql(j)).mkString(",\n")
    val codes = (0 until M).map { j =>
      s"""code$j AS (SELECT vec_id, pos AS code FROM (
         |  SELECT e.vec_id, b.pos, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${d2Sql(sl("e", j), "b.centroid")}, b.pos) AS rk
         |  FROM embeddings e CROSS JOIN book$j b) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val dtabs = (0 until M).map { j =>
      s"""dt$j AS (SELECT p.vec_id AS probe_id, b.pos, ${d2Sql(sl("p", j), "b.centroid")} AS d
         |  FROM (SELECT * FROM embeddings ${Ann.ProbeQualify}) p CROSS JOIN book$j b)""".stripMargin
    }.mkString(",\n")
    val parts = (0 until M).map(j =>
      s"SELECT c.vec_id, d.probe_id, d.d FROM code$j c JOIN dt$j d ON d.pos = c.code"
    ).mkString("\nUNION ALL\n")
    s"""$books,
       |$codes,
       |$dtabs,
       |adc AS (SELECT vec_id, probe_id, sum(d) AS adc_d2
       |        FROM ($parts) GROUP BY 1, 2)""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "q_ann_pq" ->
      s"""WITH $adcChainSql
         |SELECT probe_id, vec_id AS neighbor_id, round(adc_d2, 6) AS adc_d2,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY adc_d2, vec_id) AS rk
         |FROM adc WHERE vec_id <> probe_id
         |QUALIFY rk <= $TOPK""".stripMargin,

    "q_ann_pq_rerank" ->
      s"""WITH $adcChainSql,
         |cand AS (SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY adc_d2, vec_id) AS ark
         |  FROM adc WHERE vec_id <> probe_id QUALIFY ark <= $CAND),
         |rr AS (SELECT c.probe_id, c.vec_id AS neighbor_id,
         |    ${d2Sql("(n.embedding::DOUBLE[])", "(p.embedding::DOUBLE[])")} AS d2x
         |  FROM cand c
         |  JOIN embeddings n ON n.vec_id = c.vec_id
         |  JOIN embeddings p ON p.vec_id = c.probe_id)
         |SELECT probe_id, neighbor_id, round(d2x, 6) AS d2,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY d2x, neighbor_id) AS rk
         |FROM rr QUALIFY rk <= $TOPK""".stripMargin,

    "q_ann_ivfpq" -> {
      // coarse chain (LlmQueries.kmChainSql: cents0..cents$IC, as$IC) →
      // residuals → residual book chains (pfx R) → cell-carrying codes →
      // probe cell ranking → probe-residual distance tables → cell-keyed
      // ADC
      val books = (0 until M).map(j => bookChainSql(j, "resid", "R")).mkString(",\n")
      val codes = (0 until M).map { j =>
        s"""codeR$j AS (SELECT vec_id, cell, pos AS code FROM (
           |  SELECT e.vec_id, e.cell, b.pos, row_number() OVER (PARTITION BY e.vec_id
           |    ORDER BY ${d2Sql(sl("e", j), "b.centroid")}, b.pos) AS rk
           |  FROM resid e CROSS JOIN bookR$j b) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      val dtabs = (0 until M).map { j =>
        s"""dtR$j AS (SELECT probe_id, cell, b.pos,
           |    ${d2Sql(s"(rq)[${j * SUB + 1}:${(j + 1) * SUB}]", "b.centroid")} AS d
           |  FROM prq CROSS JOIN bookR$j b)""".stripMargin
      }.mkString(",\n")
      val parts = (0 until M).map(j =>
        s"SELECT c.vec_id, d.probe_id, d.d FROM codeR$j c JOIN dtR$j d ON d.pos = c.code AND d.cell = c.cell"
      ).mkString("\nUNION ALL\n")
      s"""WITH ${LlmQueries.kmChainSql(KC, IC)},
         |resid AS (SELECT a.vec_id, a.cell,
         |    list_transform(list_zip(a.embedding::DOUBLE[], c.centroid), p -> p[1] - p[2]) AS embedding
         |  FROM as$IC a JOIN cents$IC c ON a.cell = c.cell),
         |$books,
         |$codes,
         |pcells AS (SELECT probe_id, cell, centroid FROM (
         |  SELECT p.vec_id AS probe_id, c.cell, c.centroid,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${d2Sql("(p.embedding::DOUBLE[])", "c.centroid")}, c.cell) AS rk
         |  FROM (SELECT * FROM embeddings ${Ann.ProbeQualify}) p CROSS JOIN cents$IC c) WHERE rk <= $NPROBE),
         |prq AS (SELECT pc.probe_id, pc.cell,
         |    list_transform(list_zip(p.embedding::DOUBLE[], pc.centroid), x -> x[1] - x[2]) AS rq
         |  FROM pcells pc JOIN embeddings p ON p.vec_id = pc.probe_id),
         |$dtabs,
         |adc AS (SELECT vec_id, probe_id, sum(d) AS adc_d2
         |        FROM ($parts) GROUP BY 1, 2)
         |SELECT probe_id, vec_id AS neighbor_id, round(adc_d2, 6) AS adc_d2,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY adc_d2, vec_id) AS rk
         |FROM adc WHERE vec_id <> probe_id
         |QUALIFY rk <= $TOPK""".stripMargin
    }
  )
}
