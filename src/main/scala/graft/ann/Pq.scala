package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", re-derived) — the memory-bound ANN path: vectors
  * compress to m small codes (one byte-ish each), and search runs
  * against the CODES, never the raw vectors.
  *
  * - Train: the D dims split into m subspaces; each subspace gets a
  *   ks-cell codebook from the deterministic [[KMeansDet]] Lloyd fit on
  *   the sliced corpus. Codebooks are m·ks·(D/m) doubles of driver
  *   state — kilobytes, embeddable as plan literals.
  * - Encode: per row, the argmin sub-centroid per subspace — a narrow
  *   map-side projection against the literal codebooks, no join, no
  *   shuffle. A 100 TB corpus encodes in one pass and stores
  *   m·log2(ks) bits per vector.
  * - Search (ADC): each probe precomputes a distance table
  *   (ks entries per subspace) against the literal codebooks; the
  *   probe×corpus distance is m table lookups summed — no
  *   floating-point vector math against corpus rows at all. Top-k via
  *   per-probe window (compiles to WindowGroupLimit).
  */
object Pq {

  /** Squared L2 between two double-array columns. */
  private def d2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Per-subspace codebooks: [sub][cell][dim], the deterministic
    * [[KMeansDet]] Lloyd semantics on each slice (the slices of the ks
    * lowest-id vectors as seeds, the same argmin tie-break by lowest cell
    * id, the same elementwise-mean update; cells that lose all members
    * are dropped and the codebook keeps survivors in cell order — codes
    * index POSITION in that list).
    *
    * All m subspaces fit TOGETHER on [[KMeansDet.lloyd]]'s one-pass
    * round: each Lloyd round is ONE job whose partitions assign and sum
    * every subspace at once, so a fit is iters + 1 jobs at any m. Persist
    * the corpus first: every job scans it. */
  def fitCodebooks(corpus: DataFrame, m: Int, ks: Int, iters: Int,
                   id: String = "vec_id", vec: String = "embedding"): Seq[Seq[Seq[Double]]] = {
    val seedRows = KMeansDet.seeds(corpus, ks, id, vec)
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val books = Array.tabulate(m) { j =>
      KMeansDet.Book(seedRows.indices.toArray, seedRows.map(_.slice(j * sub, (j + 1) * sub)))
    }
    KMeansDet.lloyd(corpus, vec, books, sub, iters).map(_.cents.toSeq.map(_.toSeq)).toSeq
  }

  /** The codes column expression: array<int> of per-subspace argmins
    * against the literal codebooks (ties → lowest cell, exactly the
    * KMeansDet.assign convention). */
  private def codesCol(cb: Seq[Seq[Seq[Double]]], vec: String): Column = {
    val sub = cb.head.head.length
    array(cb.zipWithIndex.map { case (book, j) =>
      val slices = slice(col(vec), j * sub + 1, sub)
      array_min(array(book.zipWithIndex.map { case (cent, c) =>
        struct(d2(slices, typedlit(cent)).as("d"), lit(c).as("c"))
      }: _*)).getField("c")
    }: _*)
  }

  /** Encode the corpus: (id, keep…, codes). Pure map-side. */
  def encode(corpus: DataFrame, cb: Seq[Seq[Seq[Double]]],
             id: String = "vec_id", vec: String = "embedding",
             keep: Seq[String] = Nil): DataFrame =
    corpus.select((col(id) +: keep.map(col)) :+ codesCol(cb, vec).as("codes"): _*)

  /** ADC top-k: probes carry their per-subspace distance tables; corpus
    * rows pay m array lookups each. Output (probe_id, neighbor_id,
    * adc_d2, rk). */
  def adcTopK(encoded: DataFrame, probes: DataFrame, cb: Seq[Seq[Seq[Double]]], k: Int,
              id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val sub = cb.head.head.length
    val dtabs = array(cb.zipWithIndex.map { case (book, j) =>
      val slices = slice(col(vec), j * sub + 1, sub)
      array(book.map(cent => d2(slices, typedlit(cent))): _*)
    }: _*)
    val p = probes.select(col(id).as("probe_id"), dtabs.as("dtabs"))
    val joined = encoded.crossJoin(broadcast(p))
      .where(col(id) =!= col("probe_id"))
      .withColumn("adc_d2", aggregate(
        zip_with(col("codes"), col("dtabs"), (c, t) => element_at(t, (c + 1).cast("int"))),
        lit(0.0), (acc, v) => acc + v))
    val w = Window.partitionBy("probe_id").orderBy(col("adc_d2"), col(id))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("probe_id"), col(id).as("neighbor_id"), round(col("adc_d2"), 6).as("adc_d2"), col("rk"))
  }

  /** IVF residuals: vec − centroid(cell), as a double array — the input
    * to residual PQ codebooks (IVF-PQ, the Jégou composition: coarse
    * cells absorb the between-cluster energy, PQ codes the residual).
    * `cents` is the local centroid table from [[KMeansDet.fit]]. */
  def residuals(assigned: DataFrame, cents: DataFrame,
                id: String = "vec_id", vec: String = "embedding"): DataFrame =
    assigned.join(broadcast(cents), Seq("cell"))
      .select(col(id), col("cell"),
        zip_with(col(vec), col("centroid"), (x, c) => x.cast("double") - c).as(vec))

  /** IVF-PQ search: probes rank the coarse cells (nprobe nearest), form
    * their per-cell RESIDUAL distance tables against the residual
    * codebooks, and meet the codes through a KEY-EQUALITY join on the
    * cell — the probed slice is the only corpus that moves, and it moves
    * as codes. Output (probe_id, neighbor_id, adc_d2, rk). */
  def adcIvfTopK(encoded: DataFrame, cents: Seq[(Int, Seq[Double])], cb: Seq[Seq[Seq[Double]]],
                 probes: DataFrame, nprobe: Int, k: Int,
                 id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val sub = cb.head.head.length
    // per probe: sort the (d2-to-centroid, cell, centroid) structs and
    // take nprobe — the centroid rides along for the residual below
    val ranked = array_sort(array(cents.map { case (cId, cv) =>
      struct(d2(col(vec), typedlit(cv)).as("d"), lit(cId).as("cell"), typedlit(cv).as("centroid"))
    }: _*))
    val probed = probes
      .select(col(id).as("probe_id"), col(vec).as("pvec"),
        explode(slice(ranked, 1, nprobe)).as("pc"))
      .withColumn("rq", zip_with(col("pvec"), col("pc.centroid"), (x, c) => x.cast("double") - c))
      .select(col("probe_id"), col("pc.cell").as("cell"),
        array(cb.zipWithIndex.map { case (book, j) =>
          array(book.map(cent => d2(slice(col("rq"), j * sub + 1, sub), typedlit(cent))): _*)
        }: _*).as("dtabs"))
    val w = Window.partitionBy("probe_id").orderBy(col("adc_d2"), col(id))
    encoded.join(broadcast(probed), Seq("cell"))
      .where(col(id) =!= col("probe_id"))
      .withColumn("adc_d2", aggregate(
        zip_with(col("codes"), col("dtabs"), (c, t) => element_at(t, (c + 1).cast("int"))),
        lit(0.0), (acc, v) => acc + v))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("probe_id"), col(id).as("neighbor_id"), round(col("adc_d2"), 6).as("adc_d2"), col("rk"))
  }

  /** The production PQ search: ADC is the coarse filter (it reliably
    * finds the right region but cannot rank within it — quantization
    * error ~ within-cluster spread), so the ADC top-`cand` re-rank by
    * EXACT distance. Only the candidate slice (cand ≪ corpus) ever
    * touches raw vectors, through a key-equality join on the neighbor
    * id — the corpus itself stays codes-only. */
  def adcRerankTopK(encoded: DataFrame, corpus: DataFrame, probes: DataFrame,
                    cb: Seq[Seq[Seq[Double]]], cand: Int, k: Int,
                    id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val cands = adcTopK(encoded, probes, cb, cand, id, vec)
    val pv = probes.select(col(id).as("probe_id"), col(vec).as("pvec"))
    val w = Window.partitionBy("probe_id").orderBy(col("d2x"), col("neighbor_id"))
    cands.join(corpus.select(col(id).as("neighbor_id"), col(vec).as("nvec")), Seq("neighbor_id"))
      .join(broadcast(pv), Seq("probe_id"))
      .withColumn("d2x", d2(col("pvec"), col("nvec")))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("probe_id"), col("neighbor_id"), round(col("d2x"), 6).as("d2"), col("rk"))
  }
}
