package graft.ann

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Deterministic distributed Lloyd's k-means for IVF cell learning.
  *
  * MLlib's KMeans seeds with randomized k-means|| — not reproducible by
  * an external engine — so graft uses the fully deterministic variant:
  * initial centroids are the embeddings of the k smallest ids, and each
  * of the fixed `iters` Lloyd rounds assigns every vector to its nearest
  * centroid (squared L2 accumulated left to right in double; ties → the
  * lowest cell id) and moves each cell to the elementwise mean of its
  * members. A cell that loses every member is dropped; the survivors keep
  * their ids.
  *
  * The rounds run as ONE Spark job each ([[lloyd]]): a `mapPartitions`
  * over the caller-persisted corpus against the centroids held on the
  * driver (they ride in the task closure), returning per-partition
  * (cell → Σx, n) arrays that the driver reduces in partition order.
  * Assignment and update never leave the partition, so a round costs no
  * shuffle and no per-id aggregation, and the driver holds only the k×dim
  * centroid table. Every arithmetic step is replayable in SQL, so the
  * DuckDB oracle checks the whole clustering at 6 dp; [[assign]] is the
  * same argmin as a Spark expression for the final, lazy assignment.
  * Scale: each round is O(n·k·dim) map-side work plus a k×dim result per
  * partition.
  */
object KMeansDet {

  /** One codebook: the surviving cell ids, ascending, and their centroids. */
  private[ann] final case class Book(cells: Array[Int], cents: Array[Array[Double]])

  private def d2(vec: Column, centroid: Column): Column =
    aggregate(zip_with(vec, centroid, (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, v) => acc + v)

  /** Nearest-centroid assignment; output = (id, vec, cell, d2).
    * `array_min` over struct(d2, cell) compares lexicographically, so the
    * argmin and its lowest-cell tie-break happen inside one narrow
    * projection — the corpus is never expanded to n·k rows or shuffled.
    * The k×dim centroid table is collected to the driver and enters the
    * plan as one sorted literal list: free for a local relation (the
    * [[fit]] output), one small collect for a distributed one. An empty
    * table gives every row a NULL cell and d2.
    */
  def assign(corpus: DataFrame, cents: DataFrame,
             id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val sorted = cents.select(col("cell").cast("int"), col("centroid").cast("array<double>")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val list =
      if (sorted.isEmpty) lit(null).cast("array<struct<cell:int,centroid:array<double>>>")
      else array(sorted.map { case (c, v) => struct(lit(c).as("cell"), typedlit(v).as("centroid")) }.toIndexedSeq: _*)
    corpus
      .withColumn("_cents", list)
      .withColumn("_best", array_min(transform(col("_cents"),
        c => struct(d2(col(vec), c.getField("centroid")).as("d2"), c.getField("cell").as("cell")))))
      .select(col(id), col(vec), col("_best.cell").as("cell"), col("_best.d2").as("d2"))
  }

  /** The `k` lowest-id vectors in double, in id order: the seed centroids. */
  private[ann] def seeds(corpus: DataFrame, k: Int, id: String, vec: String): Array[Array[Double]] =
    corpus.orderBy(col(id)).limit(k)
      .select(expr(s"transform($vec, x -> cast(x as double))"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** `iters` Lloyd rounds over the corpus's vectors, split into
    * `books.length` consecutive subspaces of `width` dims, each with its
    * own codebook (one subspace is plain k-means; several are product
    * quantization). Each round is one job: every partition assigns its
    * vectors in every subspace and sums them per cell; the driver adds the
    * partition sums in partition order and divides by the member counts.
    * Vectors that are NULL are skipped; a vector of another length or with
    * a NULL element fails the job.
    */
  private[ann] def lloyd(corpus: DataFrame, vec: String, books: Array[Book], width: Int,
                         iters: Int): Array[Book] = {
    val dim = books.length * width
    val rows = corpus.select(expr(s"transform($vec, x -> cast(x as double))")).queryExecution.toRdd
    var cur = books
    var i = 0
    while (i < iters) { cur = lloydRound(rows, cur, width, dim); i += 1 }
    cur
  }

  private def lloydRound(rows: RDD[InternalRow], books: Array[Book], width: Int, dim: Int): Array[Book] = {
    val m = books.length
    val stride = width + 1 // per cell: Σx over its members, then their count
    val parts = rows.mapPartitions { it =>
      val acc = books.map(b => new Array[Double](b.cells.length * stride))
      val x = new Array[Double](dim)
      it.foreach { r =>
        if (!r.isNullAt(0)) {
          val a = r.getArray(0)
          if (a.numElements != dim)
            throw new IllegalArgumentException(s"Lloyd round: vector of ${a.numElements} dims, expected $dim")
          var t = 0
          while (t < dim) {
            if (a.isNullAt(t)) throw new IllegalArgumentException("Lloyd round: vector with a NULL element")
            x(t) = a.getDouble(t)
            t += 1
          }
          var j = 0
          while (j < m) {
            val off = j * width
            val cents = books(j).cents
            var best = -1
            var bestD = 0.0
            var c = 0
            while (c < cents.length) {
              val cv = cents(c)
              var d2 = 0.0
              t = 0
              while (t < width) { val df = x(off + t) - cv(t); d2 += df * df; t += 1 }
              // lowest d2 wins, ties keep the lower cell; NaN sorts last
              if (best < 0 || d2 < bestD || (bestD.isNaN && !d2.isNaN)) { best = c; bestD = d2 }
              c += 1
            }
            val s = acc(j)
            val base = best * stride
            t = 0
            while (t < width) { s(base + t) += x(off + t); t += 1 }
            s(base + width) += 1
            j += 1
          }
        }
      }
      Iterator.single(acc)
    }.collect()
    Array.tabulate(m) { j =>
      val b = books(j)
      val tot = new Array[Double](b.cells.length * stride)
      for (p <- parts; t <- tot.indices) tot(t) += p(j)(t)
      val keep = b.cells.indices.filter(c => tot(c * stride + width) > 0)
      Book(keep.map(b.cells).toArray,
        keep.map(c => Array.tabulate(width)(t => tot(c * stride + t) / tot(c * stride + width))).toArray)
    }
  }

  /** `iters` full Lloyd rounds from the deterministic seed; returns the
    * final centroid table (cell, centroid) as a LOCAL k-row DataFrame,
    * cells ascending. Cells that lost every member are absent.
    *
    * The centroids live on the driver between rounds — the standard
    * iterative-ML shape (MLlib holds its centroids on the driver too) — so
    * the fit is the seed job plus one job per round (see [[lloyd]]):
    * iters + 1 jobs over a persisted corpus. It leaves no lineage for
    * downstream actions to replay, and its result costs nothing to reuse.
    * Persist the corpus first: every job scans it.
    */
  def fit(corpus: DataFrame, k: Int, iters: Int,
          id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val seed = seeds(corpus, k, id, vec)
    val book =
      if (seed.isEmpty) Book(Array.empty, Array.empty)
      else lloyd(corpus, vec, Array(Book(seed.indices.toArray, seed)), seed.head.length, iters).head
    book.cells.toSeq.zip(book.cents.map(_.toSeq)).toDF("cell", "centroid")
  }

  /** Cluster summary after `iters` rounds: per cell, member count and
    * inertia (Σ d² to the final centroid).
    */
  def summary(corpus: DataFrame, k: Int, iters: Int,
              id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    // the cache exists for fit()'s per-round jobs, which run eagerly
    // here; unpersist before returning so no cached blocks outlive the
    // call (the returned plan rescans the source once)
    val cached = corpus.select(col(id), col(vec)).persist()
    val out = assign(cached, fit(cached, k, iters, id, vec), id, vec)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"), round(sum("d2"), 6).as("inertia"))
    cached.unpersist()
    out
  }
}
