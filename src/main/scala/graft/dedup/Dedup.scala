package graft.dedup

import graft.Scratch
import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training corpora. Every variant
  * generates candidate pairs through a KEY-EQUALITY SHUFFLE JOIN
  * (content hash / shingle / LSH band / Hamming chunk) — never a cross
  * join — so pair-generation cost scales with collisions, not n².
  * That is the property that survives a 100 TB corpus: the shuffle moves
  * (doc, key) rows, and hot keys can be salted by appending a hash-mod
  * suffix to the band id.
  */
object Dedup {

  /** Self-join for candidate-pair generation on equality `keys`, with
    * optional skew salting for hot keys (the "salted by appending a
    * hash-mod suffix" promise above, made real).
    *
    * A hot key with m members routes all m² candidate pairs to ONE task.
    * With `salt` = s, the left side takes salt group hash(id) mod s, the
    * right side replicates to every salt group, and the join key grows by
    * the salt column: each unordered pair still meets EXACTLY once (the
    * pair (x,y) matches only where the replica salt equals x's group, and
    * the id< filter keeps one orientation), but a hot key's work now
    * spreads over s tasks of ~m²/s pairs each. Cost: the right side
    * shuffles s× — worth it only when skew is expected, hence opt-in.
    * Returns the joined frame with sides aliased `a` and `b`.
    */
  private[graft] def saltedPairJoin(banded: DataFrame, keys: Seq[String],
                                    id: String, salt: Int): DataFrame =
    if (salt <= 1)
      banded.as("a").join(banded.as("b"), keys)
        .where(col(s"a.$id") < col(s"b.$id"))
    else {
      val a = banded.withColumn("_sg", pmod(xxhash64(col(id)), lit(salt)))
      val b = banded.withColumn("_sg", explode(array((0 until salt).map(s => lit(s.toLong)): _*)))
      a.as("a").join(b.as("b"), keys :+ "_sg")
        .where(col(s"a.$id") < col(s"b.$id"))
    }

  /** Exact dedup: md5 content hash, keep the lowest id per group.
    * At scale this is one hash-partitioned groupBy — the canonical
    * first pass of any corpus pipeline.
    */
  def exact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val w = Window.partitionBy("fp")
    // true byte-exact dedup: md5 of the raw text. Case-insensitive grouping
    // is the *normalized* fingerprint path (TextFunctions.fingerprint).
    docs.withColumn("fp", md5(col(text)))
      .withColumn("keep", (col(id) === min(col(id)).over(w)).cast("int"))
      .select(col(id), col("fp"), col("keep"))
  }

  /** Incremental exact dedup: dedup a NEW batch against the fingerprint
    * store of the existing corpus (plus within-batch). The corpus side
    * enters as fingerprints only — bytes per historical doc, the only
    * state a 100 TB-corpus ingest pipeline needs to carry forward — and
    * meets the batch through one fp-key join. Output: every new doc with
    * its fp and keep flag (1 = first occurrence anywhere).
    */
  def incremental(newDocs: DataFrame, corpusFps: DataFrame,
                  id: String = "doc_id", text: String = "text"): DataFrame = {
    val w = Window.partitionBy("fp")
    newDocs.withColumn("fp", md5(col(text)))
      .join(corpusFps.select(col("fp"), lit(1).as("_seen")).distinct(), Seq("fp"), "left")
      .withColumn("keep",
        (col("_seen").isNull && col(id) === min(col(id)).over(w)).cast("int"))
      .select(col(id), col("fp"), col("keep"))
  }

  /** Distinct word-k-shingles per doc: (id, shingle). */
  def docShingles(docs: DataFrame, id: String = "doc_id", text: String = "text", k: Int = 3): DataFrame =
    docs.select(col(id), explode(TextFunctions.shingles(col(text), k)).as("shingle"))

  /** Candidate pairs by shared shingle + exact Jaccard on shingle sets.
    * The shingle join is the blocking key: only docs sharing at least one
    * shingle ever meet.
    *
    * Scale guard: shingles with document frequency > `dfCap` are dropped
    * BEFORE the self-join (Broder-style stop-shingle removal). A shingle
    * present in n docs emits n² candidate rows, so without the cap one hot
    * 3-gram ("of the and") is an n² skewed-shuffle explosion at corpus
    * scale; capped shingles carry no discriminating signal anyway. Both
    * the per-doc set sizes and the intersections are computed on the
    * CAPPED sets, so Jaccard stays a true set similarity of the filtered
    * universe (the DuckDB oracle applies the identical cap).
    */
  def ngramJaccardPairs(docs: DataFrame, id: String = "doc_id", text: String = "text",
                        k: Int = 3, dfCap: Int = 50): DataFrame = {
    val raw = docShingles(docs, id, text, k)
    // df as a count-over-shingle window: the window's hash partitioning on
    // `shingle` is exactly what the self-join below needs, so Catalyst
    // reuses the exchange — one shingle shuffle total (an aggregate +
    // anti-join variant measured slower: extra scan + broadcast)
    val w = Window.partitionBy("shingle")
    val sh = raw.withColumn("_df", count(lit(1)).over(w)).where(col("_df") <= dfCap).drop("_df").cache()
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("nsh"))
    val common = sh.as("a").join(sh.as("b"), Seq("shingle"))
      .where(col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("i"), col(s"b.$id").as("j"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed(id, "i").withColumnRenamed("nsh", "ni"), "i")
      .join(sizes.withColumnRenamed(id, "j").withColumnRenamed("nsh", "nj"), "j")
      .withColumn("jaccard", round(col("common") / (col("ni") + col("nj") - col("common")), 6))
  }

  /** MinHash signatures: numPerms columns mh0..mh{n-1}, each the min of
    * (a·h31(shingle) + b) mod p over the doc's shingle set. One explode +
    * one groupBy — the classic distributed MinHash shape. Measured FASTER
    * than the shuffle-free array-HOF variant ([[withSignatures]]) on
    * batch corpora: the 64 per-perm mins run inside codegen'd partial
    * hash aggregation (compiled, unboxed), while array HOFs evaluate
    * interpreted — at n_docs × n_shingles × n_perms evaluations the
    * codegen gap outweighs the saved (doc, shingle) shuffle, whose
    * map-side combine already collapses it to one row per (doc, perm).
    */
  def minhashSignatures(docs: DataFrame, numPerms: Int, id: String = "doc_id", text: String = "text", k: Int = 3): DataFrame = {
    val params = TextFunctions.permParams(numPerms)
    val sh = docShingles(docs, id, text, k)
      .withColumn("h", TextFunctions.hash31(col("shingle")))
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % TextFunctions.MinHashPrime).as(s"mh$i")
    }
    sh.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignatures]] computed MAP-SIDE from the per-doc shingle
    * array (no aggregation, no shuffle), carrying arbitrary pass-through
    * columns: the shape a STREAMING frame needs, where a blocking
    * aggregation isn't available. Shingle hashes materialize once per doc
    * (`_hs`, one md5 pass in its own projection so CollapseProject won't
    * inline the expensive subtree into all numPerms consumers). RobustSpec
    * proves value parity with the batch formulation. Docs with fewer than
    * k tokens have no shingles and are excluded, matching groupBy
    * semantics.
    */
  def withSignatures(df: DataFrame, keep: Seq[String], numPerms: Int,
                     text: String = "text", k: Int = 3): DataFrame = {
    // all perm minima in one compiled pass (MinhashSignature) — the HOF
    // form paid numPerms array_min(transform(...)) walks per doc; `_sig`
    // stays in its own projection (like `_hs`) so CollapseProject won't
    // duplicate the expensive expression into all numPerms consumers
    df.select(keep.map(col) :+
        transform(TextFunctions.shingles(col(text), k), s => TextFunctions.hash31(s)).as("_hs"): _*)
      .where(size(col("_hs")) > 0)
      .select(keep.map(col) :+
        graft.expressions.minhash_signature(col("_hs"), numPerms).as("_sig"): _*)
      .select(keep.map(col) ++
        (0 until numPerms).map(i => element_at(col("_sig"), i + 1).as(s"mh$i")): _*)
  }

  /** Corpus-side band store for stream-static near-dedup: one
    * (band, b0..bR, corpus_id) row per banded signature — the ONLY corpus
    * state an ingest pipeline carries, persistable as a bucketed table.
    */
  def bandStore(docs: DataFrame, numPerms: Int = 64, bands: Int = 16,
                id: String = "doc_id", text: String = "text"): DataFrame = {
    val (banded, _) = bandedSignatures(minhashSignatures(docs, numPerms, id, text), numPerms, bands, id)
    banded.withColumnRenamed(id, "corpus_id")
  }

  /** Exploded band view of a signature table: one (id, band, b0..bR) row
    * per band — band signature as numeric columns, a multi-column bigint
    * equality join key, not a string concat.
    */
  private[graft] def bandedSignatures(sig: DataFrame, numPerms: Int, bands: Int,
                                      id: String): (DataFrame, Seq[String]) = {
    val rows = numPerms / bands
    val bandCols = (0 until bands).map { b =>
      struct((lit(b).as("band") +:
        (0 until rows).map(r => col(s"mh${b * rows + r}").as(s"b$r"))): _*)
    }
    val bKeys = "band" +: (0 until rows).map(r => s"b$r")
    (sig.select(col(id), explode(array(bandCols: _*)).as("bd"))
      .select((col(id) +: bKeys.map(kk => col(s"bd.$kk"))): _*), bKeys)
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numPerms), join docs whose band signature collides, verify with the
    * exact signature-estimated Jaccard (share of matching minhashes).
    * `salt` > 1 spreads hot-bucket pair generation (see saltedPairJoin).
    */
  def minhashLshPairs(docs: DataFrame, numPerms: Int = 64, bands: Int = 16,
                      id: String = "doc_id", text: String = "text", k: Int = 3,
                      salt: Int = 1): DataFrame = {
    val rows = numPerms / bands
    val sig = minhashSignatures(docs, numPerms, id, text, k).cache()
    val (banded, bKeys) = bandedSignatures(sig, numPerms, bands, id)
    val cand = saltedPairJoin(banded, bKeys, id, salt)
      .select(col(s"a.$id").as("i"), col(s"b.$id").as("j")).distinct()
    val est = (0 until numPerms).map(p =>
      when(col(s"sa.mh$p") === col(s"sb.mh$p"), 1).otherwise(0)).reduce(_ + _).cast("double") / numPerms
    cand
      .join(sig.as("sa"), col("i") === col(s"sa.$id"))
      .join(sig.as("sb"), col("j") === col(s"sb.$id"))
      .select(col("i"), col("j"), round(est, 6).as("est_jaccard"))
  }

  /** Round cap of connectedComponents' distributed loop. */
  private val CcMaxIter = 50

  /** Connected components over an undirected edge list `(i, j)` by
    * min-label propagation: every node's label converges to the smallest
    * id reachable from it — the canonical "collapse near-dup pairs into
    * clusters, keep one canonical doc per cluster" final step of a corpus
    * dedup pipeline (the same role GraphX/GraphFrames CC plays in
    * production pipelines, re-expressed as pure DataFrame joins).
    *
    * Each round is ONE key-equality join (neighbor labels) + ONE keyed
    * min-aggregation — no driver state beyond the loop counter, no
    * collect. Rounds needed scale with log(diameter) thanks to the
    * path-compression join; dedup graphs are unions of near-cliques from
    * banded LSH candidates, so a handful of rounds converges.
    *
    * The symmetric edge list and the per-round labels are parquet in one
    * [[Scratch.dir]], which [[Scratch.sweep]] removes at the query
    * boundary; see [[Scratch]] for where it lives.
    */
  def connectedComponents(edges: DataFrame,
                          driverFastPathEdges: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val dir = Scratch.dir(spark, "cc")
    // The edge derivation — possibly an expensive LSH pipeline — runs
    // exactly ONCE, at this parquet write; everything after reads the
    // materialized symmetric edge list.
    edges.select(col("i").as("u"), col("j").as("v"))
      .union(edges.select(col("j").as("u"), col("i").as("v")))
      .distinct()
      .write.mode("overwrite").parquet(s"$dir/sym")
    val sym = spark.read.parquet(s"$dir/sym")
    val mEdges = sym.count() / 2
    if (mEdges <= driverFastPathEdges) {
      // Small-graph fast path: a THRESHOLDED dup-pair graph is orders of
      // magnitude smaller than its corpus (it holds only near-duplicate
      // evidence), so under the cap the exact answer is a driver-side
      // union-find in milliseconds instead of a multi-job loop. Collected
      // as specialized (Long, Long) tuples — ~32 bytes/edge, so the 1M
      // default cap bounds driver heap at ~64 MB for the 2M symmetric
      // rows; bigger graphs take the distributed loop below. (The same
      // small-graph cutover production CC implementations make.)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      val nodes = scala.collection.mutable.HashSet.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      sym.select(col("u"), col("v")).as[(Long, Long)].collect().foreach { case (u, v) =>
        // seed BOTH endpoints before the union test, so a node whose only
        // edges are self-loops still appears in the output (as the
        // distributed path labels it)
        nodes += u; nodes += v
        val (a, b) = (find(u), find(v))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b } // union by min id
      }
      val labeled = nodes.toSeq.map(u => (u, find(u)))
      // union-by-min-id + full path compression → root IS the component min
      labeled.toDF("u", "label")
    } else {
      var labels = sym.select(col("u")).distinct().withColumn("label", col("u"))
      // one round: candidates = own label ∪ every neighbor's label, one
      // keyed min — then a path-compression join
      // (label(u) ← min(label(u), label(label(u)))) that halves every
      // node's distance-to-root, so rounds scale with log(diameter), not
      // diameter (similarity graphs chain: a~b~c~…).
      def propagate(l: DataFrame): DataFrame = {
        val stepped = sym.join(l.select(col("u").as("v"), col("label")), "v")
          .select(col("u"), col("label"))
          .union(l)
          .groupBy("u").agg(min("label").as("label"))
        stepped.as("a")
          .join(stepped.select(col("u").as("lu"), col("label").as("ll")).as("b"),
            col("a.label") === col("lu"), "left")
          .select(col("a.u").as("u"),
            least(col("a.label"), coalesce(col("ll"), col("a.label"))).as("label"))
      }
      var prevSum: java.math.BigDecimal = null
      var it = 0
      var converged = false
      while (!converged && it < CcMaxIter) {
        // checkpoint EVERY round: the compression self-join doubles plan
        // size per round, so unmaterialized lineage would grow
        // exponentially; a per-round parquet round-trip keeps every round
        // constant-cost. Alternate paths so a write never clobbers the
        // file the prior round still reads.
        propagate(labels).write.mode("overwrite").parquet(s"$dir/labels_${it % 2}")
        val round = spark.read.parquet(s"$dir/labels_${it % 2}")
        // convergence via label sum: labels are node-wise non-increasing,
        // so the fixpoint is exactly "sum unchanged". Cast BEFORE the
        // aggregate — hash-derived 64-bit ids would overflow a LongType
        // sum and could fake convergence on wrapped values.
        val s = round.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
        converged = prevSum != null && s.compareTo(prevSum) == 0
        prevSum = s
        labels = round
        it += 1
      }
      labels
    }
  }

  /** SimHash near-dup pairs: 128-bit signature (two 64-bit words), then
    * Hamming-distance blocking on 4×32-bit chunks (pigeonhole: any pair
    * within distance 3 shares at least one exact chunk), verified with
    * bit_count over both words.
    *
    * WIDTH is the scale knob here — the round-11 second-decade
    * measurement caught the 64-bit/4×16-bit version at exp2 = 1.65:
    * a FIXED 2¹⁶-bucket space per chunk makes candidates Θ(n²/65536).
    * 4×32-bit chunks of a 128-bit hash give 2³² buckets per chunk, so
    * random-pair collisions stay negligible past 10⁹ docs. Unlike LSH
    * banding there is no recall/cost trade to schedule on corpus count:
    * the pigeonhole guarantee (4 chunks, radius 3) is exact at ANY
    * width and wider chunks only SHRINK the candidate set, so the wide
    * fingerprint is unconditionally correct — no corpus-count branch.
    */
  /** SHARED LITERALS for the simhash block scheme — both engines branch
    * on these; the oracle SQL interpolates them (the Ann.LshSteps
    * discipline), so changing the radius or chunk width edits one val. */
  val SimhashMaxHamming = 3
  val SimhashChunks = 4

  def simhashPairs(docs: DataFrame, maxHamming: Int = SimhashMaxHamming, id: String = "doc_id", text: String = "text"): DataFrame = {
    val sim = udf { (toks: Seq[String]) => TextFunctions.simhash128(toks) }
    val sig = docs.select(col(id), sim(TextFunctions.tokens(col(text))).as("sh"))
      .select(col(id), col("sh").getItem(0).as("sh1"), col("sh").getItem(1).as("sh2"))
      .cache()
    val chunked = sig.select(col(id), col("sh1"), col("sh2"),
      explode(array((0 until SimhashChunks).map { c =>
        val word = if (c < 2) col("sh1") else col("sh2")
        struct(lit(c).as("chunk"),
          shiftrightunsigned(word, (c % 2) * 32).bitwiseAND(lit(0xffffffffL)).as("ck"))
      }: _*)).as("b"))
      .select(col(id), col("sh1"), col("sh2"), col("b.chunk"), col("b.ck"))
    chunked.as("a").join(chunked.as("b"), Seq("chunk", "ck"))
      .where(col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("i"), col(s"b.$id").as("j"),
        (bit_count(col("a.sh1").bitwiseXOR(col("b.sh1"))) +
          bit_count(col("a.sh2").bitwiseXOR(col("b.sh2")))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
