package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch-parquet materialization for intermediates that feed SEVERAL
  * downstream aggregations in one plan.
  *
  * Spark recomputes a shared subplan once per consuming branch (column
  * pruning specializes each branch's scan, so ReuseExchange cannot dedup
  * them), and `persist()` would leak cached blocks past the query's
  * terminal action. Writing the intermediate ONCE and re-reading it gives
  * every branch a cheap columnar scan instead of a full recompute — the
  * same checkpointing shape `Dedup.connectedComponents` uses for its
  * rounds, and what a 100 TB pipeline does with any expensive reused
  * relation.
  *
  * Directory contract (mirrors connectedComponents): caller-supplied
  * `scratchDir`, else `SparkContext.getCheckpointDir`, else a
  * driver-local temp dir that is only correct in local mode. The file
  * must outlive the caller's terminal action, so cleanup is registered
  * for JVM exit (`FileSystem.deleteOnExit`), not eager.
  */
object Scratch {
  /** Scratch dirs created since the last [[sweep]] — a long bench session
    * (423 queries × 3 rerun passes) would otherwise accumulate unbounded
    * scratch parquet in /tmp for the JVM lifetime (deleteOnExit is only
    * the backstop). Bench and Verify sweep at each query boundary, after
    * the query's terminal action, when no plan can still read them.
    */
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[(org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)]()

  def materialize(df: DataFrame, tag: String,
                  scratchDir: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val base = scratchDir
      .orElse(spark.sparkContext.getCheckpointDir)
      .getOrElse("file:" + java.nio.file.Files.createTempDirectory("graft_mat").toString)
    val dir = base.stripSuffix("/") + s"/graft_mat_${tag}_" + java.util.UUID.randomUUID().toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.deleteOnExit(root)
    live.add((fs, root))
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Delete every scratch dir created since the last sweep. Only call
    * after the consuming query's terminal action. Never fatal: a dir that
    * could not be deleted keeps its delete-on-exit registration. */
  def sweep(): Unit = {
    var e = live.poll()
    while (e != null) {
      try { if (e._1.delete(e._2, true)) e._1.cancelDeleteOnExit(e._2) }
      catch { case _: Exception => () }
      e = live.poll()
    }
  }
}
