package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of a query's on-disk scratch: the only code that
  * chooses, creates and removes a scratch directory.
  *
  * Every scratch dir lives under one root: `SparkContext.getCheckpointDir`
  * when it is set, else one temp dir made once per JVM. The temp root is
  * only correct in local mode, where the driver and executors share one
  * filesystem, so a cluster must set a checkpoint dir (a shared store).
  *
  * Each dir handed out by [[dir]] has a uuid-unique name, so concurrent
  * runs sharing a root never collide. It is deleted by [[sweep]] at the
  * query boundary, and registered for deletion when the filesystem closes
  * at JVM exit (`FileSystem.deleteOnExit`, registered only once the path
  * exists — Hadoop ignores a registration for a missing path), together
  * with the temp root itself. A dir that escapes every sweep is therefore
  * removed at exit.
  */
object Scratch {
  /** Dirs handed out since the last [[sweep]]. */
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[(FileSystem, Path)]()

  private lazy val localRoot: String = {
    val root = new Path("file:" + java.nio.file.Files.createTempDirectory("graft_scratch"))
    FileSystem.getLocal(new org.apache.hadoop.conf.Configuration()).deleteOnExit(root)
    root.toString
  }

  /** A fresh, empty scratch dir named `graft_<tag>_<uuid>` under the root. */
  def dir(spark: SparkSession, tag: String): String = {
    val base = spark.sparkContext.getCheckpointDir.getOrElse(localRoot)
    val path = new Path(base.stripSuffix("/") + s"/graft_${tag}_" + java.util.UUID.randomUUID())
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(path)
    fs.deleteOnExit(path)
    live.add((fs, path))
    path.toString
  }

  /** Write `df` once as scratch parquet and read it back, for an
    * intermediate that feeds SEVERAL downstream aggregations in one plan.
    * Spark recomputes a shared subplan once per consuming branch (column
    * pruning specializes each branch's scan, so ReuseExchange cannot dedup
    * them), and `persist()` would leak cached blocks past the query's
    * terminal action; the parquet gives every branch a cheap columnar scan
    * instead — what a 100 TB pipeline does with any expensive reused
    * relation. */
  def materialize(df: DataFrame, tag: String): DataFrame = {
    val d = dir(df.sparkSession, s"mat_$tag")
    df.write.mode("overwrite").parquet(d)
    df.sparkSession.read.parquet(d)
  }

  /** Delete every dir handed out since the last sweep, with all it holds.
    * Bench, Verify and PlanDump call it at each query boundary, after the
    * query's terminal action, when no plan can still read them; a long
    * session would otherwise hold every query's scratch until exit. The
    * root stays for the next query. Never fatal: a dir that could not be
    * deleted keeps its delete-on-exit registration. */
  def sweep(): Unit = {
    var e = live.poll()
    while (e != null) {
      try { if (e._1.delete(e._2, true)) e._1.cancelDeleteOnExit(e._2) }
      catch { case _: Exception => () }
      e = live.poll()
    }
  }
}
