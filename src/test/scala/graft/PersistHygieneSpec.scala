package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The queries that persist intermediates for iterative fitting must not
  * leak cached blocks past their own construction, and a stream replay
  * must not leave its memory-sink view (and the rows behind it): in a
  * long-lived session (or the 100+-query bench) leaks accumulate until
  * they evict working memory. Runs each offender end-to-end and asserts
  * the persistence registry and the catalog are clean afterwards. The
  * same holds on disk: every scratch dir sits under the one `Scratch`
  * root and is gone after `Scratch.sweep`.
  */
class PersistHygieneSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q_kmeans, q_ann_ivf and the PQ queries leave no cached blocks behind") {
    for (q <- Seq("q_kmeans", "q_ann_ivf", "q_ann_pq", "q_ann_pq_rerank", "q_ann_ivfpq")) {
      val n = SparkEntry.queries(q)(spark, sf).count()
      assert(n > 0, s"$q returned no rows")
      assertClean(q)
    }
  }

  test("the stream replays leave no cached blocks or sink views behind") {
    // q_stream_resample is a stateful (watermarked window) replay
    for (q <- Seq("q_stream_zscore", "q_stream_resample")) {
      val n = SparkEntry.queries(q)(spark, sf).count()
      assert(n > 0, s"$q returned no rows")
      assertClean(q)
    }
  }

  private def assertClean(q: String): Unit = {
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"$q leaked ${leaked.size} cached RDD(s): ${leaked.values.map(_.name).mkString(", ")}")
    val views = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("gsq_"))
    assert(views.isEmpty, s"$q left its memory-sink view(s) behind: ${views.mkString(", ")}")
  }

  test("Scratch.sweep deletes a materialized scratch dir") {
    val m = Scratch.materialize(spark.range(10).toDF("x"), "sweepspec")
    assert(m.count() == 10)
    val dir = new org.apache.hadoop.fs.Path(m.inputFiles.head).getParent
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(dir))
    Scratch.sweep()
    assert(!fs.exists(dir), s"$dir survived the sweep")
  }

  test("with no checkpoint dir, materialize calls share one root and the sweep removes their dirs") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val dirs = Seq("a", "b").map(t =>
      new Path(Scratch.materialize(spark.range(3).toDF("x"), s"share$t").inputFiles.head).getParent)
    val roots = dirs.map(d => path(d.getParent.toString)).distinct
    assert(roots.size == 1, s"two materializations, two roots: ${roots.mkString(", ")}")
    assert(dirs.forall(fs.exists))
    Scratch.sweep()
    dirs.foreach(d => assert(!fs.exists(d), s"$d survived the sweep"))
  }

  test("connectedComponents' distributed path leaves nothing after the sweep") {
    import spark.implicits._
    val root = scratchRoot()
    val before = fs.listStatus(root).map(_.getPath).toSet
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("i", "j")
    val cc = graft.dedup.Dedup.connectedComponents(edges, driverFastPathEdges = 0)
    assert(cc.collect().length == 5)
    // the result reads the final round: <cc dir>/labels_k/part-*
    val ccDir = new Path(cc.inputFiles.head).getParent.getParent
    assert(path(ccDir.getParent.toString) == path(root.toString), s"$ccDir is not under the Scratch root $root")
    Scratch.sweep()
    assert(!fs.exists(ccDir), s"$ccDir survived the sweep")
    assert(fs.listStatus(root).map(_.getPath).toSet == before)
  }

  test("the store queries keep their store under the Scratch root until the sweep") {
    val root = path(scratchRoot().toString) + "/"
    for (q <- Seq("q_model_persist", "q_detector_serve", "q_detector_persist")) {
      val df = SparkEntry.queries(q)(spark, sf)
      assert(df.count() > 0, s"$q returned no rows")
      val stores = df.inputFiles.map(path).filter(_.startsWith(root))
        .map(f => new Path(root + f.stripPrefix(root).takeWhile(_ != '/'))).distinct
      assert(stores.nonEmpty, s"$q reads no store under the Scratch root $root: ${df.inputFiles.mkString(", ")}")
      Scratch.sweep()
      stores.foreach(d => assert(!fs.exists(d), s"$q's store $d survived the sweep"))
    }
  }

  test("in src/main, only Scratch.scala makes temp dirs or registers exit deletion") {
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(main), s"run from the repository root: no $main")
    val offenders = java.nio.file.Files.walk(main).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !f.endsWith("graft/Scratch.scala"))
      .filter { f =>
        val text = java.nio.file.Files.readString(f)
        text.contains("createTempDirectory") || text.contains("deleteOnExit")
      }.toSeq
    assert(offenders.isEmpty, s"scratch directory logic outside Scratch: ${offenders.mkString(", ")}")
  }

  private def fs = new Path("file:/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A local path without its scheme: inputFiles say file:///x, Path says file:/x. */
  private def path(s: String): String = new Path(s).toUri.getPath

  /** The Scratch root: the parent of every dir Scratch hands out. */
  private def scratchRoot(): Path = {
    val probe = new Path(Scratch.materialize(spark.range(1).toDF("x"), "probe").inputFiles.head).getParent
    Scratch.sweep()
    probe.getParent
  }

  test("replay checkpoints stay under the session's checkpoint dir and are removed") {
    val sc = spark.sparkContext
    val root = new org.apache.hadoop.fs.Path(java.nio.file.Files.createTempDirectory("graft_ckroot").toString)
    val fs = root.getFileSystem(sc.hadoopConfiguration)
    sc.setCheckpointDir(root.toString)
    try {
      // setCheckpointDir makes a fresh <uuid> dir inside the given root
      val ckRoot = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
      val ck = graft.queries.StreamQueries.throwawayCkpt(spark)
      assert(ck.getParent == ckRoot, s"$ck is not under $ckRoot")
      assert(fs.exists(ck))
      graft.queries.StreamQueries.dropCkpt(spark, ck)
      assert(!fs.exists(ck))
      // a whole replay leaves nothing behind in the root
      SparkEntry.queries("q_stream_zscore")(spark, sf).count()
      assert(fs.listStatus(ckRoot).isEmpty,
        s"left in $ckRoot: ${fs.listStatus(ckRoot).map(_.getPath).mkString(", ")}")
    } finally {
      // later specs on this context checkpoint where they did before
      org.apache.spark.CheckpointDirReset(sc)
      fs.delete(root, true)
    }
  }
}
