package graft

import org.scalatest.funsuite.AnyFunSuite

/** The queries that persist intermediates for iterative fitting must not
  * leak cached blocks past their own construction, and a stream replay
  * must not leave its memory-sink view (and the rows behind it): in a
  * long-lived session (or the 100+-query bench) leaks accumulate until
  * they evict working memory. Runs each offender end-to-end and asserts
  * the persistence registry and the catalog are clean afterwards.
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
