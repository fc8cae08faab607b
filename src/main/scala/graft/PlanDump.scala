package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence the optimization rounds commit under plans/rN/. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> [query ...]
  * writes <outDir>/<query>_<suffix>.txt for each name, or for every query
  * when no name is given. Reads the data dir from SPARK_GRAFT_SF_DIR like
  * Bench; the session is Bench's ([[GraftSession]]) so the captured plan
  * is the one the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
            println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch {
            case e: Throwable => System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          }
          spark.sqlContext.clearCache()
          Scratch.sweep()
      }
    }
    spark.stop()
  }
}
