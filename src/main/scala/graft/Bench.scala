package graft
import org.apache.spark.sql.SparkSession

/** The timed suite. Usage:
  *   runMain graft.Bench [--passes N] [query ...]
  * Reads the data dir from SPARK_GRAFT_SF_DIR and the core count from
  * SPARK_GRAFT_CPUS (see [[GraftSession]]). With no query names it runs
  * all queries, writes BENCH_FULL*.json and BENCH_LAST.json, and prints
  * the compact JSON line last; names filter the run and write no files.
  * `--passes N` first runs the selected queries N times in this JVM and
  * prints one `{"pass":p,...}` line per pass: warm steady-state timings
  * for local iteration, which diagnose but are not the measured suite.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val (passes, names) = args.toList match {
      case "--passes" :: n :: rest if n.toIntOption.exists(_ > 0) => (n.toInt, rest)
      case "--passes" :: _ =>
        System.err.println("[bench] usage: Bench [--passes N] [query ...], N a positive integer")
        sys.exit(2)
      case rest => (0, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.start(cpus)
    Tables.warnOnSchemaDrift(spark, sfDir)
    // untimed warmup: JIT/codegen/parquet-footer costs land here, not on
    // whichever query happens to run first
    try SparkEntry.queries.get("q_metrics").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => }
    val only = names.toSet // optional query-name filter for local iteration
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      System.err.println(s"[bench] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    if (only.nonEmpty && (only -- unknown).isEmpty) {
      // a fully-unmatched filter would print a vacuous zero-total JSON
      System.err.println("[bench] filter matched no queries; exiting")
      spark.stop()
      sys.exit(2)
    }
    val selected = SparkEntry.queries.keys.toSeq.sorted.filter(q => only.isEmpty || only(q))
    (1 to passes).foreach { p =>
      val times = selected.map(name => name -> time(spark, sfDir, name, name)._1)
      println(s"""{"pass":$p,${times.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString(",")}}""")
    }
    val results = selected.map { name =>
      val (dt, ok) = time(spark, sfDir, name, name)
      (name, dt, ok)
    }
    def qjson(rs: Seq[(String, Double, Boolean)]): String =
      rs.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) fmt(v) else -1.0) }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false) => k }
    val errors = errs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // p50-of-3 for the 20 slowest: a single-pass timing on a contended
    // host is a variance band (see VERDICT r8 — 2× uniform host-regime
    // swings); the median of three runs is the durable round-over-round
    // signal. Full runs only; +2 reruns × 20 queries of extra wall time.
    val top = results.filter(_._3).sortBy(-_._2).take(20)
    val reruns: Seq[(String, Seq[Double])] =
      if (only.nonEmpty) Seq.empty
      else top.map { case (name, t1, _) =>
        val more = (1 to 2).map(_ => time(spark, sfDir, name, s"$name (rerun)")._1)
        name -> (t1 +: more)
      }
    def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val top20Json = reruns.map { case (k, rs) =>
      "\"" + k + "\":{\"p50\":" + fmt(p50(rs)) + ",\"mean\":" + fmt(rs.sum / rs.size) +
        ",\"runs\":[" + rs.map(fmt).mkString(",") + "]}"
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qjson(results)},"top20":$top20Json,"errors":$errors,"sf":"$sfDir"}"""
    // Full per-query map: one line on stdout + repo files. The driver's
    // log capture keeps only the LAST ~2000 characters of output, so this
    // line scrolls off for a 423-query suite — the files are the durable
    // copy a reader can diff round over round. The per-cpu name exists
    // because r12's driver session ran Bench twice (32 then 8 cores) and
    // the second run clobbered the first's per-query map (VERDICT r12
    // #2). Full runs only (a filtered iteration run must not clobber the
    // full-suite record), and never fatal: the stdout lines below are the
    // primary channel.
    def writeJson(name: String, body: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(name), body + "\n")
      catch { case e: Exception => System.err.println(s"[bench] $name not written: ${e.getMessage}") }
    if (only.isEmpty) {
      writeJson("BENCH_FULL.json", full)
      writeJson(s"BENCH_FULL_c$cpus.json", full)
    }
    println(full)
    // Compact line LAST so it lands inside the capture window and parses:
    // headline total, error count (first few names), and the slowest
    // queries — the part of the per-query map worth reading in a tail.
    val slow = results.filter(_._3).sortBy(-_._2).take(20)
    val slowJson =
      if (reruns.nonEmpty)
        reruns.map { case (k, rs) => "\"" + k + "\":" + fmt(p50(rs)) }.mkString("{", ",", "}")
      else qjson(slow)
    val errHead = errs.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errs.size},"errors_head":$errHead,"slowest":$slowJson,"queries_full":"BENCH_FULL.json","sf":"$sfDir"}"""
    // The one-line contract JSON must survive the driver's capture AND a
    // naive last-line parser: r11/r12 both parsed to null because sbt
    // wrapped the line as "[info] {...}" with an "[success] Total time"
    // line after it (VERDICT r12 #2). Three channels now: (1) stdout —
    // unprefixed since build.sbt routes the forked JVM through
    // StdoutOutput and suppresses the [success] epilogue, so this IS the
    // last line; (2) a stable file BENCH_LAST.json a driver can read
    // directly; (3) the full map files above.
    if (only.isEmpty) writeJson("BENCH_LAST.json", compact)
    println(compact)
    spark.stop()
  }

  private def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Run one query once under `label`: time its `count()`, then drop the
    * DataFrame caches it registered (e.g. MinHash signature reuse) and
    * its scratch parquet, so timings stay isolated and a long session
    * does not accumulate dead cached blocks. Returns (seconds, ok). */
  private def time(spark: SparkSession, sfDir: String, name: String, label: String): (Double, Boolean) = {
    spark.sparkContext.setJobDescription(label) // label jobs per query (guide §1.5)
    val t0 = System.nanoTime()
    val ok =
      try { SparkEntry.queries(name)(spark, sfDir).count(); true }
      catch { case e: Throwable => System.err.println(s"[bench] $label FAILED: ${e.getMessage}"); false }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.sqlContext.clearCache()
    Scratch.sweep()
    (dt, ok)
  }
}
