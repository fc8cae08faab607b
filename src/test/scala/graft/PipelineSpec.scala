package graft

import graft.operators.Pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** cupik-style Pipeline: the remover step must null-and-interpolate
  * exactly the IQR outliers and nothing else, and the chained fit must
  * equal manual composition of its steps.
  */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  private val S = TSSchema(keys = Seq("event_type"))
  private def hourly = Tables.hourlyEvents(spark, "/root/testdata/sf0.001").drop("n")

  test("iqrRemover preserves the grid and changes exactly the outlier rows") {
    val in = hourly
    val out = Pipeline.iqrRemover(3.0)(in, S)
    assert(out.count() === in.count(), "remover must not add or drop rows")
    val outliers = graft.detectors.Detectors.outlierIqr(in, S)
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSet
    assert(outliers.nonEmpty, "fixture should contain at least one IQR outlier")
    val changed = in.as("a").join(out.as("b"), Seq("event_type", "ts"))
      .where(col("a.value") =!= col("b.value"))
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSet
    assert(changed === outliers, s"changed rows $changed != detected outliers $outliers")
  }

  test("chained fit equals manual composition of the steps") {
    val s1: Pipeline.Step = Pipeline.iqrRemover(3.0)
    val s2: Pipeline.Step = (d, sc) => d.groupBy(sc.keyCols: _*)
      .agg(round(avg(sc.value), 6).as("mean_clean"))
    val chained = Pipeline("remover" -> s1, "agg" -> s2).fit(hourly, S)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val manual = s2(s1(hourly, S), S)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(chained === manual)
  }
}
