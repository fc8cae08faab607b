package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `TS.fillGaps` is one window pass per series. On grid-aligned input it
  * must give the same rows, bit for bit, as the grid-plus-left-join form
  * it replaced: a per-key min/max aggregate, an exploded `sequence` grid,
  * and a left join of the observations onto it. */
class FillGapsSpec extends AnyFunSuite with SparkSuite {

  /** The replaced formulation, kept here as the reference. */
  private def gridJoinFillGaps(df: DataFrame, s: TSSchema, stepSeconds: Long,
                               fill: Option[Double]): DataFrame = {
    val grid = df
      .groupBy(s.keyCols: _*)
      .agg(min(col(s.ts)).as("_t0"), max(col(s.ts)).as("_t1"))
      .select((s.keyCols :+ explode(
        sequence(col("_t0"), col("_t1"), expr(s"interval $stepSeconds seconds"))
      ).as(s.ts)): _*)
    val joined = grid.join(df, s.keys :+ s.ts, "left")
    fill match {
      case Some(v) => joined.withColumn(s.value, coalesce(col(s.value), lit(v)))
      case None    => joined
    }
  }

  /** Rows in a canonical order, doubles as their raw bits, so -0.0, NaN
    * and null compare exactly. */
  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.mkString("|"))

  private def assertSame(df: DataFrame, s: TSSchema, step: Long, fill: Option[Double]): Unit = {
    val got = TS.fillGaps(df, s, step, fill)
    val want = gridJoinFillGaps(df, s, step, fill)
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    assert(canon(got) == canon(want))
  }

  private val H = 3600L * 1000L
  private def at(hour: Int) = new java.sql.Timestamp(1704067200000L + hour * H)

  /** Series a: gaps of 1, 2 and 3 hours, an observed null value, -0.0
    * and NaN; series b: one point; a null-ts row in a and in c, where c
    * has nothing else. `n` is a non-key column that rides along. */
  private lazy val points: DataFrame = {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("g", IntegerType),
      StructField("ts", TimestampType), StructField("value", DoubleType),
      StructField("n", LongType)))
    val rows = Seq(
      Row("a", 1, at(0), 1.5, 3L), Row("a", 1, at(1), -0.0, 1L), Row("a", 1, at(3), null, 2L),
      Row("a", 1, at(6), Double.NaN, 1L), Row("a", 1, at(10), 7.25, 4L), Row("a", 1, null, 9.0, 1L),
      Row("b", 1, at(5), 2.0, 1L),
      Row("a", 2, at(2), 4.0, 1L), Row("a", 2, at(4), 5.0, 1L),
      Row("c", 1, null, 1.0, 1L))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  test("gaps, a one-point series and null ts: same rows as the grid join, zero fill") {
    assertSame(points.drop("g"), TSSchema(keys = Seq("k")), 3600L, Some(0.0))
  }

  test("fill = None keeps the holes null, as the grid join does") {
    assertSame(points.drop("g"), TSSchema(keys = Seq("k")), 3600L, None)
  }

  test("two key columns: each (k, g) is its own series") {
    val s = TSSchema(keys = Seq("k", "g"))
    assertSame(points, s, 3600L, Some(0.0))
    assertSame(points, s, 3600L, None)
    // series (a, 2) at a 2 h step: the grid follows the step
    assertSame(points.where(col("g") === 2), s, 7200L, Some(-1.0))
  }

  test("filled points: the value is the fill, other non-key columns are null") {
    val out = TS.fillGaps(points.drop("g"), TSSchema(keys = Seq("k")), 3600L, Some(0.0))
      .where(col("k") === "a").orderBy("ts").collect()
    assert(out.length == 11, out.mkString("\n"))
    val gap = out(5) // hour 5: no observation in either group
    assert(gap.getAs[Double]("value") == 0.0 && gap.isNullAt(gap.fieldIndex("n")))
    assert(out.forall(r => !r.isNullAt(r.fieldIndex("ts"))))
  }

  test("the hourly event series: dense grid identical to the grid join") {
    val hourly = Tables.hourlyEvents(spark, "/root/testdata/sf0.001").drop("n")
    assertSame(hourly, TSSchema(keys = Seq("event_type")), 3600L, Some(0.0))
    assertSame(hourly, TSSchema(keys = Seq("event_type")), 3600L, None)
  }
}
