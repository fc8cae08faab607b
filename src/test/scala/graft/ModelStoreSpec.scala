package graft

import graft.models.ModelStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ModelStore persistence contract: params survive the parquet round
  * trip exactly, forecasts from LOADED params equal forecasts from the
  * in-memory fit, and a non-conforming table fails at load, not three
  * operators later.
  */
class ModelStoreSpec extends AnyFunSuite with SparkSuite {

  private val S = TSSchema(keys = Seq("event_type"))
  private def hourly = Tables.hourlyEvents(spark, "/root/testdata/sf0.001").drop("n")

  test("params round-trip through parquet bit-exactly and forecasts match the in-memory fit") {
    val path = java.nio.file.Files.createTempDirectory("modelstore").toString
    val fitted = ModelStore.fitBattery(hourly, S)
    ModelStore.save(fitted, path)
    val loaded = ModelStore.load(spark, path)

    val orig = fitted.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    val back = loaded.select("event_type", "model", "param", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(back === orig, "parquet round trip must preserve every param bit-exactly")

    val a = ModelStore.forecast(fitted, Seq("event_type"), steps = 12).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getDouble(3)).toMap
    val b = ModelStore.forecast(loaded, Seq("event_type"), steps = 12).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(a.nonEmpty && b === a)
  }

  test("forecast covers every model for every series, with no nulls") {
    val fc = ModelStore.forecast(ModelStore.fitBattery(hourly, S), Seq("event_type"), steps = 6)
    val nSeries = hourly.select("event_type").distinct().count()
    assert(fc.count() === nSeries * 4 * 6)
    assert(fc.where(col("fcst").isNull).count() === 0)
  }

  test("load rejects a table that is not a params table") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("notparams").toString
    Seq((1, "x")).toDF("id", "stuff").write.mode("overwrite").parquet(path)
    val e = intercept[IllegalArgumentException](ModelStore.load(spark, path))
    assert(e.getMessage.contains("missing columns"))
  }
}
