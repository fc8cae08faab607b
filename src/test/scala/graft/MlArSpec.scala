package graft

import graft.models.MlAr
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The exact-OLS global AR (q_ml_ar's oracle-checkable path) must agree
  * with the MLlib LinearRegression variant — MLlib standardizes
  * internally, so agreement is approximate but tight on a well-scaled
  * problem.
  */
class MlArSpec extends AnyFunSuite with SparkSuite {

  test("forecastExact tracks the MLlib fit") {
    import spark.implicits._
    val s = TSSchema(keys = Seq("event_type"))
    val rows = for {
      k <- Seq("a", "b")
      i <- 0 until 240
    } yield (k,
      new Timestamp(1704067200000L + i * 3600000L),
      50.0 + (if (k == "a") 10 else -5) * math.sin(2 * math.Pi * (i % 24) / 24) + 0.05 * i + 0.3 * math.cos(i * 1.7))
    val df = rows.toDF("event_type", "ts", "value")
    val exact = MlAr.forecastExact(df, s).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val mllib = MlAr.forecast(df, s).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact.keySet === mllib.keySet)
    exact.foreach { case (k, v) =>
      assert(math.abs(v - mllib(k)) < 0.05 * math.abs(v) + 0.5, s"$k: exact=$v mllib=${mllib(k)}")
    }
  }
}
