package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class AsofSpec extends AnyFunSuite with SparkSuite {

  private def ts(m: Int) = new Timestamp(1704067200000L + m * 60000L)

  test("backward as-of join picks the latest right row at or before each left ts") {
    import spark.implicits._
    val left = Seq(
      ("a", ts(0), 1.0),  // before any right row → null
      ("a", ts(10), 2.0), // exactly at right ts(10) → 100.0
      ("a", ts(25), 3.0), // between ts(20) and ts(30) → 200.0
      ("b", ts(25), 4.0)  // other key, after its only right row → 900.0
    ).toDF("k", "ts", "v")
    val right = Seq(
      ("a", ts(10), 100.0), ("a", ts(20), 200.0), ("a", ts(30), 300.0),
      ("b", ts(5), 900.0)
    ).toDF("k", "ts", "rv")
    val out = TS.asofJoinBackward(left, right, Seq("k"), "ts", Seq("rv"))
      .orderBy("k", "ts").collect()
    assert(out.length === 4)
    assert(out(0).isNullAt(out(0).fieldIndex("rv")), "row before any right must be null")
    assert(out(1).getAs[Double]("rv") === 100.0, "tie at same ts takes the right row")
    assert(out(2).getAs[Double]("rv") === 200.0)
    assert(out(3).getAs[Double]("rv") === 900.0)
  }
}
