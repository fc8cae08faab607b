package graft

import graft.queries.StreamQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming-replay feed cap (VERDICT r9 #7): feeds must be bounded
  * by a deterministic md5-rank sample so the certification harness'
  * driver memory stays flat at any driver SF. The selection must be
  * exactly ORDER BY (md5(id), id) LIMIT cap — the same filter the
  * oracles replay as a QUALIFY row_number() CTE — and invariant under
  * partitioning.
  */
class FeedCapSpec extends AnyFunSuite with SparkSuite {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("capFeed keeps exactly the cap lowest-(md5,id) rows, matching a JVM-side md5 ranking") {
    import spark.implicits._
    val ids = (0L until 100L)
    val df = ids.map(i => (i, s"payload_$i")).toDF("doc_id", "text")
    val got = StreamQueries.capFeed(df, "doc_id", 40)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ids.sortBy(i => (md5Hex(i.toString), i)).take(40).toSet
    assert(got === want)
  }

  test("capFeed selection is invariant under input partitioning and is a no-op above the cap") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, i * 2.0)).toDF("event_id", "value")
    val a = StreamQueries.capFeed(df.repartition(1), "event_id", 30)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val b = StreamQueries.capFeed(df.repartition(13), "event_id", 30)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    val all = StreamQueries.capFeed(df, "event_id", 1000)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(all === (0L until 100L).toSet, "cap above n must keep every row")
  }

  test("feed caps are documented constants binding at sf0.1 (100k events, 5k docs)") {
    assert(StreamQueries.EventFeedCap === 50000)
    assert(StreamQueries.DocFeedCap === 2000)
  }
}
