package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One [[GraftSession]] per suite: started by the first test that touches
  * `spark`, stopped after the suite's last test, so no suite inherits
  * another's context through `getOrCreate`. Every suite runs at
  * `local[2]`, whatever the host's core count. The StateStore's
  * maintenance thread is stopped with the session, so it does not go on
  * polling the stopped context's state stores. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  private var started: Option[SparkSession] = None

  protected lazy val spark: SparkSession = {
    val s = GraftSession.start(2)
    started = Some(s)
    s
  }

  override def afterAll(): Unit =
    try started.foreach { s => s.stop(); StateStore.stop() } finally super.afterAll()
}
