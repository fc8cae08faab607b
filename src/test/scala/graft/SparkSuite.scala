package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One [[GraftSession]] per suite: started by the first test that touches
  * `spark`, stopped after the suite's last test, so no suite inherits
  * another's context through `getOrCreate`. Every suite runs at
  * `local[2]`, whatever the host's core count. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  private var started: Option[SparkSession] = None

  protected lazy val spark: SparkSession = {
    val s = GraftSession.start(2)
    started = Some(s)
    s
  }

  override def afterAll(): Unit =
    try started.foreach(_.stop()) finally super.afterAll()
}
