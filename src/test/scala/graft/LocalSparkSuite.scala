package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite's own `local[4]` session from [[Session.local]], named after
  * the suite and stopped in `afterAll`, so no suite inherits another's
  * session. `sessionConf` carries the few settings a suite needs on top
  * of the shared contract. */
trait LocalSparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected def sessionConf: Map[String, String] = Map.empty

  protected lazy val spark: SparkSession = Session.local(4, suiteName, sessionConf)

  override def afterAll(): Unit =
    try super.afterAll() finally spark.stop()
}
