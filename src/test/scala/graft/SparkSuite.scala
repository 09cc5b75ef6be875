package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite's shared session, built through [[Sessions.local]]. The
  * session is lazy and stopped after the suite only if a test created
  * it, so a suite whose tests all cancel (no testdata) never pays — or
  * fails on — a Spark startup in teardown. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  /** Confs this suite's assertions need on top of the shared ones. */
  protected def sessionOverrides: Map[String, String] = Map.empty

  private var started = false

  protected lazy val spark: SparkSession = {
    started = true
    Sessions.local(overrides = sessionOverrides)
  }

  override def afterAll(): Unit =
    try if (started) spark.stop() finally super.afterAll()
}
