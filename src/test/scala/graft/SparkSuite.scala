package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One local session per suite, built by [[GraftSession]] before the
  * first test and stopped after the last. A suite that needs more (a
  * catalog, a join strategy) sets runtime SQL confs on `spark` in its
  * own `beforeAll`, after `super.beforeAll()`. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  /** Local threads, and so shuffle partitions, of this suite's session. */
  protected def threads: Int = 4

  /** Attempts per task; above 1 only where a spec provokes a retry. */
  protected def taskAttempts: Int = 1

  private var session: SparkSession = _

  protected def spark: SparkSession = session

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    session = GraftSession.local(threads, taskAttempts)
  }

  override protected def afterAll(): Unit =
    try if (session != null) session.stop() finally super.afterAll()
}
