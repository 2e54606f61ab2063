package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite's Spark session: its own `newSession()` of one root session per
  * test JVM (`Sessions.local(4)`), active and default while the suite runs,
  * so its temp views, registered functions and SQL confs stay its own. Set
  * runtime SQL confs on `spark` in `beforeAll`, after `super.beforeAll()`. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected var spark: SparkSession = _

  /** Static settings the root must be built with; a suite that names any
    * gets a root of its own, and the next suite rebuilds the shared one. */
  protected def rootConf: Seq[(String, String)] = Nil

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = SparkSuite.rootFor(rootConf).newSession()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
  }

  /** Leaves the shared context as it found it: no cached tables, persisted
    * RDDs or running streaming queries. */
  override def afterAll(): Unit =
    try if (spark != null) {
      spark.streams.active.foreach(_.stop())
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    } finally super.afterAll()
}

object SparkSuite {
  private var root: SparkSession = _
  private var rootConf: Seq[(String, String)] = Nil

  private def rootFor(conf: Seq[(String, String)]): SparkSession = synchronized {
    if (root == null || root.sparkContext.isStopped || conf != rootConf) {
      if (root != null) root.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      root = Sessions.local(4, conf: _*)
      root.sparkContext.setLogLevel("ERROR")
      rootConf = conf
    }
    root
  }
}
