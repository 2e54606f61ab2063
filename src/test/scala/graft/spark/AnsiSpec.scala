package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Every contract query must survive a session with ANSI mode ON (Spark 4's
  * default): an external driver invoking SparkEntry.queries with its own
  * session must not hit wrapping-arithmetic or implicit-cast failures.
  * (Round-1 minhash relied on wrapping 64-bit multiplication and threw here;
  * the xxhash64 permutation family fixed it — this spec keeps it fixed.)
  */
class AnsiSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.ansi.enabled", "true") // the point of this spec
  }

  test("all contract queries complete under spark.sql.ansi.enabled=true") {
    val failures = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        assert(fn(spark, sfDir).count() >= 0L)
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, s"ANSI-mode failures:\n${failures.mkString("\n")}")
  }
}
