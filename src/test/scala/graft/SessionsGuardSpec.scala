package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every session comes from `graft.Sessions`: no other source under
  * `src/main` or `src/test` builds one, reads the slot count from the
  * environment or keeps the retired two-size scaling harness. The needles
  * are split so that this file does not match them.
  */
class SessionsGuardSpec extends AnyFunSuite {

  private val sources: Seq[(String, String)] = Seq("src/main", "src/test").flatMap { d =>
    val dir = Paths.get(d)
    assert(Files.isDirectory(dir), s"run from the project root: $d not found")
    scala.util.Using.resource(Files.walk(dir)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }.map((p: Path) => p.toString -> Files.readString(p))
  }

  private def filesWith(needle: String): Seq[String] =
    sources.collect { case (p, s) if s.contains(needle) => p }.sorted

  test("only the factory calls the session builder") {
    assert(filesWith("SparkSession" + ".builder") === Seq("src/main/scala/graft/Sessions.scala"))
  }

  test("one file reads SPARK_GRAFT_CPUS from the environment") {
    val env = ("""sys\.env[^\n]*""" + "SPARK_GRAFT" + "_CPUS").r
    assert(sources.collect { case (p, s) if env.findFirstIn(s).isDefined => p } ===
      Seq("src/main/scala/graft/Sessions.scala"))
  }

  test("no session helper or scaling harness outside the factory") {
    for (needle <- Seq("mk" + "Session", "object " + "Scale", "SPARK_GRAFT" + "_NLO", "SPARK_GRAFT" + "_NHI",
        "SPARK_GRAFT" + "_ROUNDS", "\"local[" + "8]\"", "\"local[" + "32]\""))
      assert(filesWith(needle).isEmpty, needle)
  }
}
