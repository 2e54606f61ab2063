package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Incoming anchor-text profile: hand-computed argmax, deterministic
  * tie-break, and the two-exchange plan bound.
  */
class AnchorTargetsSpec extends AnyFunSuite with SparkSuite {
  private def profile(edges: Seq[(String, String)]): Map[String, (Long, Long, String, Long)] = {
    val df = spark.createDataFrame(edges).toDF("target", "anchor").repartition(3)
    UrlOps.anchorTargets(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
  }

  test("top anchor by count; totals and phrasing counts exact") {
    val r = profile(Seq(
      "t" -> "home", "t" -> "home", "t" -> "home page", "u" -> "x"))
    assert(r("t") == ((3L, 2L, "home", 2L)))
    assert(r("u") == ((1L, 1L, "x", 1L)))
  }

  test("count ties break to the byte-wise smallest anchor (deterministic argmax)") {
    val r = profile(Seq("t" -> "beta", "t" -> "alpha", "t" -> "gamma", "t" -> "beta", "t" -> "alpha"))
    assert(r("t") == ((5L, 3L, "alpha", 2L)))
  }

  test("plan: one count shuffle + one shared target-keyed window exchange") {
    val df = spark.createDataFrame(Seq("t" -> "a", "u" -> "b")).toDF("target", "anchor")
    val p = UrlOps.anchorTargets(df).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val ex = raw"\(\d+\) Exchange".r.findAllIn(p).size
    assert(ex <= 2, s"anchor profile must shuffle at most twice:\n$p")
  }
}
