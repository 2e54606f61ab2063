package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Quality-ranked cluster keepers: argmax semantics, tie-break, and the
  * no-window plan shape.
  */
class KeepBestSpec extends AnyFunSuite with SparkSuite {
  private def kb(labels: Seq[(Long, Long)], quality: Seq[(Long, Long)]): Map[Long, (Long, Long, Int)] = {
    val l = spark.createDataFrame(labels).toDF("doc_id", "cluster_id").repartition(3)
    val q = spark.createDataFrame(quality).toDF("doc_id", "quality")
    Dedup.keepBest(l, q).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getInt(4)))).toMap
  }

  test("highest quality wins; exactly one keeper per cluster") {
    val r = kb(
      labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L),
      quality = Seq(1L -> 10L, 2L -> 99L, 3L -> 50L, 7L -> 5L, 8L -> 5L))
    assert(r(2L) == ((1L, 2L, 1))) // quality 99 keeps
    assert(r(1L) == ((1L, 2L, 0)) && r(3L) == ((1L, 2L, 0)))
    // tie (5 == 5) breaks to the smaller id
    assert(r(7L) == ((7L, 7L, 1)) && r(8L) == ((7L, 7L, 0)))
    assert(r.values.count(_._3 == 1) == 2)
  }

  test("argmax is a partial-aggregatable min(struct), never a Window over members") {
    val l = spark.createDataFrame(Seq(1L -> 1L, 2L -> 1L)).toDF("doc_id", "cluster_id")
    val q = spark.createDataFrame(Seq(1L -> 3L, 2L -> 4L)).toDF("doc_id", "quality")
    val p = Dedup.keepBest(l, q).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains(") Window"), s"keeper argmax must not be a window:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"expected a partial-aggregated argmax:\n$p")
  }
}
