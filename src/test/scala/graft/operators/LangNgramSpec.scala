package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.tools.LangProfileTrain

/** Cavnar–Trenkle n-gram language ID with the shipped trained profiles:
  * perfect accuracy on a held-out corpus from the same function-word pools
  * (different schedule seed than training), resource reproducibility,
  * determinism under partitioning, and the short-text edge.
  */
class LangNgramSpec extends AnyFunSuite with SparkSuite {
  test("100% accuracy on a held-out corpus (training used seed=1; this is seed=5)") {
    val held = for {
      (lang, _) <- LangProfileTrain.pools
      i <- 0 until 30
    } yield (lang.hashCode.toLong * 100 + i, lang,
      LangProfileTrain.sentence(lang, i.toLong, seed = 5L))
    val df = spark.createDataFrame(held).toDF("doc_id", "lang", "text")
    val pred = TextOps.langIdNgram(df, TextOps.langProfiles(spark))
    val joined = df.join(pred, "doc_id")
    val acc = joined.where("lang = pred_lang").count().toDouble / joined.count()
    assert(acc == 1.0, s"held-out accuracy $acc < 1.0")
  }

  test("the shipped resource reproduces from the trainer byte-for-byte") {
    assert(TextOps.langProfileRows ==
      LangProfileTrain.train().map(r => (r._1, r._2, r._3)))
  }

  test("deterministic under partitioning") {
    val held = for {
      (lang, _) <- LangProfileTrain.pools
      i <- 0 until 10
    } yield (lang.hashCode.toLong * 100 + i,
      LangProfileTrain.sentence(lang, i.toLong, seed = 9L))
    def run(parts: Int): Map[Long, String] = {
      val df = spark.createDataFrame(held).toDF("doc_id", "text").repartition(parts)
      TextOps.langIdNgram(df, TextOps.langProfiles(spark)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(run(1) == run(13))
  }

  test("texts shorter than one trigram still classify (whole-text fallback)") {
    val df = spark.createDataFrame(Seq((1L, "el"), (2L, ""))).toDF("doc_id", "text")
    val got = TextOps.langIdNgram(df, TextOps.langProfiles(spark)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.contains(1L) && got.contains(2L)) // deterministic, no crash
  }
}
