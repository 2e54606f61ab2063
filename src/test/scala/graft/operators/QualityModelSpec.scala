package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The shipped quality-model weights are a real trained model, not a stub:
  * graft.tools.QualityTrain fit a per-language logistic regression on the
  * EVEN-doc_id half of sf0.001 (positives = natural docs, negatives =
  * deterministic spam/near-empty corruptions) and wrote the resource this
  * suite loads. The floor here scores the ODD half — rows the trainer never
  * saw — through the production integer scoring path.
  */
class QualityModelSpec extends AnyFunSuite with SparkSuite {
  test("held-out accuracy floor: >= 0.9 on the half the trainer never saw") {
    val heldOut = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where("doc_id % 2 = 1")
    // the label rides the scoring id (ids stay unique: doc_id*10+label)
    val lab = graft.tools.QualityTrain.labeled(heldOut)
      .selectExpr("doc_id * 10 + label AS doc_id", "lang", "text")
    val acc = TextOps.qualityModelScore(lab, TextOps.qualityWeights(spark), threshold = 0L)
      .selectExpr("CAST(pass = CAST(doc_id % 10 AS INT) AS INT) AS ok")
      .agg(avg("ok")).head.getDouble(0)
    assert(acc >= 0.9, f"held-out accuracy $acc%.4f < 0.9")
  }

  test("resource weights carry the learned structure (not arbitrary constants)") {
    val w = TextOps.qualityWeights(spark).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(w.keySet == Set("en", "de", "es", "fr", "zh"))
    w.foreach { case (lang, (_, wTokens, wChars, wStop)) =>
      // spam negatives repeat short tokens → token count alone is anti-
      // quality; chars (the chars-per-token slope) and the stopword count
      // are pro-quality — in EVERY language, because the training corpus
      // shares one word pool
      assert(wTokens < 0, s"$lang w_tokens")
      assert(wChars > 0, s"$lang w_chars")
      assert(wStop > 0, s"$lang w_stop")
    }
  }
}
