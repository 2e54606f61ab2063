package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Trains the shipped quality-model weights (resources/graft/
  * quality_weights.tsv) — the round-3 verdict's "ship one real weight set"
  * item: the inference plumbing in [[TextOps.qualityModelScore]] was real
  * from day one; this replaces its declared-stub weight table with a
  * deterministically TRAINED per-language logistic regression over the same
  * three integer features (f_tokens, f_chars, f_stop).
  *
  * Labeled set (fully deterministic, derived from the sf0.001 corpus):
  *   positive = the natural documents (EVEN doc_ids only — the odd half is
  *              the held-out set the accuracy-floor spec scores);
  *   negative = per-doc corruptions in the classic low-quality shapes a
  *              fastText-style quality gate targets:
  *                doc_id%3==0 → keyword-stuffing spam ('buy' × n_tokens)
  *                doc_id%3==1 → character spam ('x' × n_tokens)
  *                doc_id%3==2 → near-empty page (first 2 words)
  *              (no-whitespace text walls are left to the compression-ratio
  *              detector — a linear model over these features cannot and
  *              should not carry them).
  *
  * Training: per-lang logistic regression, z-scored features, full-batch
  * gradient descent (500 steps, lr 0.5, zero init — no randomness
  * anywhere), then the normalization is folded back into an affine form
  * and scaled to BIGINT (×10^4) so the scoring stays the all-integer
  * broadcast-join dot product the DuckDB oracle replays bit-for-bit.
  * Decision threshold after folding: score >= 0.
  *
  * Usage: runMain graft.tools.QualityTrain [sfDir] [outTsv]
  * The committed resource is the output of exactly this program on
  * /root/testdata/sf0.001 — rerun it to regenerate.
  */
object QualityTrain {

  /** Deterministic corruption set: (doc_id, lang, text, label). */
  def labeled(docs: DataFrame): DataFrame = {
    val pos = docs.selectExpr("doc_id", "lang", "text", "CAST(1 AS INT) AS label")
    val neg = docs.selectExpr("doc_id", "lang",
      s"""CASE doc_id % 3
         |  WHEN 0 THEN array_join(array_repeat('buy', CAST(${TextOps.tokensExpr} AS INT)), ' ')
         |  WHEN 1 THEN array_join(array_repeat('x', CAST(${TextOps.tokensExpr} AS INT)), ' ')
         |  ELSE array_join(slice(split(text, ' '), 1, 2), ' ')
         |END AS text""".stripMargin,
      "CAST(0 AS INT) AS label")
    pos.unionAll(neg)
  }

  /** (lang, label, f_tokens, f_chars, f_stop) rows. */
  def features(labeled: DataFrame): DataFrame =
    labeled.selectExpr("lang", "label",
      s"${TextOps.tokensExpr} AS f_tokens",
      "CAST(length(text) AS BIGINT) AS f_chars",
      s"${TextOps.markerExpr("the")} AS f_stop")

  /** Per-lang logistic regression → integer affine weights (w_bias,
    * w_tokens, w_chars, w_stop), scale 10^4.
    */
  def train(feats: Array[(String, Int, Long, Long, Long)]): Map[String, (Long, Long, Long, Long)] = {
    feats.groupBy(_._1).map { case (lang, rows) =>
      val xs = rows.map(r => Array(r._3.toDouble, r._4.toDouble, r._5.toDouble))
      val ys = rows.map(_._2.toDouble)
      val d = 3
      val mean = Array.tabulate(d)(j => xs.map(_(j)).sum / xs.length)
      val sd = Array.tabulate(d) { j =>
        val v = xs.map(x => (x(j) - mean(j)) * (x(j) - mean(j))).sum / xs.length
        if (v < 1e-12) 1.0 else math.sqrt(v)
      }
      val z = xs.map(x => Array.tabulate(d)(j => (x(j) - mean(j)) / sd(j)))
      var w = new Array[Double](d)
      var b = 0.0
      val lr = 0.5
      var it = 0
      while (it < 500) {
        val gw = new Array[Double](d)
        var gb = 0.0
        var i = 0
        while (i < z.length) {
          val m = b + (0 until d).map(j => w(j) * z(i)(j)).sum
          val p = 1.0 / (1.0 + math.exp(-m))
          val err = p - ys(i)
          var j = 0
          while (j < d) { gw(j) += err * z(i)(j); j += 1 }
          gb += err
          i += 1
        }
        var j = 0
        while (j < d) { w(j) -= lr * gw(j) / z.length; j += 1 }
        b -= lr * gb / z.length
        it += 1
      }
      // fold z-scoring back: score = b - Σ w_j m_j / s_j + Σ (w_j / s_j) x_j
      val scale = 10000.0
      val wRaw = Array.tabulate(d)(j => w(j) / sd(j))
      val bRaw = b - (0 until d).map(j => wRaw(j) * mean(j)).sum
      lang -> (math.round(bRaw * scale), math.round(wRaw(0) * scale),
        math.round(wRaw(1) * scale), math.round(wRaw(2) * scale))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outTsv = if (args.length > 1) args(1)
    else "src/main/resources/graft/quality_weights.tsv"
    // local[4], not the host's count: the fit's double sums follow the row
    // order, and the committed weights were trained at four slots
    val spark = graft.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val trainDocs = docs.where("doc_id % 2 = 0")
    val feats = features(labeled(trainDocs)).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val weights = train(feats)
    // report train + held-out accuracy via the REAL integer scoring path
    val wDf = spark.createDataFrame(
      weights.toSeq.map { case (l, (wb, wt, wc, ws)) => (l, wb, wt, wc, ws) })
      .toDF("lang", "w_bias", "w_tokens", "w_chars", "w_stop")
    def acc(set: DataFrame): Double = {
      // the label rides the scoring id (doc_id*10+label — ids stay unique)
      val lab = labeled(set).selectExpr("doc_id * 10 + label AS doc_id", "lang", "text")
      TextOps.qualityModelScore(lab, wDf, threshold = 0L)
        .selectExpr("CAST(pass = CAST(doc_id % 10 AS INT) AS INT) AS ok")
        .agg(avg("ok")).head.getDouble(0)
    }
    val sorted = weights.toSeq.sortBy(_._1)
    val lines = "# lang\tw_bias\tw_tokens\tw_chars\tw_stop  (trained by graft.tools.QualityTrain on sf0.001; scale 1e4; threshold 0)" +:
      sorted.map { case (l, (wb, wt, wc, ws)) => s"$l\t$wb\t$wt\t$wc\t$ws" }
    java.nio.file.Files.write(java.nio.file.Paths.get(outTsv),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"QUALITY_TRAIN wrote $outTsv")
    sorted.foreach { case (l, w) => println(s"  $l -> $w") }
    println(f"  train_acc=${acc(trainDocs)}%.4f heldout_acc=${acc(docs.where("doc_id % 2 = 1"))}%.4f")
    spark.stop()
  }
}
