package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Production-k BPE: the driver-side trainer (bpeTrainDriver /
  * bpeMergesFast / bpeEncodeFast) must be BIT-IDENTICAL to the distributed
  * k-jobs loop (bpeMerges / bpeEncode) — same pair counts, same argmax tie
  * order, same two-pass leftmost replace — while actually reaching
  * production merge counts (k=1,000 here) in driver time. Plus the frozen-
  * tokenizer cross-corpus path (bpeEncodeWith), which must reproduce the
  * same-corpus result exactly when handed the same merges.
  */
class BpeFastSpec extends AnyFunSuite with SparkSuite {
  private def sfDocs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** Deterministic rich-vocabulary corpus: enough distinct letter patterns
    * that >1,000 merges exist (a word-soup of ~3,000 pseudo-words with
    * Zipf-ish counts).
    */
  private lazy val richCorpus = {
    val rng = new scala.util.Random(0xBEEF)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = (0 until 3000).map { _ =>
      val len = 4 + rng.nextInt(9)
      (0 until len).map(_ => letters(rng.nextInt(26))).mkString
    }
    val docs = (0 until 200).map { d =>
      // Zipf-ish: low ids repeat often
      val ws = (0 until 60).map { _ =>
        val r = rng.nextDouble()
        vocab(((r * r) * vocab.length).toInt.min(vocab.length - 1))
      }
      (d.toLong, ws.mkString(" "))
    }
    spark.createDataFrame(docs).toDF("doc_id", "text")
  }

  test("driver trainer == distributed trainer at k=5 (merges bit-identical)") {
    for (corpus <- Seq(sfDocs, richCorpus)) {
      val slow = TextOps.bpeMerges(corpus, k = 5).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      val fast = TextOps.bpeMergesFast(corpus, k = 5).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(fast.sortBy(_._1).toSeq == slow.sortBy(_._1).toSeq)
    }
  }

  test("broadcast-vocab encode == replace-chain encode at k=5") {
    val slow = TextOps.bpeEncode(sfDocs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val fast = TextOps.bpeEncodeFast(sfDocs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(fast == slow)
  }

  test("k=1,000 trains in driver time; k=5 is its exact prefix") {
    val (m1000, vocab) = TextOps.bpeTrainDriver(richCorpus, k = 1000)
    assert(m1000.length == 1000, s"rich corpus must support 1,000 merges (got ${m1000.length})")
    val m5 = TextOps.bpeMerges(richCorpus, k = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m1000.take(5).toSeq == m5.sortBy(_._1).toSeq,
      "the first 5 production merges must equal the distributed k=5 merges")
    // every vocab word survives round-trip: symbols concatenate back to it
    vocab.foreach { case (w, s) =>
      assert(s.replace("·", "") == w)
      assert(s.split('·').count(_.nonEmpty) >= 1)
    }
  }

  test("more merges never increase a document's token count") {
    val at5 = TextOps.bpeEncodeFast(richCorpus, k = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val at1000 = TextOps.bpeEncodeFast(richCorpus, k = 1000).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(at5.keySet == at1000.keySet)
    at1000.foreach { case (id, (toks, nWords)) =>
      assert(toks <= at5(id)._1, s"doc $id grew from ${at5(id)._1} to $toks tokens")
      assert(toks >= nWords, "every word is at least one token")
      assert(nWords == at5(id)._2)
    }
  }

  test("frozen-tokenizer encode (bpeEncodeWith) reproduces the same-corpus path exactly") {
    val (merges, _) = TextOps.bpeTrainDriver(sfDocs, k = 5)
    val frozen = TextOps.bpeEncodeWith(sfDocs, merges.map(m => (m._2, m._3)).toSeq)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val direct = TextOps.bpeEncodeFast(sfDocs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(frozen == direct)
  }

  test("frozen-tokenizer segmentation runs executor-side: no driver collect, no local vocab scan") {
    // at web scale the distinct-word table reaches 10⁸ rows — segmentation
    // must be a mapPartitions over the distinct-word DataFrame with the
    // merge list broadcast, never a collect() + driver loop
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/operators/TextOps.scala")), "UTF-8")
    val body = src.substring(src.indexOf("def bpeEncodeWith"),
      src.indexOf("def ddQuantiles"))
    assert(!body.contains(".collect()") && !body.contains("createDataFrame"),
      "bpeEncodeWith must not materialize the vocabulary on the driver")
    // job structure: the plan's vocab side derives from the docs relation
    // (a SerializeFromObject/mapPartitions chain), not a LocalTableScan of
    // driver-built rows
    val (merges, _) = TextOps.bpeTrainDriver(sfDocs, k = 5)
    val plan = TextOps.bpeEncodeWith(sfDocs, merges.map(m => (m._2, m._3)).toSeq)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("LocalRelation") && !plan.contains("LocalTableScan"),
      s"vocab side is a driver-local relation:\n$plan")
  }

  test("cross-corpus encode: OOV words segment under whatever merges apply") {
    // tokenizer frozen on the rich corpus, applied to the sf documents —
    // words the trainer never saw must still encode (1 <= toks <= chars)
    val (merges, _) = TextOps.bpeTrainDriver(richCorpus, k = 200)
    val out = TextOps.bpeEncodeWith(sfDocs, merges.map(m => (m._2, m._3)).toSeq).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (toks, nWords) = (r.getLong(1), r.getLong(2))
      assert(toks >= nWords && nWords >= 1)
    }
    // and a hand-checked OOV application: merges (a,b) then (ab,c) on 'abcabc'
    assert(TextOps.bpeApplyMerges("abcabc", Seq(("a", "b"), ("ab", "c"))) == 2L)
    assert(TextOps.bpeApplyMerges("xyz", Seq(("a", "b"))) == 3L)
  }
}
