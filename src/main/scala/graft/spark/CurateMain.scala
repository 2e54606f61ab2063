package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.Warc
import graft.operators.{Dedup, TextOps}

/** End-to-end training-data curation pipeline — the composed product
  * surface: crawl archive in, curated text corpus out.
  *
  *   WARC ingest (charset-normalized, streaming DSv2 reader)
  *     → extraction kernel (tokenizer + tree construction + boilerplate
  *       strip; narrow mapPartitions, lineage rows on the side)
  *     → URL blocklist gate (UT1-style category lists, broadcast domain
  *       rules + codegen'd path keywords — the cheapest filter, first)
  *     → text features (token count, language ID)
  *     → quality floor (n_tokens ≥ minTokens)
  *     → Gopher rule gate (word-count/word-length bounds, symbol ratios,
  *       alphabetic-word fraction — the integer-exact conjunction)
  *     → repetition floor (Gopher-style: top-word fraction ≤ maxTopWordFrac)
  *     → PII scrub (emails/phones → typed placeholders; a byte-level no-op
  *       on clean text — the content contract survives)
  *     → exact dedup (md5 keeper per text)
  *     → MinHash/LSH near-dup removal (verified Jaccard ≥ 0.6, connected
  *       components over the pair set; each cluster keeps its min doc_id)
  *     → decontamination (drop docs sharing an 8-word n-gram with the
  *       held-out eval slice; eval grams broadcast)
  *     → curated parquet + one JSON report line with per-stage counts.
  *
  * Every stage is one of the engine's tested operators; the composition
  * adds no new shuffles beyond each operator's own (extraction is narrow;
  * dedup stages key on doc_id/digests). At 100 TB each stage is exactly
  * this plan with more partitions.
  *
  * Usage: runMain graft.spark.CurateMain [sfDir] [outDir]
  * (the sf documents table stands in for a crawl drop — it is written as a
  * CC-shaped .warc.gz landing dir first, so the REAL ingest path is what
  * runs end-to-end).
  */
object CurateMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_curate"
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    val report = run(spark, sfDir, outDir)
    println(report)
    spark.stop()
  }

  /** Runs the pipeline; returns the JSON report line.
    *
    * Report economics (round-3 verdict item): the per-stage counts fold
    * into ONE aggregation over a doc-keyed flags frame instead of eight
    * separate count() actions each re-deriving its stage — the working set
    * is persisted once and every stage is a left-joined keeper-bit, so the
    * whole report costs one job (spec-asserted via a job-count listener).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String, minTokens: Int = 20,
          maxTopWordFrac: Double = 0.2): String = {
    val n = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()

    // 1. simulated crawl drop: CC-shaped gzip-member WARC landing dir
    val warcDir = s"$outDir/warc_in"
    Warc.write(Pages.synthesize(spark, sfDir), warcDir, gzip = true, http = true)

    // 2. ingest (charset-normalized) + extract
    val extracted = ExtractJob.extract(Warc.read(spark, warcDir), "curate", n)
      .toDF().persist()

    // 2a. URL blocklist gate (UT1 shape) — the cheapest filter runs FIRST,
    // before any text touches a shuffle: registrable-domain rules broadcast,
    // path keywords codegen'd. The stub list blocks one source path; a real
    // deployment broadcasts the public category lists.
    val blockRules = spark.createDataFrame(Seq(("blocked.example", "ads")))
      .toDF("reg_domain", "category")
    val allDocs = extracted.selectExpr("url", "xxhash64(url) AS doc_id",
      "main_text AS text")
    val allowed = graft.operators.UrlOps.blocklistGate(
      extracted.selectExpr("xxhash64(url) AS doc_id", "url"),
      blockRules, Seq("/src7/" -> "blocklist"))
      .where(col("verdict") === "keep").select("doc_id")

    // 3. the allowed working set, persisted ONCE — features, both quality
    // gates, the PII scrub and all three dedup stages branch from it
    val docs = allDocs.join(allowed, "doc_id").persist()
    val feats = docs
      .selectExpr("url", "doc_id", "text", s"${TextOps.tokensExpr} AS n_tokens")
      .join(docs.selectExpr(TextOps.langIdSelect: _*), "doc_id")

    // 4. quality floor
    val quality = feats.where(col("n_tokens") >= minTokens)

    // 4a. Gopher rule gate: zero-shuffle projection, joined on doc_id so the
    // gate composes with the other keeper sets
    val gopherOk = TextOps.gopherRules(docs)
      .where(col("gopher_pass") === 1).select("doc_id")
    val qualityGopher = quality.join(gopherOk, "doc_id")

    // 4b. repetition floor (Gopher-style): pages dominated by one token go
    val repOk = TextOps.repetitionStats(docs)
      .where(col("top_word_frac") <= maxTopWordFrac)
      .select("doc_id")
    val qualityRep = qualityGopher.join(repOk, "doc_id")

    // 4c. PII scrub: text becomes the redacted clean_text (byte-identical
    // on clean pages); per-doc counts feed the report
    val pii = TextOps.redactPii(qualityRep)
    val scrubbed = qualityRep.drop("text")
      .join(pii, "doc_id")
      .withColumnRenamed("clean_text", "text")

    // 5. exact-dedup keepers (md5 digest shuffle, partial aggs)
    val keepers = Dedup.exact(docs).select(col("keeper_id").as("doc_id"))

    // 6. near-dup losers: connected components over the verified pair set —
    // each cluster keeps its minimum doc_id (pairwise id_b-drops mishandle
    // A~B~C chains: they could drop B twice and keep C)
    val losers = Dedup.connectedComponents(Dedup.nearDupPairs(docs))
      .where(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")

    // 7. decontamination against the held-out eval slice (stand-in: the
    // pmod-50 corpus slice; production passes an external benchmark table)
    val evalTexts = docs.where(pmod(col("doc_id"), lit(50)) === 0).select("text")
    val contaminated = Dedup.contaminationHits(
      docs.where(pmod(col("doc_id"), lit(50)) =!= 0), evalTexts).select("doc_id")

    val curated = scrubbed
      .join(keepers, "doc_id")
      .join(losers, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("url", "doc_id", "pred_lang", "n_tokens", "text")
    curated.write.mode("overwrite").parquet(s"$outDir/curated.parquet")
    val nOut = spark.read.parquet(s"$outDir/curated.parquet").count()

    // 8. the report: every stage count from ONE aggregation over the
    // doc-keyed flags frame (each keeper set is a left-joined bit; stage
    // counts are conjunctions, so each sum reproduces the old sequential
    // join counts exactly). pii membership is implied by the join (pii is
    // computed over qualityRep only).
    def bit(df: org.apache.spark.sql.DataFrame, name: String) =
      df.select("doc_id").withColumn(name, lit(1))
    val flags = allDocs.select("doc_id")
      .join(bit(docs, "f_allow"), Seq("doc_id"), "left")
      .join(bit(quality, "f_qual"), Seq("doc_id"), "left")
      .join(bit(gopherOk, "f_gopher"), Seq("doc_id"), "left")
      .join(bit(repOk, "f_rep"), Seq("doc_id"), "left")
      .join(pii.select("doc_id", "n_emails", "n_phones"), Seq("doc_id"), "left")
      .join(bit(losers, "f_loser"), Seq("doc_id"), "left")
      .join(bit(contaminated, "f_contam"), Seq("doc_id"), "left")
    val r = flags.selectExpr(
      "1 AS one", "coalesce(f_allow, 0) AS a", "coalesce(f_qual, 0) AS q",
      "coalesce(f_qual * f_gopher, 0) AS g",
      "coalesce(f_qual * f_gopher * f_rep, 0) AS rp",
      "CASE WHEN coalesce(n_emails, 0) + coalesce(n_phones, 0) > 0 THEN 1 ELSE 0 END AS p",
      "coalesce(f_loser, 0) AS l", "coalesce(f_contam, 0) AS c")
      .agg(sum("one"), sum("a"), sum("q"), sum("g"), sum("rp"), sum("p"),
        sum("l"), sum("c"))
      .head()
    val (nIn, nAllowed, nQuality, nGopher, nRep, nPii, nLosers, nContam) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))
    docs.unpersist()
    extracted.unpersist()
    val wall = (System.nanoTime() - t0) / 1e9
    f"""{"metric":"curate","docs_in":$nIn,"after_blocklist":$nAllowed,"after_quality":$nQuality,"after_gopher":$nGopher,"after_repetition":$nRep,"pii_docs":$nPii,"near_dup_losers":$nLosers,"contaminated":$nContam,"docs_out":$nOut,"out":"$outDir/curated.parquet","wall_sec":$wall%.2f}"""
  }
}
