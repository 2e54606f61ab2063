package graft.spark


/** Common-Crawl-style corpus PUBLICATION as a spark-submit surface: one
  * extraction pass over the page corpus fans out into the full CC artifact
  * family —
  *
  *   - `warc/` — the raw html as response records + CDX index sidecars
  *     (random access by url);
  *   - `wet/`  — extracted main text as conversion records (text-only
  *     consumers never re-parse html);
  *   - `wat/`  — the metadata envelope (title/base + outlinks with anchor
  *     text) as JSON metadata records (link-graph consumers never touch
  *     html or text);
  *   - `index/` — the COLUMNAR index (CC's `ccindex` parquet shape): the
  *     CDX sidecars lifted to a SURT-range-clustered parquet table, so
  *     "query the crawl with SQL" and registrant-slice scans work without
  *     touching an archive byte.
  *
  * The three RECORD families (warc/wet/wat) ride the same per-partition
  * gzip-member writer with tmp/rename commits, so a retried task can
  * never publish a partial or divergent file; `index/` is parquet under
  * Spark's own commit protocol. The run verifies its own output by reading every
  * artifact back (counts + a text-digest spot equality) and reports one
  * JSON line with `ok`; exits nonzero on divergence.
  *
  * Usage: runMain graft.spark.PublishMain [sfDir] [outDir]
  */
object PublishMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/graft_publish"
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val outP = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.exists(outP))
      java.nio.file.Files.walk(outP).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))

    val t0 = System.nanoTime()
    val n = spark.sparkContext.defaultParallelism
    val pages = Pages.synthesizeLinkPages(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPages = pages.count()

    // warc/ + cdx: the raw capture, indexable by url
    graft.sources.Warc.writeWithCdx(
      pages.map(p => graft.sources.Warc.WarcRec(p.url, p.warc_ts.getTime, p.html)),
      s"$out/warc")

    // one extraction pass feeds BOTH derived artifacts
    val ex = ExtractJob.extract(pages, "publish", n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.sources.Warc.writeWet(
      ex.map(e => graft.sources.Warc.WarcRec(e.url, 1700000000000L,
        e.main_text.getBytes("UTF-8"))),
      s"$out/wet")
    graft.sources.Warc.writeWat(
      ex.map(e => graft.sources.Warc.WarcRec(e.url, 1700000000000L,
        graft.sources.Warc.watJson(e.url, e.title, e.base_href, e.links, e.anchors)
          .getBytes("UTF-8"))),
      s"$out/wat")

    // index/: the columnar ccindex over the warc/ CDX sidecars
    graft.sources.Warc.cdxIndexTable(spark, s"$out/warc", nFiles = n)
      .write.parquet(s"$out/index")

    // read-back verification: every artifact complete and self-consistent
    val idx = spark.read.parquet(s"$out/index")
    val idxN = idx.count()
    // pointer proof: the 5 surt-first index rows must fetch their records
    // by ranged read, digest-verified, urls matching
    val idxProbeOk = idx.orderBy("surt").limit(5).collect().forall { r =>
      val row = graft.sources.Warc.readRecordAt(s"$out/warc",
        r.getAs[String]("filename"), r.getAs[Long]("offset"),
        r.getAs[Long]("length"), verifyDigest = r.getAs[String]("digest"))
      row.url == r.getAs[String]("url")
    }
    val cdxN = graft.sources.Warc.readCdx(spark, s"$out/warc").count()
    val wetBack = graft.sources.Warc.readWet(spark, s"$out/wet").toDF()
      .selectExpr("url", "md5(CAST(html AS STRING)) AS d_wet")
    val wetN = wetBack.count()
    val watN = graft.sources.Warc.readWat(spark, s"$out/wat").count()
    // WET round-trip proof stays DISTRIBUTED: a url-keyed full-outer join
    // counts any url missing from either side or carrying a different text
    // digest — never a corpus-sized collect to the driver (the only rows
    // this main ever collects are the 5 index pointer probes above)
    val digestMismatches = wetBack
      .join(ex.map(e => (e.url, e.main_text)).toDF("url", "t")
          .selectExpr("url", "md5(t) AS d_src"),
        Seq("url"), "full_outer")
      .where("d_wet IS NULL OR d_src IS NULL OR d_wet <> d_src")
      .count()
    val digestsMatch = digestMismatches == 0L
    ex.unpersist(); pages.unpersist()
    val ok = cdxN == nPages && wetN == nPages && watN == nPages &&
      idxN == nPages && idxProbeOk && digestsMatch
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"publish","docs":$nPages,"cdx":$cdxN,"wet":$wetN,"wat":$watN,"index":$idxN,"index_probe_ok":$idxProbeOk,"digests_ok":$digestsMatch,"ok":$ok,"wall_sec":$wall%.2f}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
