package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._
import graft.spark.{Pages, PageRow}

/** WARC round-trip: pages → archive files → re-ingest → byte-identical html
  * and timestamps; extraction over the re-ingested corpus equals the direct
  * path.
  */
class WarcSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("record serializer round-trips through the parser") {
    val body = "<p>hi</p>".getBytes("UTF-8")
    val rec = Warc.record("https://x/y", 1609459200000L, body)
    val rows = Warc.parse(rec).toVector
    assert(rows.size === 1)
    assert(rows.head.url === "https://x/y")
    assert(rows.head.warc_ts.getTime === 1609459200000L)
    assert(java.util.Arrays.equals(rows.head.html, body))
  }

  test("multi-record file parses all records in order") {
    val r1 = Warc.record("u1", 1000L, "abc".getBytes)
    val r2 = Warc.record("u2", 2000L, "defg".getBytes)
    val both = r1 ++ r2
    val rows = Warc.parse(both).toVector
    assert(rows.map(_.url) === Vector("u1", "u2"))
    assert(rows.map(r => new String(r.html)) === Vector("abc", "defg"))
  }

  test("CC-shaped gzip file: member-per-record, HTTP headers stripped, non-response records skipped") {
    val body = "<html><body><p>real page</p></body></html>".getBytes("UTF-8")
    val members = Seq(
      Warc.record("urn:warcinfo", 1000L, "software: graft-test".getBytes("UTF-8"), http = false, warcType = "warcinfo"),
      Warc.record("https://x/page", 999L, "GET /page HTTP/1.1\r\nHost: x\r\n\r\n".getBytes("UTF-8"), http = false, warcType = "request"),
      Warc.record("https://x/page", 1609459200000L, body, http = true)
    )
    val bos = new java.io.ByteArrayOutputStream()
    members.foreach { m =>
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(m); gz.finish()
    }
    bos.close()
    val rows = Warc.parseFile(bos.toByteArray).toVector
    assert(rows.size === 1)
    assert(rows.head.url === "https://x/page")
    assert(rows.head.warc_ts.getTime === 1609459200000L)
    assert(java.util.Arrays.equals(rows.head.html, body))
  }

  test("spark gzip round-trip (CC layout) preserves every page byte-for-byte") {
    val dir = java.nio.file.Files.createTempDirectory("warcgz").toString
    val pages = Pages.synthesize(spark, sfDir)
    Warc.write(pages, dir, gzip = true, http = true)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.nonEmpty)
    val back = Warc.read(spark, dir)
    val ss = spark
    import ss.implicits._
    val a = pages.map(p => (p.url, java.util.Arrays.hashCode(p.html))).collect().sortBy(_._1)
    val b = back.map(p => (p.url, java.util.Arrays.hashCode(p.html))).collect().sortBy(_._1)
    assert(a.length === 500)
    assert(a.toSeq === b.toSeq)
  }

  test("rerun into a dirty dir with fewer partitions leaves no stale records") {
    val dir = java.nio.file.Files.createTempDirectory("warcdirty").toString
    val pages = Pages.synthesize(spark, sfDir)
    Warc.write(pages.repartition(8), dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".warc")) === 8)
    Warc.write(pages.repartition(2), dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".warc")) === 2)
    assert(Warc.read(spark, dir).count() === 500L)
  }

  test("overlong header line is bounded and the record skipped, valid records survive") {
    val good = Warc.record("https://ok/1", 1000L, "page one".getBytes)
    // a "record" whose header line never terminates for 1 MB — must be
    // skimmed in O(1) memory and treated as garbage
    val evil = ("WARC/1.0\r\nWARC-Type: response\r\nX-Garbage: " + "g" * (1 << 20)).getBytes
    val good2 = Warc.record("https://ok/2", 2000L, "page two".getBytes)
    val rows = Warc.parse(good ++ evil ++ "\r\n\r\n".getBytes ++ good2).toVector
    assert(rows.map(_.url) === Vector("https://ok/1", "https://ok/2"))
  }

  test("fuzz: garbage bytes, truncated record, missing CRLFs yield exactly the valid records") {
    val r1 = Warc.record("https://ok/a", 1000L, "alpha".getBytes)
    val garbage = Array.tabulate[Byte](4096)(i => ((i * 31 + 7) % 251).toByte)
    val noCrlf = "WARC/1.0\nWARC-Type: response\nWARC-Target-URI: https://ok/b\nContent-Length: 4\n\nbeta".getBytes
    val truncated = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ok/c\r\nContent-Length: 999999\r\n\r\nshort".getBytes
    val badLen = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ok/d\r\nContent-Length: NaN\r\n\r\nx".getBytes
    val rows = Warc.parse(r1 ++ garbage ++ "\r\n".getBytes ++ noCrlf ++ "\r\n".getBytes ++ badLen ++ truncated).toVector
    // LF-only line endings are tolerated (line() drops \r, splits on \n)
    assert(rows.map(_.url).contains("https://ok/a"))
    assert(rows.map(_.url).contains("https://ok/b"))
    assert(!rows.map(_.url).contains("https://ok/c")) // truncated body → dropped
    assert(!rows.map(_.url).contains("https://ok/d")) // malformed length → dropped
  }

  test("corrupt WARC-Date skips the record (no task-killing parse exception); absent date keeps epoch") {
    val good = Warc.record("https://ok/a", 1000L, "alpha".getBytes)
    // corrupt date: pre-fix this threw DateTimeParseException inside the task
    val corrupt = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://bad/date\r\nWARC-Date: NOT-A-DATE\r\n" +
      "Content-Length: 4\r\n\r\nbody\r\n\r\n").getBytes
    val absent = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://ok/nodate\r\n" +
      "Content-Length: 4\r\n\r\nbody\r\n\r\n").getBytes
    val rows = Warc.parse(good ++ corrupt ++ absent).toVector
    assert(rows.map(_.url) == Vector("https://ok/a", "https://ok/nodate"),
      "corrupt date skips, absent date keeps the legacy epoch stamp")
    assert(rows(1).warc_ts.getTime == 0L)
  }

  test("oversized Content-Length is skipped stream-aligned, later records survive") {
    val good1 = Warc.record("https://ok/1", 1000L, "first".getBytes)
    // declares 300 MB (over the 256 MB cap) but carries only a small body —
    // the parser must skip WITHOUT materializing the declaration and keep
    // reading (the skip drains to EOF here, which is the aligned outcome
    // for a truncated oversize record)
    val big = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://evil/huge\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      s"Content-Length: ${300 << 20}\r\n\r\n").getBytes ++
      new Array[Byte](1024)
    val rows1 = Warc.parse(good1 ++ big).toVector
    assert(rows1.map(_.url) == Vector("https://ok/1"))
    // and when the oversize body is REALLY present, the skip stays aligned
    // and the FOLLOWING record still parses — use a small cap-violating
    // record shape by constructing: declared just over the cap is too big
    // to allocate in a spec; alignment is exercised by the in-stream skip
    // loop above plus this small-skip variant:
    val skipMe = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://evil/skip\r\n" +
      s"Content-Length: ${300 << 20}\r\n\r\n").getBytes
    val rows2 = Warc.parse(good1 ++ skipMe ++ Warc.record("https://ok/2", 2000L, "second".getBytes)).toVector
    // the skip consumes up to the declared length; with less data present
    // it drains to EOF — the record after a TRUNCATED bomb is unreachable
    // by construction, which is the correct conservative outcome
    assert(rows2.map(_.url).headOption.contains("https://ok/1"))
  }

  test("Content-Length past Int.MaxValue takes the oversize skip; a fake header in its body never surfaces") {
    val good = Warc.record("https://ok/1", 1000L, "first".getBytes)
    // a legal 3 GB declaration whose truncated body carries a WARC header:
    // parsed as an Int it used to be unreadable, and the line scan then
    // emitted the embedded record as if it were real
    val fake = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://fake/embedded\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "Content-Length: 4\r\n\r\nfake\r\n\r\n").getBytes
    val huge = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://big/capture\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "Content-Length: 3000000000\r\n\r\n").getBytes ++
      ("captured payload bytes\r\n" * 20).getBytes ++ fake
    assert(Warc.parse(good ++ huge).map(_.url).toVector == Vector("https://ok/1"))
  }

  test("an oversized revisit body is skipped unread; the revisits around it survive") {
    def revisit(url: String, len: Long): Array[Byte] =
      ("WARC/1.0\r\nWARC-Type: revisit\r\n" +
        s"WARC-Target-URI: $url\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
        "WARC-Refers-To-Target-URI: https://orig/a\r\n" +
        "WARC-Payload-Digest: md5:00ff\r\n" +
        s"Content-Length: $len\r\n\r\n").getBytes
    val bodyLen = Warc.maxRecordBytes.toLong + 1
    val head = revisit("https://ok/before", 0) ++ "\r\n\r\n".getBytes ++
      revisit("https://evil/huge", bodyLen)
    val tail = "\r\n\r\n".getBytes ++ revisit("https://ok/after", 0) ++ "\r\n\r\n".getBytes
    // serves the declared body for real (zeros), counting the bytes handed
    // out by read; skip moves past them without producing any
    final class CountingStream extends java.io.InputStream {
      private val total = head.length + bodyLen + tail.length
      private var pos = 0L
      var readBytes = 0L
      private def at(p: Long): Int =
        if (p < head.length) head(p.toInt) & 0xff
        else if (p < head.length + bodyLen) 0
        else tail((p - head.length - bodyLen).toInt) & 0xff
      override def read(): Int =
        if (pos >= total) -1 else { readBytes += 1; pos += 1; at(pos - 1) }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (len == 0) 0
        else if (pos >= total) -1
        else {
          val n = math.min(len.toLong, total - pos).toInt
          var i = 0
          while (i < n) { b(off + i) = at(pos + i).toByte; i += 1 }
          pos += n; readBytes += n
          n
        }
      override def skip(n: Long): Long = {
        val k = math.max(0L, math.min(n, total - pos))
        pos += k
        k
      }
    }
    val in = new CountingStream
    val urls = Warc.parseRevisitStream(in).map(_._1).toVector
    assert(urls == Vector("https://ok/before", "https://ok/after"))
    assert(in.readBytes < (4L << 20), s"read ${in.readBytes} bytes of a skipped body")
  }

  test("gzip member writer: one deflater, members independently decompressable") {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new Warc.GzipMemberWriter(bos)
    val recs = Seq("first record".getBytes, "second, longer record with more bytes".getBytes)
    recs.foreach(w.writeMember)
    w.end()
    val all = bos.toByteArray
    // whole-stream decompression sees the concatenation
    val gz = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(all))
    assert(new String(gz.readAllBytes()) === recs.map(new String(_)).mkString)
    // each member is its own gzip stream: find the second member's magic
    val second = {
      var i = 10 // skip first header
      while (!(all(i) == 0x1f.toByte && all(i + 1) == 0x8b.toByte)) i += 1
      java.util.Arrays.copyOfRange(all, i, all.length)
    }
    val gz2 = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(second))
    assert(new String(gz2.readAllBytes()) === new String(recs(1)))
  }

  test("write leaves no temp files behind") {
    val dir = java.nio.file.Files.createTempDirectory("warctmp").toString
    Warc.write(Pages.synthesize(spark, sfDir).repartition(4), dir, gzip = true, http = true)
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.count(_.endsWith(".warc.gz")) === 4)
    assert(!names.exists(_.startsWith(".tmp-")), s"stale temps: ${names.mkString(",")}")
  }

  test("charset vectors: HTTP-declared windows-1252 / shift_jis bodies normalize to utf-8") {
    val cp = "<p>café—x</p>".getBytes(java.nio.charset.Charset.forName("windows-1252"))
    val sj = "<p>日本語</p>".getBytes(java.nio.charset.Charset.forName("Shift_JIS"))
    def rec(url: String, body: Array[Byte], cs: String) =
      Warc.recordBlock(url, 1000L, Warc.httpBlock(body, cs))
    val rows = Warc.parse(
      rec("https://x/cp", cp, "windows-1252") ++ rec("https://x/sj", sj, "shift_jis") ++
        rec("https://x/utf", "<p>plain ünïcode</p>".getBytes("UTF-8"), "utf-8")).toVector
    val byUrl = rows.map(r => r.url -> new String(r.html, "UTF-8")).toMap
    assert(byUrl("https://x/cp") === "<p>café—x</p>")
    assert(byUrl("https://x/sj") === "<p>日本語</p>")
    assert(byUrl("https://x/utf") === "<p>plain ünïcode</p>")
  }

  test("charset vectors: BOM and meta-prescan records with no transport charset") {
    val bomBody = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "<p>bøm</p>".getBytes("UTF-8")
    val metaBody = "<html><head><meta charset=\"windows-1252\"></head><body><p>déjà</p></body></html>"
      .getBytes(java.nio.charset.Charset.forName("windows-1252"))
    val rows = Warc.parse(
      Warc.recordBlock("https://x/bom", 1L, Warc.httpBlock(bomBody, null)) ++
        Warc.recordBlock("https://x/meta", 2L, Warc.httpBlock(metaBody, null))).toVector
    val byUrl = rows.map(r => r.url -> new String(r.html, "UTF-8")).toMap
    assert(byUrl("https://x/bom") === "<p>bøm</p>") // BOM stripped, not content
    assert(byUrl("https://x/meta").contains("<p>déjà</p>"))
  }

  test("mixed-charset fixture round-trips to prefix+text per url (all 6 modes)") {
    val ss = spark
    import ss.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("warccs").toString
    Warc.writeRecords(Warc.charsetFixture(docs), dir, gzip = true)
    val got = Warc.read(spark, dir)
      .map(p => (p.url, new String(p.html, "UTF-8")))
      .collect().toMap
    val expected = docs.select("doc_id", "text").as[(Long, String)].collect()
    assert(got.size === expected.length)
    expected.foreach { case (id, text) =>
      val want = Warc.charsetPrefixes((id % 6).toInt) + text
      val html = got(s"https://example.com/cs/doc$id")
      assert(html.contains(s"<p>$want</p>"), s"doc $id mode ${id % 6}")
    }
  }

  test("zstd round-trip: .warc.zst written and re-ingested byte-for-byte") {
    val ss = spark
    import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warczst").toString
    val pages = Pages.synthesize(spark, sfDir)
    Warc.writeRecords(pages.map(p =>
      Warc.WarcRec(p.url, p.warc_ts.getTime, Warc.httpBlock(p.html))), dir, zstd = true)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".warc.zst")) && !files.exists(_.endsWith(".warc.gz")))
    val back = Warc.read(spark, dir)
    val a = pages.map(p => (p.url, java.util.Arrays.hashCode(p.html))).collect().sortBy(_._1)
    val b = back.map(p => (p.url, java.util.Arrays.hashCode(p.html))).collect().sortBy(_._1)
    assert(a.length === 500)
    assert(a.toSeq === b.toSeq)
    // concatenated zstd frames (per-record-frame layout) also decode
    val f1 = Warc.record("https://z/1", 1000L, "one".getBytes)
    val f2 = Warc.record("https://z/2", 2000L, "two".getBytes)
    def frame(b2: Array[Byte]) = com.github.luben.zstd.Zstd.compress(b2)
    val rows = Warc.parseFile(frame(f1) ++ frame(f2)).toVector
    assert(rows.map(_.url) === Vector("https://z/1", "https://z/2"))
  }

  test("DataSourceV2 warc format equals the binaryFile parse path") {
    val ss = spark
    import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warcdsv2").toString
    Warc.write(Pages.synthesize(spark, sfDir).repartition(4), dir, gzip = true, http = true)
    val viaDsv2 = Warc.read(spark, dir)
      .map(p => (p.url, java.util.Arrays.hashCode(p.html), p.warc_ts.getTime))
      .collect().sortBy(_._1)
    val viaBinary = Warc.readViaBinaryFile(spark, dir)
      .map(p => (p.url, java.util.Arrays.hashCode(p.html), p.warc_ts.getTime))
      .collect().sortBy(_._1)
    assert(viaDsv2.length === 500)
    assert(viaDsv2.toSeq === viaBinary.toSeq)
    // one partition per archive file
    assert(ss.read.format("warc").load(dir).rdd.getNumPartitions === 4)
  }

  test("DataSourceV2 warc format prunes columns into the reader") {
    val ss = spark
    val dir = java.nio.file.Files.createTempDirectory("warcprune").toString
    Warc.write(Pages.synthesize(spark, sfDir).repartition(2), dir, gzip = true, http = true)
    val urlsOnly = ss.read.format("warc").load(dir).select("url")
    val plan = urlsOnly.queryExecution.executedPlan.toString
    assert(plan.contains("columns=url") && !plan.contains("html"),
      s"html not pruned from the warc scan:\n$plan")
    assert(urlsOnly.count() === 500L)
  }

  test("streaming warc source: checkpointed incremental file pickup across restarts") {
    val ss = spark
    val dir = java.nio.file.Files.createTempDirectory("warcstream").toString
    val cp = java.nio.file.Files.createTempDirectory("warccp").toString
    def drop(name: String, urls: Seq[String]): Unit = {
      val bytes = urls.zipWithIndex.map { case (u, i) =>
        Warc.record(u, 1000L + i, s"<p>page $u</p>".getBytes("UTF-8"), http = true)
      }.reduce(_ ++ _)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
    }
    val outData = java.nio.file.Files.createTempDirectory("warcsink").toString
    def drain(): Long = {
      val q = ss.readStream.format("warc").load(dir)
        .selectExpr("url", "CAST(html AS STRING) AS body")
        .writeStream.format("parquet")
        .option("path", outData)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      ss.read.parquet(outData).count()
    }
    drop("part-00001.warc", Seq("https://s/a", "https://s/b", "https://s/c"))
    assert(drain() === 3L)
    // a new archive lands; the restarted query reads ONLY the new file
    // (checkpointed offset), appending exactly 2 rows
    drop("part-00002.warc", Seq("https://s/d", "https://s/e"))
    assert(drain() === 5L)
    val urls = ss.read.parquet(outData).collect().map(_.getString(0)).sorted
    assert(urls.toSeq === Seq("https://s/a", "https://s/b", "https://s/c", "https://s/d", "https://s/e"))
  }

  test("spark write/read round-trip preserves every page byte-for-byte") {
    val dir = java.nio.file.Files.createTempDirectory("warcspec").toString
    val pages = Pages.synthesize(spark, sfDir)
    Warc.write(pages, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc"))
    assert(files.nonEmpty)
    val back = Warc.read(spark, dir)
    val ss = spark
    import ss.implicits._
    val a = pages.map(p => (p.url, java.util.Arrays.hashCode(p.html), p.warc_ts.getTime))
      .collect().sortBy(_._1)
    val b = back.map(p => (p.url, java.util.Arrays.hashCode(p.html), p.warc_ts.getTime))
      .collect().sortBy(_._1)
    assert(a.length === 500)
    assert(a.toSeq === b.toSeq)
  }

  test("revisit archiving: duplicates store headers not payloads, digests link back, readers type-split") {
    val ss = spark
    import ss.implicits._
    def dirOf(name: String) = java.nio.file.Files.createTempDirectory(name).toString
    // 4 distinct INCOMPRESSIBLE payloads (seeded pseudo-random bytes — a
    // constant string would gzip away and hide the dedup saving), each
    // captured 5 times at increasing ts
    def payload(k: Int): Array[Byte] = {
      val b = new Array[Byte](2000)
      new scala.util.Random(1234 + k).nextBytes(b)
      b
    }
    val recs = (0 until 20).map { i =>
      Warc.WarcRec(s"https://h/cap$i", 1700000000000L + i * 1000L, payload(i % 4))
    }
    val plainDir = dirOf("graftrv_plain")
    val rvDir = dirOf("graftrv_dedup")
    Warc.writeRecords(spark.createDataset(recs).repartition(3), plainDir, gzip = true)
    Warc.writeWithRevisits(spark.createDataset(recs).repartition(3), rvDir)
    def bytesOf(d: String) = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    assert(bytesOf(rvDir) < bytesOf(plainDir) / 2,
      s"dedup archive not smaller: ${bytesOf(rvDir)} vs ${bytesOf(plainDir)}")
    // responses = exactly the 4 earliest captures (the keeper rule)
    val resp = Warc.read(spark, rvDir).collect()
    assert(resp.map(_.url).sorted.toSeq ==
      Seq("https://h/cap0", "https://h/cap1", "https://h/cap2", "https://h/cap3"))
    // 16 revisits, each linking to its payload's keeper with the digest of
    // the ORIGINAL payload bytes (computed independently — the response
    // read path charset-normalizes, so read-back bytes are not the input)
    val revs = Warc.readRevisits(spark, rvDir).collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(4)))
    assert(revs.length == 16)
    val wantDigest = (0 until 4).map { k =>
      s"https://h/cap$k" -> java.security.MessageDigest.getInstance("MD5")
        .digest(payload(k)).map(x => f"$x%02x").mkString
    }.toMap
    revs.foreach { case (url, refers, dg) =>
      assert(refers == s"https://h/cap${url.stripPrefix("https://h/cap").toInt % 4}")
      assert(dg == wantDigest(refers), s"digest mismatch for $url")
    }
    // readResolved reconstructs the LOGICAL corpus: all 20 captures, each
    // revisit carrying its original's (normalized) payload bytes and its
    // OWN capture timestamp (not the original's)
    val resolved = Warc.readResolved(spark, rvDir).collect()
    assert(resolved.length == 20)
    val keeperBody = resp.map(p => p.url -> java.util.Arrays.hashCode(p.html)).toMap
    resolved.foreach { p =>
      val i = p.url.stripPrefix("https://h/cap").toInt
      val k = s"https://h/cap${i % 4}"
      assert(java.util.Arrays.hashCode(p.html) == keeperBody(k), s"payload mismatch for ${p.url}")
      assert(p.warc_ts.getTime == 1700000000000L + i * 1000L,
        s"resolved row must keep ITS capture time: ${p.url}")
    }
  }

  test("revisit-aware CDX: every capture indexed, revisits resolve to the original's member without opening the archive") {
    val ss = spark
    import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftcdxrv").toString
    val p1 = "payload one content".getBytes("UTF-8")
    val p2 = "payload two content".getBytes("UTF-8")
    val recs = Seq(
      Warc.WarcRec("https://h/a", 1000L, p1),  // original of p1
      Warc.WarcRec("https://h/b", 2000L, p1),  // revisit of (a, 1000)
      Warc.WarcRec("https://h/c", 3000L, p2),  // original of p2
      Warc.WarcRec("https://h/a", 4000L, p1))  // same-url re-crawl → revisit
    Warc.writeRevisitCdx(spark.createDataset(recs).repartition(2), dir)
    val cdx = Warc.readRevisitCdx(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(7))).sortBy(t => (t._2, t._1))
    assert(cdx.length == 4, "one CDX line per CAPTURE, revisits included")
    assert(cdx.count(_._5 == "response") == 2 && cdx.count(_._5 == "revisit") == 2)
    // payload digests: the p1 trio shares one, rec digests are per-member
    val p1dg = java.security.MessageDigest.getInstance("MD5")
      .digest(p1).map(b => f"$b%02x").mkString
    assert(cdx.count(_._4 == p1dg) == 3)
    assert(cdx.map(_._3).distinct.length == 4, "record digests are per member")
    // playback resolution: every row's pointer fetches the ORIGINAL
    val resolved = Warc.resolveRevisitCdx(spark, dir).collect()
    assert(resolved.length == 4)
    resolved.foreach { r =>
      val row = Warc.readRecordAt(dir, r.getAs[String]("filename"),
        r.getAs[Long]("offset"), r.getAs[Long]("length"),
        verifyDigest = r.getAs[String]("rec_digest"))
      val wantUrl = if (r.getAs[String]("rtype") == "response") r.getAs[String]("url")
        else r.getAs[String]("orig_url")
      assert(row.url == wantUrl, s"${r.getAs[String]("url")} resolved to ${row.url}")
      val pd = java.security.MessageDigest.getInstance("MD5")
        .digest(row.html).map(b => f"$b%02x").mkString
      assert(pd == r.getAs[String]("payload_digest"))
    }
    // the same-url re-crawl resolves to its EARLIER capture
    val again = resolved.find(r => r.getAs[String]("url") == "https://h/a" &&
      r.getAs[String]("rtype") == "revisit").get
    assert(again.getAs[String]("orig_url") == "https://h/a")
    // a self-written archive has no coverage gap; the census is for
    // foreign/degraded archives
    assert(Warc.unresolvableCdxRevisits(spark, dir).count() == 0L)
  }

  test("revisit archiving: a degenerate hot digest collapses map-side — keeper is a partial agg, never a digest-wide window sort") {
    val ss = spark
    import ss.implicits._
    // 200k captures of ONE payload (the parked-domain template): the old
    // Window.partitionBy(digest) put all of them in one task's sort; the
    // keeper must now be min(struct(ts, url)) (map-side partial agg) with
    // the only window keyed by the FULL capture identity (groups = exact
    // duplicate deliveries, size 1 here)
    val payload = "the universal parked-domain template body".getBytes("UTF-8")
    val hot = spark.range(200000).as[Long].map(i =>
      Warc.WarcRec(s"https://h$i.example.com/p", 1700000000000L + i, payload))
      .repartition(4)
    val rendered = Warc.revisitRendered(hot)
    // plan shape: every Window node's partition spec includes ts and url —
    // no window partitioned by the digest alone
    val plan = rendered.queryExecution.executedPlan.toString
    val winSpecs = plan.linesIterator.filter(_.contains("Window ")).toVector
    assert(winSpecs.nonEmpty)
    winSpecs.foreach { l =>
      assert(l.contains("ts") && l.contains("url"),
        s"window partitioned by the digest alone (straggler sort):\n$l")
    }
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      "keeper choice must be a partial-aggregatable min")
    // and it completes with exactly one original
    val counts = rendered.map(r => if (new String(r.block, "UTF-8")
      .contains("WARC-Type: revisit")) "rv" else "resp")
      .groupByKey(identity).count().collect().toMap
    assert(counts("resp") == 1L && counts("rv") == 199999L)
  }

  test("foreign archive degradation: absent WARC-Date skips, url-only fallback is single-generation-gated, the drop census is exact") {
    val dir = java.nio.file.Files.createTempDirectory("graftrv_foreign").toString
    val pa = "generation one".getBytes("UTF-8")
    val pb = "generation TWO".getBytes("UTF-8")
    val pc = "single gen payload".getBytes("UTF-8")
    def revisitNoRefersDate(url: String, ts: Long, refers: String): Array[Byte] =
      Warc.recordBlock(url, ts, Array.empty[Byte], warcType = "revisit",
        extraHeaders = Seq("WARC-Refers-To-Target-URI" -> refers,
          "WARC-Profile" -> "identical-payload-digest"))
    // a revisit with NO WARC-Date at all — must be skipped, never emitted
    // at a silent epoch (same rule as a corrupt date)
    val noDate = ("WARC/1.0\r\nWARC-Type: revisit\r\n" +
      "WARC-Target-URI: https://h/z\r\n" +
      "WARC-Refers-To-Target-URI: https://h/b\r\n" +
      "Content-Length: 0\r\n\r\n\r\n\r\n").getBytes("UTF-8")
    val recs = Seq(
      Warc.recordBlock("https://h/a", 1000L, pa),
      Warc.recordBlock("https://h/a", 3000L, pb), // second generation of url a
      Warc.recordBlock("https://h/b", 1000L, pc), // single-generation url
      revisitNoRefersDate("https://h/x", 5000L, "https://h/b"), // resolvable: target has ONE generation
      revisitNoRefersDate("https://h/y", 6000L, "https://h/a"), // UNRESOLVABLE: two generations, no refers-ts
      noDate)
    val bytes = new java.io.ByteArrayOutputStream()
    recs.foreach(bytes.write)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part0.warc"), bytes.toByteArray)

    // the dateless revisit never surfaces
    val revs = Warc.readRevisits(spark, dir).collect()
    assert(revs.map(_.getString(0)).sorted.toSeq == Seq("https://h/x", "https://h/y"))
    // logical corpus: 3 responses + the one unambiguous fallback resolution
    val resolved = Warc.readResolved(spark, dir).collect()
    assert(resolved.length == 4)
    val x = resolved.find(_.url == "https://h/x").get
    assert(new String(x.html, "UTF-8") == "single gen payload")
    assert(x.warc_ts.getTime == 5000L, "fallback row keeps ITS capture time")
    assert(!resolved.exists(_.url == "https://h/y"),
      "a multi-generation target without refers-ts must never be guessed")
    // the coverage gap is visible, not silent
    val gap = Warc.unresolvableRevisits(spark, dir).collect()
    assert(gap.length == 1)
    assert(gap(0).getString(0) == "https://h/y" &&
      gap(0).getString(2) == "https://h/a" && gap(0).getLong(3) == 2L)
  }

  test("revisit archiving: same-url re-crawls revisit their earlier capture; generations resolve by (url, ts)") {
    val ss = spark
    import ss.implicits._
    val rvDir = java.nio.file.Files.createTempDirectory("graftrv_sameurl").toString
    val p1 = "generation one payload".getBytes("UTF-8")
    val p2 = "generation TWO payload".getBytes("UTF-8")
    val recs = Seq(
      Warc.WarcRec("https://h/a", 1000L, p1), // keeper of P1
      Warc.WarcRec("https://h/a", 1000L, p1), // EXACT duplicate delivery (at-least-once upstream)
      Warc.WarcRec("https://h/a", 2000L, p1), // SAME url, unchanged → revisit
      Warc.WarcRec("https://h/a", 3000L, p2), // same url, CHANGED → new response generation
      Warc.WarcRec("https://h/b", 4000L, p1)) // other url, P1 → revisit of (a, 1000)
    Warc.writeWithRevisits(spark.createDataset(recs).repartition(2), rvDir)
    val resp = Warc.read(spark, rvDir).collect()
    assert(resp.map(p => (p.url, p.warc_ts.getTime)).sortBy(_._2).toSeq ==
      Seq(("https://h/a", 1000L), ("https://h/a", 3000L)),
      "exactly the two payload generations are full responses — the exact " +
        "duplicate must NOT produce a second response")
    val revs = Warc.readRevisits(spark, rvDir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getString(2), r.getTimestamp(3).getTime)).sortBy(_._2)
    assert(revs.toSeq == Seq(
      ("https://h/a", 1000L, "https://h/a", 1000L), // the duplicate, self-referential
      ("https://h/a", 2000L, "https://h/a", 1000L),
      ("https://h/b", 4000L, "https://h/a", 1000L)))
    // resolution by (url, ts): both revisits get GENERATION ONE's payload
    // even though url a later carries a different one
    val resolved = Warc.readResolved(spark, rvDir).collect()
    assert(resolved.length == 5)
    val g1 = new String(resolved.find(p => p.warc_ts.getTime == 1000L).get.html, "UTF-8")
    Seq(2000L, 4000L).foreach { t =>
      assert(new String(resolved.find(_.warc_ts.getTime == t).get.html, "UTF-8") == g1,
        s"capture at $t must resolve to generation one")
    }
  }
}
