package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** CDX index emission + random-access WARC reads: every gzip member's
  * (offset, length) is index-exact, a slice is self-contained, and the
  * digest makes corruption loud.
  */
class CdxSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftcdx").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def recs(n: Int) = {
    val ss = spark; import ss.implicits._
    (0 until n).map(i => Warc.WarcRec(s"https://example.com/doc$i", 1700000000000L + i * 1000L,
      s"body of document $i with some text".getBytes(UTF_8)))
      .toDS().repartition(4)
  }

  test("index is member-exact: every (offset, length) fetches its record with the digest verified") {
    val dir = tmp()
    Warc.writeWithCdx(recs(50), dir)
    val idx = Warc.readCdx(spark, dir).collect()
    assert(idx.length == 50)
    idx.foreach { r =>
      val row = Warc.readRecordAt(dir, r.getString(5), r.getLong(3), r.getLong(4),
        verifyDigest = r.getString(2))
      assert(row.url == r.getString(0))
      val i = row.url.stripPrefix("https://example.com/doc").toInt
      assert(new String(row.html, UTF_8) == s"body of document $i with some text")
    }
    // offsets are disjoint and cover the archives exactly
    idx.groupBy(_.getString(5)).foreach { case (f, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) + a.getLong(4) == b.getLong(3))
        case _ =>
      }
      val fileLen = Files.size(Paths.get(dir, f))
      assert(sorted.last.getLong(3) + sorted.last.getLong(4) == fileLen)
    }
  }

  test("a slice is self-contained: the member's bytes alone parse to the same record") {
    val dir = tmp()
    Warc.writeWithCdx(recs(10), dir)
    val r = Warc.readCdx(spark, dir).where("url = 'https://example.com/doc7'").collect().head
    val all = Files.readAllBytes(Paths.get(dir, r.getString(5)))
    val slice = all.slice(r.getLong(3).toInt, (r.getLong(3) + r.getLong(4)).toInt)
    val standalone = tmp()
    Files.write(Paths.get(standalone, "solo.warc.gz"), slice)
    val row = Warc.readRecordAt(standalone, "solo.warc.gz", 0L, slice.length.toLong)
    assert(row.url == "https://example.com/doc7")
    assert(new String(row.html, UTF_8) == "body of document 7 with some text")
  }

  test("corruption is loud: a flipped byte fails the digest (or the gzip CRC), never silent") {
    val dir = tmp()
    Warc.writeWithCdx(recs(5), dir)
    val r = Warc.readCdx(spark, dir).where("url = 'https://example.com/doc2'").collect().head
    val p = Paths.get(dir, r.getString(5))
    val bytes = Files.readAllBytes(p)
    val mid = r.getLong(3).toInt + r.getLong(4).toInt / 2
    bytes(mid) = (bytes(mid) ^ 0x41).toByte
    Files.write(p, bytes)
    intercept[Exception] {
      Warc.readRecordAt(dir, r.getString(5), r.getLong(3), r.getLong(4),
        verifyDigest = r.getString(2))
    }
  }
}
