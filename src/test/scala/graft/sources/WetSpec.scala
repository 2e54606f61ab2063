package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8

/** WET (conversion-record) round-trip: extracted text written in the CC WET
  * layout reads back byte-identical; response readers skip conversion
  * records and vice versa.
  */
class WetSpec extends AnyFunSuite with SparkSuite {
  test("WET round-trip: text survives byte-identical; type filtering is mutual") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graftwet").toFile.getAbsolutePath
    val recs = (0 until 40).map(i => Warc.WarcRec(s"https://example.com/doc$i",
      1700000000000L + i, s"extracted text $i\nsecond line $i".getBytes(UTF_8)))
      .toDS().repartition(4)
    Warc.writeWet(recs, dir)

    val back = Warc.readWet(spark, dir).collect()
    assert(back.length == 40)
    back.foreach { r =>
      val i = r.url.stripPrefix("https://example.com/doc").toInt
      assert(new String(r.html, UTF_8) == s"extracted text $i\nsecond line $i")
    }
    // a RESPONSE reader streaming the same files sees zero records — WET is
    // a different record type, never silently mis-ingested as pages
    assert(Warc.read(spark, dir).count() == 0)
  }
}
