package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

/** Columnar CC-index build: SURT keys over the CDX sidecars, range
  * clustering, and the registrant-slice access pattern the layout exists
  * for. Member-exactness of the underlying offsets is pinned by WarcSpec;
  * here the index TABLE contract is what's under test.
  */
class CcIndexSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graftccidx").toFile.getAbsolutePath
    val ss = spark
    import ss.implicits._
    val recs = (0 until 60).map { i =>
      val host = if (i % 3 == 0) "WWW.de.Example.com" else s"en${i % 2}.example.com"
      Warc.WarcRec(s"https://$host/p/Doc$i", 1700000000000L + i * 1000L,
        s"body $i".getBytes("UTF-8"))
    }
    Warc.writeWithCdx(spark.createDataset(recs).repartition(3), root)
  }

  test("index covers every capture with surt/host/registrable_domain derived") {
    val idx = Warc.cdxIndexTable(spark, root)
    assert(idx.count() == 60)
    val r = idx.where("url = 'https://WWW.de.Example.com/p/Doc0'").first()
    assert(r.getAs[String]("surt") == "com,example,de)/p/doc0")
    assert(r.getAs[String]("host") == "www.de.example.com")
    assert(r.getAs[String]("registrable_domain") == "example.com")
  }

  test("registrant slice is a surt-prefix range and fetches resolve through the pointers") {
    val idx = Warc.cdxIndexTable(spark, root)
    val slice = idx.where("surt >= 'com,example,de)' AND surt < 'com,example,de*'")
    assert(slice.count() == 20) // the %3==0 www.de rows
    val r = slice.orderBy("surt").limit(1).first()
    val row = Warc.readRecordAt(root, r.getAs[String]("filename"),
      r.getAs[Long]("offset"), r.getAs[Long]("length"),
      verifyDigest = r.getAs[String]("digest"))
    assert(row.url == r.getAs[String]("url"))
  }

  test("range clustering: output partitions hold disjoint surt ranges") {
    val idx = Warc.cdxIndexTable(spark, root, nFiles = 3)
    val ranges = idx.rdd.mapPartitions { it =>
      val surts = it.map(_.getAs[String]("surt")).toSeq
      if (surts.isEmpty) Iterator.empty
      else Iterator((surts.min, surts.max, surts == surts.sorted))
    }.collect()
    assert(ranges.forall(_._3), "partitions must be surt-sorted within")
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, aMax, _), (bMin, _, _)) => assert(aMax <= bMin, "ranges overlap")
      case _ => ()
    }
  }
}
