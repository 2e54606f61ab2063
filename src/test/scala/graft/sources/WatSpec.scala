package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

/** WAT (CC metadata sidecar) layer: payload determinism + JSON escaping of
  * hostile titles/anchors, write→read→from_json round-trip, metadata-only
  * record filtering on mixed streams, and the empty-links shape.
  */
class WatSpec extends AnyFunSuite with SparkSuite {
  private var dir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = Files.createTempDirectory("graft_wat_spec").toString
  }

  private val watSchema = "STRUCT<Envelope: STRUCT<`Payload-Metadata`: STRUCT<" +
    "`HTTP-Response-Metadata`: STRUCT<`HTML-Metadata`: STRUCT<" +
    "Head: STRUCT<Title: STRING, Base: STRING>, " +
    "Links: ARRAY<STRUCT<path: STRING, url: STRING, text: STRING>>>>>>>"

  test("hostile strings survive the escaper and parse back exactly") {
    val title = "a \"quoted\"\\ttl\nwith\tctl\u0001 and naïve 中文"
    val json = Warc.watJson("https://x/y", title, "",
      Seq("https://e/1?a=\"b\""), Seq("anchor\\with\"stuff\n"))
    val df = spark.createDataFrame(Seq(Tuple1(json))).toDF("j")
      .selectExpr(s"from_json(j, '$watSchema') AS w")
      .selectExpr(
        "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Head.Title AS t",
        "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Links[0].url AS h",
        "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Links[0].text AS a")
    val r = df.collect()(0)
    assert(r.getString(0) == title)
    assert(r.getString(1) == "https://e/1?a=\"b\"")
    assert(r.getString(2) == "anchor\\with\"stuff\n")
  }

  test("base href present iff declared; empty links give an empty array, not null") {
    val withBase = Warc.watJson("u", "t", "https://cdn/x/", Seq.empty, Seq.empty)
    val noBase = Warc.watJson("u", "t", "", Seq.empty, Seq.empty)
    val df = spark.createDataFrame(Seq(Tuple1(withBase), Tuple1(noBase))).toDF("j")
      .selectExpr(s"from_json(j, '$watSchema') AS w")
      .selectExpr(
        "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Head.Base AS b",
        "size(w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Links) AS n")
    val rows = df.collect()
    assert(rows.map(r => Option(r.getString(0))).toSet == Set(Some("https://cdn/x/"), None))
    assert(rows.forall(_.getInt(1) == 0))
  }

  test("write -> read round-trips urls and payload bytes; payload is deterministic") {
    val ss = spark; import ss.implicits._
    val recs = (0L until 50L).map { i =>
      Warc.WarcRec(s"https://site/$i", 1700000000000L + i,
        Warc.watJson(s"https://site/$i", s"T$i", "",
          Seq(s"https://o/$i", s"/rel/$i"), Seq(s"a$i", "r")).getBytes("UTF-8"))
    }
    val out = s"$dir/rt"
    Warc.writeWat(ss.createDataset(recs).repartition(3), out)
    val back = Warc.readWat(spark, out).collect()
      .map(p => p.url -> new String(p.html, "UTF-8")).toMap
    assert(back.keySet == recs.map(_.url).toSet)
    recs.foreach(r => assert(back(r.url) == new String(r.block, "UTF-8")))
    // bit-determinism: rendering the same page twice gives identical bytes
    assert(Warc.watJson("u", "t", "", Seq("x"), Seq("y")) ==
      Warc.watJson("u", "t", "", Seq("x"), Seq("y")))
  }

  test("readWat skips non-metadata records in a mixed stream") {
    val ss = spark; import ss.implicits._
    val out = s"$dir/mixed"
    // a response archive written to the same dir shape: readWat must yield 0
    val pages = ss.createDataset(Seq(
      graft.spark.PageRow("https://r/1", new java.sql.Timestamp(0L),
        "<p>x</p>".getBytes("UTF-8"), null, "en")))
    Warc.write(pages, out, gzip = true)
    assert(Warc.readWat(spark, out).count() == 0L)
    // and readWet on a WAT dir yields 0 the same way
    val out2 = s"$dir/watonly"
    Warc.writeWat(ss.createDataset(Seq(
      Warc.WarcRec("https://m/1", 0L, "{}".getBytes("UTF-8")))), out2)
    assert(Warc.parseWetStream(Warc.decompress(new java.io.ByteArrayInputStream(
      Files.readAllBytes(java.nio.file.Paths.get(
        Files.list(java.nio.file.Paths.get(out2)).filter(_.toString.endsWith(".warc.gz"))
          .findFirst().get().toString))))).isEmpty)
  }
}
