package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The config registration path: a session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (and no call to
  * `HtmlFunctions.register`) resolves every html_* function and fuses
  * kernel calls.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSuite {
  override protected def rootConf: Seq[(String, String)] =
    Seq("spark.sql.extensions" -> "graft.functions.GraftExtensions")

  override def beforeAll(): Unit = {
    super.beforeAll()
    val page = "<html lang=\"en\"><head><title>T</title></head><body><p>body text <a href=\"/x\">x</a></p></body></html>"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ext_pages"
    spark.createDataFrame(Seq(("u1", page.getBytes("UTF-8")))).toDF("url", "html")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("ext_pages")
  }

  test("every html_* name resolves, with the call as its column name") {
    for (name <- HtmlFunctions.fields.map(_.sqlName) :+ "html_extract_all") {
      val df = spark.sql(s"SELECT $name(html) FROM ext_pages")
      assert(df.columns.toSeq == Seq(s"$name(html)"))
      assert(df.collect().length == 1)
    }
  }

  test("Q2's four calls fuse to one kernel call that builds only their fields") {
    val q2 = spark.sql("SELECT url, html_main_text(html) AS main_text, html_title(html) AS title, " +
      "size(html_links(html)) AS n_links, html_tag_count(html) AS tag_count FROM ext_pages")
    val calls = q2.queryExecution.executedPlan.flatMap(_.expressions.flatMap(_.collect {
      case k: HtmlKernelExpression => k
    }))
    assert(calls.length == 1, calls)
    assert(calls.head.dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("main_text", "title", "tag_count", "links"))
    val r = q2.collect()
    assert(r.length == 1 && r(0).getString(2) == "T" && r(0).getInt(3) == 1 && r(0).getLong(4) > 0)
  }
}
