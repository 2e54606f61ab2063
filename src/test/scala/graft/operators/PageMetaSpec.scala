package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.Row

/** PageMeta hand vectors — source priority and guard semantics pinned on
  * direct rows, independent of the extraction kernel (the q_pub_date /
  * q_soft404 oracles pin the kernel-fed path).
  */
class PageMetaSpec extends AnyFunSuite with SparkSuite {
  private def pageDf(rows: Seq[(String, Seq[String], Seq[String], Seq[String])]) = {
    val ss = spark
    import ss.implicits._
    rows.toDF("url", "og_props", "og_vals", "json_ld")
  }

  private def dateOf(url: String, og: Seq[(String, String)], ld: Seq[String]): (String, String) = {
    val df = pageDf(Seq((url, og.map(_._1), og.map(_._2), ld)))
    val r = PageMeta.pubDates(df).first()
    (if (r.isNullAt(1)) null else r.getString(1), if (r.isNullAt(2)) null else r.getString(2))
  }

  test("priority: article:/og: published_time beats JSON-LD beats the url date") {
    val ld = Seq("""{"@type":"Article","datePublished":"2023-02-02"}""")
    // the STANDARD property wins over everything, incl. the og: variant
    assert(dateOf("https://a.com/2021/01/01/x",
      Seq("og:published_time" -> "2022-09-09", "article:published_time" -> "2022-03-03"), ld)
      == (("2022-03-03", "og")))
    assert(dateOf("https://a.com/2021/01/01/x", Seq("og:published_time" -> "2022-03-03"), ld)
      == (("2022-03-03", "og")))
    assert(dateOf("https://a.com/2021/01/01/x", Seq("og:title" -> "t"), ld)
      == (("2023-02-02", "jsonld")))
    assert(dateOf("https://a.com/2021/01/01/x", Seq("og:title" -> "t"), Seq.empty)
      == (("2021-01-01", "url")))
  }

  test("pretty-printed JSON-LD (whitespace around the colon) still declares") {
    val ld = Seq("{\"@type\": \"Article\", \"datePublished\" : \"2020-06-07\"}")
    assert(dateOf("https://a.com/x", Seq.empty, ld) == (("2020-06-07", "jsonld")))
  }

  test("no declaration anywhere resolves to NULL/NULL") {
    assert(dateOf("https://a.com/story/x", Seq("og:image" -> "i.jpg"), Seq.empty) == ((null, null)))
  }

  test("the first JSON-LD block DECLARING a date wins; non-declaring blocks are skipped") {
    val ld = Seq("""{"@type":"Product","sku":"s"}""",
      """{"@type":"Article","datePublished":"2020-12-31","x":1}""")
    assert(dateOf("https://a.com/x", Seq.empty, ld) == (("2020-12-31", "jsonld")))
  }

  test("og match is exact on the property name (og:published_time2 does not fire)") {
    assert(dateOf("https://a.com/x", Seq("og:published_time2" -> "2029-01-01"), Seq.empty)
      == ((null, null)))
  }

  private def s404(title: String, mt: String): (Boolean, String) = {
    val ss = spark
    import ss.implicits._
    val df = Seq(("https://a.com/x", title, mt)).toDF("url", "title", "main_text")
    val r = PageMeta.soft404(df).select("is_soft404", "soft404_reason").first()
    (r.getBoolean(0), if (r.isNullAt(1)) null else r.getString(1))
  }

  test("soft-404: marker title always flags; stub body flags only under the word guard") {
    val long = (0 until 50).map(i => s"w$i").mkString(" ")
    assert(s404("Error 404", long) == ((true, "title")))
    assert(s404("404 - Page Missing", long) == ((true, "title")))
    assert(s404("Oops", "this page was not found sorry") == ((true, "stub_body")))
    assert(s404("Review", s"$long the key was not found in the archive") == ((false, null)))
    assert(s404("Note", "short clean page") == ((false, null)))
  }

  test("a legitimate title merely CONTAINING 404 is not an error page") {
    val long = (0 until 50).map(i => s"w$i").mkString(" ")
    assert(s404("Peugeot 404 review", long) == ((false, null)))
    assert(s404("Story 404", long) == ((false, null)))
  }

  test("both operators are zero-shuffle projections over the input") {
    val df = pageDf(Seq(("https://a.com/x", Seq.empty, Seq.empty, Seq.empty)))
    val p1 = PageMeta.pubDates(df).queryExecution.executedPlan.toString
    val ss = spark; import ss.implicits._
    val df2 = Seq(("u", "t", "m")).toDF("url", "title", "main_text")
    val p2 = PageMeta.soft404(df2).queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange") && !p2.contains("Exchange"),
      s"page-meta ops must not shuffle:\n$p1\n$p2")
  }
}
