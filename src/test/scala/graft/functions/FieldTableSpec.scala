package graft.functions

import graft.spark.{ExtractJob, PageRow, Pages}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One answer per kernel output, whatever the entry path: for every row of
  * [[HtmlFunctions.fields]], the single call, the fused call over all ten
  * fields and `ExtractJob.extract`'s column agree on synthesized article
  * and media pages and a hand page; a null html gives SQL null.
  */
class FieldTableSpec extends AnyFunSuite with SparkSuite {
  private var pages: DataFrame = _

  /** ExtractJob's column for each struct field name. */
  private val typedColumn = Map(
    "main_text" -> "main_text",
    "full_text" -> "full_text",
    "title" -> "title",
    "lang" -> "declared_lang",
    "tag_count" -> "n_tags",
    "links" -> "links",
    "errors" -> "errors",
    "spans" -> "spans",
    "og" -> "transform(arrays_zip(og_props, og_vals), p -> named_struct('prop', p.og_props, 'content', p.og_vals))",
    "json_ld" -> "json_ld")

  private val handPage =
    """<html lang="DE-at"><head><title>Hand</title>
      |<meta property="og:title" content="OG T"><meta property="og:image" content="/i.png">
      |<script type="application/ld+json">{"@type":"Article"}</script></head>
      |<body><p>hand page text <a href="/h">link</a></p><p>x</b><?pi></body></html>""".stripMargin

  override def beforeAll(): Unit = {
    super.beforeAll()
    HtmlFunctions.register(spark)
    HtmlFunctions.registerRule(spark)
    val ss = spark
    import ss.implicits._
    val extra = Seq(
      PageRow("https://example.com/hand", null, handPage.getBytes("UTF-8"), null, "de"),
      PageRow("https://example.com/null", null, null, null, "en")).toDS()
    // a small documents table for the page synthesizers
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_field_table"
    (0 until 300).map(i => (i.toLong, s"page $i says ${"word " * (i % 40)}done",
        Seq("en", "de", "fr")(i % 3), s"src${i % 4}"))
      .toDF("doc_id", "text", "lang", "source").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // parquet-backed, so the projections run in tasks, not at optimization
    Pages.synthesize(spark, dir).union(Pages.synthesizeMediaPages(spark, dir)).union(extra)
      .write.mode("overwrite").parquet(s"$dir/pages")
    pages = spark.read.parquet(s"$dir/pages")
    pages.createOrReplaceTempView("ft_pages")
  }

  private val fields = HtmlFunctions.fields

  private def fusedAll: DataFrame = spark.sql(
    fields.map(f => s"${f.sqlName}(html) AS ${f.name}").mkString("SELECT url, ", ", ", " FROM ft_pages"))

  test("every table row has a typed counterpart; names are unique") {
    assert(fields.map(_.name).toSet == typedColumn.keySet)
    assert(fields.map(_.sqlName).distinct.length == fields.length)
  }

  test("a fused call over all fields is one kernel run building every field") {
    val fused = fusedAll.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case k: HtmlKernelExpression => k
    }))
    assert(fused.length == 1, fused)
    assert(fused.head.asInstanceOf[HtmlExtractAll].fields == fields.indices)
  }

  test("single call == fused call == ExtractJob.extract, field by field") {
    val ss = spark
    import ss.implicits._
    val typed = ExtractJob.extract(pages.where("html IS NOT NULL").as[PageRow], "field-table", 4).toDF()
      .selectExpr("url" +: fields.map(f => s"${typedColumn(f.name)} AS ${f.name}"): _*)
    val nonNull = pages.where("html IS NOT NULL").count()
    val fused = fusedAll
    for (f <- fields) {
      val single = spark.sql(s"SELECT url, ${f.sqlName}(html) AS v FROM ft_pages")
      val all = single
        .join(fused.select(col("url"), col(f.name).as("w")), "url")
        .join(typed.select(col("url"), col(f.name).as("t")), Seq("url"), "left")
      assert(all.where(!(col("v") <=> col("w"))).count() === 0, s"${f.sqlName}: single != fused")
      assert(all.where(col("t").isNotNull && (col("v") <=> col("t"))).count() === nonNull,
        s"${f.sqlName}: single != ExtractJob.extract")
      // the comparison is not vacuous: the field takes several values
      assert(single.select("v").distinct().count() > 1, s"${f.sqlName} is constant over the corpus")
    }
  }

  test("null html gives SQL null, single and fused") {
    val nullRow = "FROM ft_pages WHERE url = 'https://example.com/null'"
    for (f <- fields)
      assert(spark.sql(s"SELECT ${f.sqlName}(html) $nullRow").collect().map(_.isNullAt(0)).toSeq == Seq(true),
        f.sqlName)
    val fused = fusedAll.where("url = 'https://example.com/null'").collect()
    assert(fused.length == 1 && (1 to fields.length).forall(fused(0).isNullAt))
    assert(spark.sql(s"SELECT html_extract_all(html) $nullRow").collect().map(_.isNullAt(0)).toSeq == Seq(true))
  }
}
