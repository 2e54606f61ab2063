package graft.tools

import java.nio.file.{Files, Paths}

/** Regenerates the checked-in golden hashes (FIXTURES.md §3): for every
  * sf0.001 document, render the variant-0 page and record
  * sha256(main_text) / sha256(full_text) / sha256(fidelity_text) from the
  * SEQUENTIAL oracle kernel (no Spark). Run only when extraction semantics
  * intentionally change:
  *
  *   sbt "runMain graft.tools.GoldenGen"
  */
object GoldenGen {
  def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
  }

  /** (url, mainSha, fullSha, fidSha) rows for one sf dir, oracle-only. */
  def rows(sfDir: String): Seq[String] = {
    // read documents.parquet via parquet-hadoop already on the classpath
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source").collect()
    val out = docs.sortBy(_.getLong(0)).map { r =>
      val (id, text, lang, source) = (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))
      val html = graft.spark.Pages.render(id, 0, text, lang, source)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ex = graft.dom.Extractor.extract(html)
      val (fid, _) = graft.dom.Extractor.fidelityText(html)
      s"${graft.spark.Pages.urlOf(id, 0, lang, source)}\t${sha256(ex.mainText)}\t${sha256(ex.text)}\t${sha256(fid)}"
    }.toSeq
    spark.stop()
    out
  }

  /** Tree-construction-stressing pages: deterministic fragments exercising
    * implied structure, foster parenting, misnesting, reconstruction and
    * CDATA, plus seeded tag soup (robustness: no crash, stable output).
    * No testdata dependency — ids are stable keys.
    */
  def gnarlyPages: Seq[(String, String)] = {
    val hand = Seq(
      "frag_bare" -> "hello<p>world</p>",
      "frag_headless" -> "<title>t</title>body text here",
      "foster_text" -> "<table>x<tr><td>y</td></tr></table>",
      "foster_elem" -> "<table><div>fostered</div><tr><td>cell</td></tr></table>",
      "implied_rows" -> "<table><tr><td>a<td>b<tr><td>c</table>tail",
      "scope_cell" -> "<div>a<table><tr><td>b</div>c</td></tr></table>d</div>",
      "fmt_reconstruct" -> "<p><b>one</p><p>two</p>",
      "fmt_misnest" -> "<p><b><i>a</b>b</i>c</p>",
      "fmt_marker" -> "<p><b>one</p><table><tr><td>plain</td></tr></table>tail",
      "fmt_cell_end" -> "<p><b>x<table><tr><td></b>plain</td></tr></table>y</b>z</p>",
      "aa_block" -> "<div>1<b>2<section>3</b>4</section>5</div>",
      "aa_p" -> "<b>1<p>2</b>3</p>",
      "aa_link" -> "<a href=\"/x\">1<p>2</a>3</p>",
      "aa_inner" -> "<p>0</p><b><i><div>x</b>y</div>",
      "noahs_ark" -> ("<p>" + "<b>" * 10 + "one</p><p>two</p>"),
      "title_late" -> "<title>first</title><body>content<title>late</title>more",
      "cdata_svg" -> "<div><svg><![CDATA[x<y]]></svg>ok</div>",
      "cdata_html" -> "<div><![CDATA[x]]>ok</div>",
      "after_body" -> "<body><p>a</p></body>tail</html>",
      "nested_lists" -> "<ul><li>a<ul><li>b<li>c</ul><li>d</ul>",
      "dl_implied" -> "<dl><dt>t1<dd>d1<dt>t2<dd>d2</dl>",
      "double_table" -> "<table><tr><td>a</td></tr><table><tr><td>b</td></tr></table>",
      "link_farm" -> "<p><a href=\"/1\">one</a> and <a href=\"/2\">two</a> words around</p>"
    )
    val soupTags = Array("p", "div", "b", "i", "table", "tr", "td", "ul", "li",
      "span", "a", "em", "h2", "dl", "dt", "dd", "svg", "head", "body", "title")
    val soup = (0 until 50).map { k =>
      val rng = new graft.spark.Mix(0x900d + k)
      val sb = new StringBuilder
      var i = 0
      val n = 20 + rng.nextInt(60)
      while (i < n) {
        rng.nextInt(5) match {
          case 0 | 1 => sb.append('<').append(soupTags(rng.nextInt(soupTags.length))).append('>')
          case 2 => sb.append("</").append(soupTags(rng.nextInt(soupTags.length))).append('>')
          case _ =>
            val w = 1 + rng.nextInt(4)
            var j = 0
            while (j < w) { sb.append("word").append(rng.nextInt(100)).append(' '); j += 1 }
        }
        i += 1
      }
      s"soup_$k" -> sb.toString
    }
    hand ++ soup
  }

  /** id, main sha, full sha, fidelity sha, span-structure sha (start:end:path:kept). */
  def gnarlyRows: Seq[String] = gnarlyPages.map { case (id, html) =>
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ex = graft.dom.Extractor.extract(bytes)
    val (fid, _) = graft.dom.Extractor.fidelityText(bytes)
    val spanSig = ex.spans.map(s => s"${s.start}:${s.end}:${s.path}:${s.kept}").mkString("|")
    s"$id\t${sha256(ex.mainText)}\t${sha256(ex.text)}\t${sha256(fid)}\t${sha256(spanSig)}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val target = Paths.get("src/test/resources/golden/sha256_sf0.001.tsv")
    Files.createDirectories(target.getParent)
    Files.writeString(target, rows(sfDir).mkString("", "\n", "\n"))
    println(s"wrote $target")
    val gnarly = Paths.get("src/test/resources/golden/sha256_gnarly.tsv")
    Files.writeString(gnarly, gnarlyRows.mkString("", "\n", "\n"))
    println(s"wrote $gnarly")
  }
}
