package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Registrable-domain (eTLD+1) extraction: suffix-set hits, the generic
  * ccTLD second-label rule, plain TLDs, degenerate hosts, and the
  * registrant-identity property per-domain capping depends on.
  */
class DomainSpec extends AnyFunSuite with SparkSuite {
  private def rd(hosts: String*): Seq[String] = {
    val df = spark.createDataFrame(hosts.map(Tuple1(_))).toDF("host")
    UrlOps.registrableDomains(df, "host").orderBy("host")
      .collect().map(_.getAs[String]("registrable_domain")).toSeq
  }

  test("listed multi-label suffixes keep three labels") {
    assert(rd("www.shop.co.uk") == Seq("shop.co.uk"))
    assert(rd("a.b.c.site.com.au") == Seq("site.com.au"))
    assert(rd("lab.ac.jp") == Seq("lab.ac.jp"))
  }

  test("generic second label under a 2-letter ccTLD keeps three labels even off-list") {
    // com.xx is not in the subset list but matches the generic rule
    assert(rd("x.sub.com.eg") == Seq("sub.com.eg"))
    assert(rd("y.go.ke") == Seq("y.go.ke"))
  }

  test("plain TLDs keep two labels; one- and two-label hosts pass through") {
    assert(rd("deep.cdn.example.com") == Seq("example.com"))
    assert(rd("news7.de") == Seq("news7.de"))
    assert(rd("localhost") == Seq("localhost"))
    assert(rd("co.uk") == Seq("co.uk")) // the bare suffix is 2 labels: untouched
  }

  test("registrant identity: subdomains of one registrant collapse, siblings under a suffix do not") {
    assert(rd("a.shop.co.uk", "b.shop.co.uk").distinct == Seq("shop.co.uk"))
    assert(rd("alpha.co.uk", "beta.co.uk").distinct.size == 2)
  }
}
