package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** SURT key hand vectors — every canonicalization rule the expression pins
  * (case fold, www strip, label reversal, query sort/empty-drop, fragment
  * drop, default path), plus the prefix-scan property the key exists for.
  */
class SurtSpec extends AnyFunSuite with SparkSuite {
  private def surt(u: String): String = {
    val ss = spark; import ss.implicits._
    val r = Seq(u).toDF("url")
      .selectExpr(UrlOps.surtKeyExpr("url") + " AS s").first()
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("case fold + www strip + label reversal + query sort") {
    assert(surt("https://WWW.Example.COM/A/B?b=2&a=1") == "com,example)/a/b?a=1&b=2")
  }

  test("multi-label host reverses fully; no-query urls carry no '?'") {
    assert(surt("https://news.bbc.co.uk/sport") == "uk,co,bbc,news)/sport")
  }

  test("missing path defaults to '/'; fragment is dropped") {
    assert(surt("https://example.com") == "com,example)/")
    assert(surt("https://example.com/p#Frag") == "com,example)/p")
  }

  test("only a literal 'www.' label strips; empty query params drop; all-empty query drops the '?'") {
    assert(surt("https://wwwx.example.com/x") == "com,example,wwwx)/x")
    assert(surt("https://a.example.com/x?b=2&&a=1") == "com,example,a)/x?a=1&b=2")
    assert(surt("https://a.example.com/x?&&") == "com,example,a)/x")
  }

  test("non-absolute url (no host) keys NULL") {
    assert(surt("foo/bar.html") == null)
  }

  test("the point of the key: one registrant's urls form a contiguous prefix range") {
    val keys = Seq(
      "https://www.example.com/a",
      "https://mail.example.com/z?x=1",
      "https://example.com/",
      "https://examplezzz.com/a", // lexically adjacent host must NOT enter the range
      "https://sub.deep.example.com/p").map(surt)
    // registrant range = ["com,example)", "com,example-"): ')' 0x29 and ','
    // 0x2c both precede '-' 0x2d, so the domain itself and every subdomain
    // land inside while the lexically adjacent examplezzz (next byte 'z')
    // stays out — the byte-range scan a SURT-sorted table serves
    val inRange = keys.filter(k => k >= "com,example)" && k < "com,example-")
    assert(inRange.size == 4, s"range: $keys")
    assert(!keys.contains(null))
  }
}
