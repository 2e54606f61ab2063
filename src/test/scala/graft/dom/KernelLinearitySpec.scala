package graft.dom

import org.scalatest.funsuite.AnyFunSuite

/** No input shape makes the kernel quadratic: a page four times the size of
  * its twin takes at most 8× as long (linear code gives about 4×, quadratic
  * about 16×). Each time is the minimum of 5 `extractInto` runs after a
  * warm-up, with one reused sink, in the test thread's CPU time — so other
  * threads and processes on a loaded host do not count — and the small and
  * large runs alternate, so a slower spell of the core (a busy sibling
  * thread, a cold cache) falls on both sizes alike.
  */
class KernelLinearitySpec extends AnyFunSuite {
  private val MaxRatio = 8.0
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  private def cpuNanos(html: Array[Byte], sink: ExtractSink): Long = {
    val t0 = threads.getCurrentThreadCpuTime
    Extractor.extractInto(html, sink)
    threads.getCurrentThreadCpuTime - t0
  }

  private def ratio(small: String, large: String): Double = {
    val sink = new ExtractSink
    val s = small.getBytes("US-ASCII")
    val l = large.getBytes("US-ASCII")
    (0 until 3).foreach { _ => Extractor.extractInto(s, sink); Extractor.extractInto(l, sink) }
    val runs = (0 until 5).map(_ => (cpuNanos(s, sink), cpuNanos(l, sink)))
    val r = runs.map(_._2).min.toDouble / runs.map(_._1).min
    info(f"${l.length} B vs ${s.length} B: time ratio $r%.2f")
    r
  }

  test("a 32,000-deep div page takes at most 8x its 8,000-deep twin") {
    def page(depth: Int) = "<body>" + "<div>" * depth + "x" + "</div>" * depth
    val r = ratio(page(8000), page(32000))
    assert(r <= MaxRatio, f"ratio $r%.2f")
    val res = Extractor.extractInto(page(32000).getBytes("US-ASCII"), new ExtractSink)
    assert(res.text == "x" && !res.truncated)
    assert(res.spans.head.path.startsWith("/html/body" + "/div" * 32000 + "#"))
  }

  test("a 256 KB doctype name takes at most 8x its 64 KB twin") {
    def page(n: Int) = "<!DOCTYPE " + "a" * n + "><p>x</p>"
    val r = ratio(page(65536), page(262144))
    assert(r <= MaxRatio, f"ratio $r%.2f")
    val res = Extractor.extractInto(page(262144).getBytes("US-ASCII"), new ExtractSink)
    assert(res.text == "x" && !res.truncated)
  }
}
