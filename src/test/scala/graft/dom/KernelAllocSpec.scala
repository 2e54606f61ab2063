package graft.dom

import org.scalatest.funsuite.AnyFunSuite
import graft.spark.Pages

/** Allocation budget of the extraction kernel: bytes allocated by
  * `Extractor.extractInto` per KB of html, with one sink reused across the
  * pages as the Spark kernel reuses it across a partition. Measured with the
  * calling thread's allocation counter after a JIT warm-up, over seeded
  * all-ASCII pages shaped like the synthetic corpus, including 200-deep and
  * 4-64 KB attribute-blob pages.
  *
  * Before the allocation diet (a prefix string per ancestor for span
  * paths, a tag-register copy per name run, attribute and end-tag
  * character, tokenizer buffers regrown per page) the kernel allocated
  * 12,200-13,100 B per html KB on these pages. After it, 3,100-3,300;
  * after attribute views (no per-tag attribute vector, no copy of a value
  * nobody reads) and the in-place comment register, 1,280-1,320. The bound
  * is half of the lowest figure before that last change.
  */
class KernelAllocSpec extends AnyFunSuite {
  private val BoundBytesPerKb = 1550.0

  private val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")

  private def pages(): Array[Array[Byte]] = {
    val rng = new java.util.SplittableRandom(20261018L)
    (0L until 300L).map { d =>
      val sb = new StringBuilder
      val n = 120 + rng.nextInt(200)
      var i = 0
      while (i < n) { if (i > 0) sb.append(' '); sb.append(words(rng.nextInt(words.length))); i += 1 }
      Pages.render(d, 0, sb.toString, "en", "web").getBytes("US-ASCII")
    }.toArray
  }

  test("extractInto allocates at most half the pre-diet bytes per html KB") {
    val ps = pages()
    assert(ps.exists(p => new String(p, "US-ASCII").contains("<div class=\"w\">" * 200)), "no 200-deep page")
    assert(ps.exists(p => p.length > 8192), "no attribute-blob page")
    val htmlKb = ps.map(_.length.toLong).sum / 1024.0
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val sink = new ExtractSink
    var sum = 0L // keeps the results observable
    def pass(): Unit = ps.foreach(p => sum += Extractor.extractInto(p, sink).mainText.length)
    var w = 0
    while (w < 40) { pass(); w += 1 }
    val perKb = (0 until 7).map { _ =>
      val a0 = mx.getThreadAllocatedBytes(tid)
      pass()
      (mx.getThreadAllocatedBytes(tid) - a0) / htmlKb
    }.min
    info(f"extractInto: $perKb%.0f B/html KB over ${htmlKb}%.0f KB ($sum)")
    assert(perKb <= BoundBytesPerKb, f"$perKb%.0f B/html KB")
  }
}
