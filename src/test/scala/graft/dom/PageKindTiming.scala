package graft.dom

import graft.spark.Pages

/** Single-thread `Extractor.extractInto` time over seeded all-ASCII
  * `Pages.render` pages, split by page kind: plain, blob (a 4-64 KB
  * `data-blob` attribute) and deep (200 nested divs). One sink is reused,
  * as the Spark kernel reuses it across a partition. Each round runs each
  * kind's pages in turn and takes the thread's CPU time, so other load on
  * the host moves the figures less than wall time would. Prints one line
  * per kind: pages, MB, best-round MB per CPU second and the kind's share
  * of the CPU time.
  *
  * {{{
  * sbt "Test/runMain graft.dom.PageKindTiming 6000 905 8"   # pages, seed, rounds
  * }}}
  */
object PageKindTiming {
  private val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")

  def main(args: Array[String]): Unit = {
    val nPages = if (args.length > 0) args(0).toInt else 6000
    val seed = if (args.length > 1) args(1).toLong else 905L
    val rounds = if (args.length > 2) args(2).toInt else 8
    val rng = new java.util.SplittableRandom(seed)
    val pages = (0 until nPages).map { d =>
      val n = 120 + rng.nextInt(200)
      val text = (0 until n).map(_ => words(rng.nextInt(words.length))).mkString(" ")
      Pages.render(seed * 100000L + d, 0, text, "en", "web").getBytes("US-ASCII")
    }.toArray
    val kinds = Array("plain", "blob", "deep")
    val kindOf = pages.map { p =>
      val s = new String(p, "US-ASCII")
      if (s.contains("data-blob=\"")) 1 else if (s.contains("<div class=\"w\">" * 200)) 2 else 0
    }
    val bytes = new Array[Long](3)
    pages.indices.foreach(i => bytes(kindOf(i)) += pages(i).length)
    val byKind = (0 until 3).map(k => pages.indices.filter(kindOf(_) == k).map(pages(_)).toArray)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val sink = new ExtractSink
    var sum = 0L
    val best = Array.fill(3)(Long.MaxValue)
    var r = 0
    while (r < rounds + 3) { // the first three rounds warm the JIT
      var k = 0
      while (k < 3) {
        val t0 = mx.getCurrentThreadCpuTime
        byKind(k).foreach(p => sum += Extractor.extractInto(p, sink).mainText.length)
        if (r >= 3) best(k) = math.min(best(k), mx.getCurrentThreadCpuTime - t0)
        k += 1
      }
      r += 1
    }
    val total = best.sum.toDouble
    (0 until 3).foreach { k =>
      val n = kindOf.count(_ == k)
      println(f"${kinds(k)}%-6s pages=$n%5d mb=${bytes(k) / 1e6}%7.2f " +
        f"mb_per_cpu_s=${if (best(k) == 0) 0.0 else bytes(k) / 1e6 / (best(k) / 1e9)}%8.1f cpu_share=${best(k) / total}%.3f")
    }
    println(f"all    pages=${pages.length}%5d mb=${bytes.sum / 1e6}%7.2f mb_per_cpu_s=${bytes.sum / 1e6 / (total / 1e9)}%8.1f ($sum)")
  }
}
