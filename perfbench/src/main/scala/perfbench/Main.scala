package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark main: one JVM, one workload, a closed loop of passes (each
  * pass starts when the previous one ends) for `--seconds`, then the output
  * check. `--trace 0` reports the end-to-end metrics, `--trace 1` the
  * per-layer metrics; the traced run also records its own end-to-end
  * figures, so `report.py` can set them against an untraced run of the same
  * seed (the tracing overhead). The last stdout line is `RESULT {json}`; run.py turns
  * it into the benchmark's result line. An artifact with host facts, every
  * pass and every metric goes to `--artifacts`.
  */
object Main {
  private val SetupRuns = 3
  private val MinPasses = 3
  private val WarmupSeconds = 5.0
  private val WarmupPairs = 3
  private val LayerSample = 400

  final case class Metric(value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val load0 = loadAvg()
    val w = Workload(o)
    val spans = new Spans(o.trace)
    val t00 = System.nanoTime()
    val root = spans.open(-1, "run", t00)

    // ---- set-up: session start, input generation, materialization ----------
    val setupS = ArrayBuffer.empty[Double]
    var session: (SparkSession, Meter) = null
    for (rep <- 0 until SetupRuns) {
      val t0 = System.nanoTime()
      session = Session.start(o)
      w.setup(session._1)
      setupS += (System.nanoTime() - t0) / 1e9
      spans.add(root, "setup", t0, System.nanoTime())
      if (rep < SetupRuns - 1) { w.teardown(session._1); session._1.stop() }
    }
    val (spark, meter) = session
    val phases = scala.collection.mutable.LinkedHashMap("setup_s" -> (System.nanoTime() - t00) / 1e9)
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val (inRows, inSum) = phase("input_checksum_s")(w.inputChecksum(spark))
    val mb = w.htmlBytes / 1e6

    val passes = ArrayBuffer.empty[PassStat]
    var attempted = 0L
    var failedPages = 0L
    /** One pass over `pages` pages; a pass whose output check fails counts all of them as failed. */
    def pass(kind: String, slots: Int, pages: Long)(body: => Pass): PassStat = {
      val t0 = System.nanoTime()
      val (st, rows, ok) = Session.pass(spark, meter, kind, slots, pages)(body)
      spans.add(root, s"pass.$kind", t0, System.nanoTime())
      attempted += pages
      if (!ok) { failedPages += pages; println(s"pass $kind: output check failed ($rows rows)") }
      passes += st
      st
    }
    def walls(kind: String) = passes.filter(_.kind == kind).map(_.wallS).toSeq
    if (o.trace) phase("warc_copy_s")(w.prepareWarcScan(spark))

    // warm-up: at least WarmupPairs pairs and WarmupSeconds of passes. The
    // first pass compiles most of the path (several times a steady pass);
    // later ones keep getting faster while the JIT still recompiles hot code.
    phase("warmup_s") {
      val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
      var wk = 0
      while (wk < WarmupPairs || System.nanoTime() < warmEnd) {
        pass("warmup", o.cores, w.nPages)(w.passA(spark, -100 - wk))
        pass("warmup", w.slotsB, w.nPagesB)(w.passB(spark, -100 - wk))
        wk += 1
      }
    }
    val tLoop = System.nanoTime()
    val deadline = tLoop + o.seconds * 1000000000L
    var k = 1
    var layers: Layers.Out = null
    var planMs = Double.NaN
    var kernelCalls = 0
    if (!o.trace) {
      // pass B runs twice a round: one-task passes scatter more than pass A's
      while (k <= MinPasses || System.nanoTime() < deadline) {
        pass("A", o.cores, w.nPages)(w.passA(spark, k))
        pass("B", w.slotsB, w.nPagesB)(w.passB(spark, 2 * k))
        pass("B", w.slotsB, w.nPagesB)(w.passB(spark, 2 * k + 1))
        k += 1
      }
    } else {
      w.registerSql(spark)
      while (k <= MinPasses || System.nanoTime() < deadline) {
        pass("scan", o.cores, w.nPages)(w.scan(spark))
        pass("warc_scan", o.cores, w.nPages)(w.warcScan(spark))
        pass("sql_q1", o.cores, w.nPages)(w.sql(spark, fields = false))
        pass("sql_q2", o.cores, w.nPages)(w.sql(spark, fields = true))
        pass("kernel", o.cores, w.nPages)(w.kernel(spark))
        pass("kernel1", 1, w.nPagesB)(w.kernelOne(spark))
        pass("full", o.cores, w.nPages)(w.full(spark, k))
        if (w.bKind == "B") pass("B", w.slotsB, w.nPagesB)(w.passB(spark, k))
        k += 1
      }
      val plans = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(w.q1.format("pages")).queryExecution.executedPlan
        (System.nanoTime() - t0) / 1e6
      }
      planMs = Stats.median(plans)
      kernelCalls = spark.sql(w.q2.format("pages")).queryExecution.executedPlan
        .flatMap(_.expressions.flatMap(_.collect { case e: graft.functions.HtmlKernelExpression => e }))
        .length
      val tl = System.nanoTime()
      val lroot = spans.open(root, "layers", tl)
      layers = Layers.run(w.sample(LayerSample), o.seconds * 0.4, spans, lroot)
      spans.close(lroot, System.nanoTime())
    }
    val loopS = (System.nanoTime() - tLoop) / 1e9
    phases("loop_s") = loopS

    // live heap after an explicit GC, at the end of the timed section
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    // ---- output check -----------------------------------------------------------
    val tc = System.nanoTime()
    val chk = phase("check_s")(w.check(spark))
    spans.add(root, "check", tc, System.nanoTime())
    attempted += chk.checked
    val failed = chk.failed + failedPages
    val checksumOk = chk.expected == chk.observed
    val inputOk = inRows == w.nPages && w.expectedInputSum.forall(_ == inSum)
    val accountingOk = layers == null || layers.accountingFieldsOk
    val correct = failed == 0 && checksumOk && accountingOk && inputOk
    phase("stop_s")(spark.stop())
    spans.close(root, System.nanoTime())
    val load1 = loadAvg()

    // ---- metrics ------------------------------------------------------------------
    /** The end-to-end figures, from the passes that ran pass A's and pass B's work. */
    def endToEnd(aKind: String, bKind: String): Seq[(String, Metric)] = Seq(
      "setup_s" -> Metric(Stats.median(setupS.toSeq), "s"),
      "mb_s_n" -> Metric(mb / Stats.median(walls(aKind)), "MB/s"),
      "mb_s_alt" -> Metric(w.htmlBytesB / 1e6 / Stats.median(walls(bKind)), "MB/s"),
      "cpu_s_per_gb" ->
        Metric(Stats.median(passes.filter(_.kind == aKind).map(_.cpuS).toSeq) / (w.htmlBytes / 1e9), "s/GB"),
      "heap_live_mb" -> Metric(heapMb, "MB"))
    val tracedEndToEnd = if (o.trace) endToEnd(w.aKind, w.bKind) else Nil
    val metrics: Seq[(String, Metric)] =
      if (!o.trace) endToEnd("A", "B")
      else {
        val a = passes.filter(_.kind == w.aKind)
        val kern = passes.filter(_.kind == "kernel")
        val scan = passes.filter(_.kind == "scan")
        val med = (xs: Iterable[Double]) => Stats.median(xs.toSeq)
        val units = Map("mb_s" -> "MB/s", "page_frac" -> "ratio", "per_kb" -> "1/KB",
          "count" -> "count", "us_per_page" -> "us", "time_ratio" -> "ratio", "ns_per_row" -> "ns",
          "p50" -> "us", "p99" -> "us", "max" -> "us", "overhead_frac" -> "ratio")
        def unitOf(name: String) = units.collectFirst { case (s, u) if name.endsWith(s) => u }.get
        layers.metrics.toSeq.sortBy(_._1).map { case (n, v) => n -> Metric(v, unitOf(n)) } ++ Seq(
          "core.truncated.count" -> Metric(chk.truncated.toDouble, "count"),
          "spark.pass.cpu_s" -> Metric(med(a.map(_.cpuS)), "s"),
          "spark.pass.gc_s" -> Metric(med(a.map(_.gcS)), "s"),
          "spark.pass.wall_s" -> Metric(med(a.map(_.wallS)), "s"),
          "spark.kernel1.cpu_s" -> Metric(med(passes.filter(_.kind == "kernel1").map(_.cpuS)), "s"),
          "spark.scan.cpu_s" -> Metric(med(scan.map(_.cpuS)), "s"),
          "spark.scan.gc_s" -> Metric(med(scan.map(_.gcS)), "s"),
          "spark.scan.wall_s" -> Metric(med(scan.map(_.wallS)), "s"),
          "spark.write.s" -> Metric(med(walls("full")) - med(walls("kernel")), "s"),
          "spark.write.bytes" -> Metric(w.writeBytes.toDouble, "B"),
          "spark.write.out_bytes_per_in_byte" -> Metric(w.writeBytes.toDouble / w.htmlBytes, "ratio"),
          "spark.lineage.commit_ms" -> Metric(w.lineageMs, "ms"),
          "spark.cpu_util" -> Metric(med(kern.map(_.cpuUtil)), "ratio"),
          "spark.task.skew" -> Metric(med(kern.map(_.skew)), "ratio"),
          "spark.scaling_eff" -> Metric((mb / med(walls("kernel"))) /
            (o.cores * w.htmlBytesB / 1e6 / med(walls("kernel1"))), "ratio"),
          "sources.warc.scan_mb_s" -> Metric(mb / med(walls("warc_scan")), "MB/s"),
          "sources.warc.records_missing" -> Metric((w.nPages - w.warcRowsRead).toDouble, "count"),
          "functions.q1_mb_s" -> Metric(mb / med(walls("sql_q1")), "MB/s"),
          "functions.q2_mb_s" -> Metric(mb / med(walls("sql_q2")), "MB/s"),
          "functions.q1_cpu_s" -> Metric(med(passes.filter(_.kind == "sql_q1").map(_.cpuS)), "s"),
          "functions.q2_cpu_s" -> Metric(med(passes.filter(_.kind == "sql_q2").map(_.cpuS)), "s"),
          "functions.kernel_calls_per_row" -> Metric(kernelCalls.toDouble, "count"),
          "functions.plan_ms" -> Metric(planMs, "ms"))
      }

    // ---- artifact -----------------------------------------------------------------
    val rt = Runtime.getRuntime
    val host = Map(
      "nproc" -> o.cores, "loadavg_start" -> load0, "loadavg_end" -> load1,
      "git_sha" -> o.gitSha, "source_sha" -> o.sourceSha,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(","),
      "xmx" -> o.heap, "max_heap_mb" -> rt.maxMemory / 1e6, "spark" -> spark.version)
    val passRows = passes.map(p => Map("kind" -> p.kind, "slots" -> p.slots, "pages" -> p.pages,
      "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "cpu_util" -> p.cpuUtil, "tasks" -> p.tasks,
      "task_skew" -> p.skew, "bytes_written" -> p.bytesWritten))
    val flags = ArrayBuffer.empty[String]
    if (layers != null && !layers.accountingTimeOk)
      flags += f"layer accounting: composed/full time ratio ${layers.metrics("dom.accounting.time_ratio")}%.3f outside 1 +/- ${Layers.AccountingTolerance}"
    if (layers != null && !layers.accountingFieldsOk) flags += "layer accounting: composed steps and extractInto disagree"
    if (!checksumOk) flags += "output checksum differs from the generator's"
    if (!inputOk) flags += "the program's read of the input differs from the generator's pages"
    val tag = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}"
    val artifact = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "host" -> host,
      "input" -> Map("pages" -> w.nPages, "html_bytes" -> w.htmlBytes, "rows_read" -> inRows,
        "checksum" -> java.lang.Long.toHexString(inSum),
        "generator_checksum" -> w.expectedInputSum.map(java.lang.Long.toHexString).orNull),
      "setup_s" -> setupS.toSeq, "phases" -> phases, "passes" -> passRows,
      "check" -> Map("checked" -> chk.checked, "failed" -> failed, "truncated" -> chk.truncated,
        "expected_checksum" -> java.lang.Long.toHexString(chk.expected),
        "observed_checksum" -> java.lang.Long.toHexString(chk.observed)),
      "attempted" -> attempted, "failed_frac" -> failed.toDouble / attempted,
      "metrics" -> asJson(metrics),
      "end_to_end" -> (if (o.trace) asJson(tracedEndToEnd) else null),
      "layers" -> (if (layers == null) null else Map("pages" -> layers.pages, "bytes" -> layers.bytes,
        "rounds" -> layers.rounds, "slowest_url" -> layers.slowestUrl,
        "fields_ok" -> layers.accountingFieldsOk, "time_ok" -> layers.accountingTimeOk,
        "span_self_ms" -> spans.selfMs)),
      "flags" -> flags.toSeq, "correct" -> correct)
    val dir = java.nio.file.Paths.get(o.artifacts)
    java.nio.file.Files.write(dir.resolve(s"$tag.json"), Json.writeValueAsBytes(artifact))
    if (o.trace) spans.write(dir.resolve(s"$tag.spans.jsonl"))

    // ---- report ---------------------------------------------------------------------
    println(f"workload ${o.workload} seed ${o.seed}: ${w.nPages} pages, $mb%.2f MB html, " +
      f"${passes.length} passes in $loopS%.1f s, nproc ${o.cores}, load $load0%.2f -> $load1%.2f")
    metrics.foreach { case (n, m) => println(f"  $n%-36s ${m.value}%14.4f ${m.unit}") }
    if (o.trace) {
      println("  end-to-end figures of this traced run (report.py sets them against an untraced run):")
      tracedEndToEnd.foreach { case (n, m) => println(f"    $n%-34s ${m.value}%14.4f ${m.unit}") }
    }
    println(f"  failed_frac ${failed.toDouble / attempted}%.6f ($failed of $attempted pages)")
    flags.foreach(f => println(s"  FLAG: $f"))
    val result = Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> asJson(metrics))
    println("RESULT " + Json.writeValueAsString(result))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def asJson(ms: Seq[(String, Metric)]): ListMap[String, Map[String, Any]] =
    ListMap(ms.map { case (n, m) => n -> Map("value" -> m.value, "unit" -> m.unit) }: _*)

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
