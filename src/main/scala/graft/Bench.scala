package graft

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.storage.StorageLevel

/** Sums `executorCpuTime` over every finished task. */
final class CpuListener(sc: SparkContext) extends SparkListener {
  private val cpuNs = new AtomicLong
  private val drained = new Semaphore(0)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty(CpuListener.Drain) != null) drained.release()

  /** Executor CPU seconds of every task that ended before this call: a
    * marked empty job goes through the listener bus behind their events. */
  def seconds(): Double = {
    sc.setLocalProperty(CpuListener.Drain, "1")
    try sc.emptyRDD[Int].count() finally sc.setLocalProperty(CpuListener.Drain, null)
    if (!drained.tryAcquire(60, TimeUnit.SECONDS)) throw new IllegalStateException("listener bus did not drain")
    cpuNs.get / 1e9
  }
}

object CpuListener {
  private val Drain = "graft.cpu.drain"
}

/** Benchmark main (driver contract): runs the headline extraction-throughput
  * measurement plus every SparkEntry query on SPARK_GRAFT_SF_DIR, prints ONE
  * JSON line. Headline = docs/sec and MB/sec of html bytes through the full
  * tokenizer+DOM+boilerplate kernel (pages pre-materialized so synthesis is
  * excluded from the timed section).
  */
object Bench {

  /** Timed extraction pass over pre-materialized pages: (docs, sec, cpu sec). */
  def extractOnce(cpu: CpuListener, pages: org.apache.spark.sql.Dataset[graft.spark.PageRow], parts: Int): (Long, Double, Double) = {
    val c0 = cpu.seconds()
    val t0 = System.nanoTime()
    val n = graft.spark.ExtractJob.extract(pages, "bench", parts).toDF().count()
    val sec = (System.nanoTime() - t0) / 1e9
    (n, sec, cpu.seconds() - c0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val variants = sys.env.getOrElse("SPARK_GRAFT_VARIANTS", "100").toInt
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    val cpu = new CpuListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(cpu)

    // ---- headline: extraction throughput --------------------------------
    val cpus = spark.sparkContext.defaultParallelism
    val pages = graft.spark.Pages.synthesize(spark, sfDir, variants)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bytes = pages.toDF().selectExpr("sum(length(html))").collect()(0).getLong(0)
    val mb = bytes / 1048576.0
    // Warm-up (JIT the kernel), then best-of-3 timed passes: this host shows
    // multi-minute contention windows that can slow one pass 2-7x, and the
    // driver compares BENCH_rN across rounds — a single-pass headline is
    // noise (round-1 driver run read 41 MB/s where a quiet JVM does ~1 GB/s).
    // ALL pass times are emitted (extract_passes / query_passes) plus a
    // contention_spread = slowest/fastest extraction pass, so a cross-round
    // reader can discount a contended window instead of reading a phantom
    // regression.
    extractOnce(cpu, pages, cpus)
    val extractPasses = (1 to 3).map(_ => extractOnce(cpu, pages, cpus))
    val (docs, sec, extractCpu) = extractPasses.minBy(_._2)
    val spread = extractPasses.map(_._2).max / sec
    pages.unpersist()

    // ---- per-query timings (2 passes each; `queries` holds the faster
    // pass's wall time and `query_cpu` its executor CPU — same contention
    // rationale; a crashing query is surfaced in `errors` with value -1,
    // never silently timed as if it ran) ---------------------------------
    def jesc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ").replace("\r", " ")
    final case class Pass(sec: Double, cpuSec: Double, err: String)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): Pass = {
        val c0 = cpu.seconds()
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); null }
        catch { case e: Throwable => e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(120) }
        val sec = (System.nanoTime() - t0) / 1e9
        Pass(sec, cpu.seconds() - c0, err)
      }
      val passes = Seq(once(), once())
      (name, passes, passes.filter(_.err == null).minByOption(_.sec))
    }
    def perQuery(v: Option[Pass] => Double): String = results.map { case (k, _, best) =>
      "\"" + k + f"""\":${v(best)}%.3f"""
    }.mkString("{", ",", "}")
    val qs = perQuery(_.fold(-1.0)(_.sec))
    val qCpu = perQuery(_.fold(-1.0)(_.cpuSec))
    val qPasses = results.map { case (k, ps, _) =>
      "\"" + k + "\":" + ps.map(p => f"${p.sec}%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.flatMap { case (k, ps, _) =>
      ps.find(_.err != null).map(p => "\"" + k + "\":\"" + jesc(p.err) + "\"")
    }.mkString("{", ",", "}")
    val total = results.map(_._3.fold(0.0)(_.sec)).sum + sec
    val ep = extractPasses.map(p => f"${p._2}%.3f").mkString("[", ",", "]")
    spark.sparkContext.removeSparkListener(cpu)
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"query_cpu":$qCpu,"query_passes":$qPasses,"errors":$errs,"sf":"$sfDir","extract":{"docs":$docs,"mb":$mb%.1f,"sec":$sec%.3f,"cpu_sec":$extractCpu%.3f,"docs_per_sec":${docs / sec}%.1f,"mb_per_sec":${mb / sec}%.2f,"passes":$ep,"contention_spread":$spread%.2f},"cpus":$cpus,"variants":$variants}""")
    spark.stop()
  }
}
