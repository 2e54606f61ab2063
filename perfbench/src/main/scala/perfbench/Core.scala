package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    heap: String,
    work: String,
    artifacts: String,
    gitSha: String,
    sourceSha: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cores").toInt, m.getOrElse("heap", "?"), get("work"), get("artifacts"),
      m.getOrElse("git-sha", "none"), m.getOrElse("source-sha", "none"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolation quantile (type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Sums task metrics for the pass in flight; reset before each pass. */
final class Meter extends SparkListener {
  private var cpuNs = 0L
  private var gcMs = 0L
  private val durations = ArrayBuffer.empty[Long]
  private var written = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      written += m.outputMetrics.bytesWritten
    }
    durations += e.taskInfo.duration
  }
  def reset(): Unit = synchronized { cpuNs = 0; gcMs = 0; durations.clear(); written = 0 }
  def read(): (Double, Double, Seq[Long], Long) =
    synchronized { (cpuNs / 1e9, gcMs / 1e3, durations.toList, written) }
}

/** One timed pass over `pages` pages. `slots` is how many cores it may use (1 or nproc). */
final case class PassStat(kind: String, slots: Int, pages: Long, wallS: Double, cpuS: Double,
    gcS: Double, tasks: Int, maxTaskMs: Long, medianTaskMs: Double, bytesWritten: Long) {
  def cpuUtil: Double = cpuS / (wallS * slots)
  def skew: Double = if (medianTaskMs > 0) maxTaskMs / medianTaskMs else 1.0
}

/** A span: a named interval, its parent (-1 for a root) and times in ns. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span store, written out when the run ends. Disabled stores
  * record nothing, so untraced code paths pay one branch.
  */
final class Spans(val enabled: Boolean) {
  val all = ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, t0: Long, t1: Long): Int =
    if (!enabled) -1 else { val id = all.length; all += Span(id, parent, name, t0, t1); id }
  /** Reserves an id for a span whose end is not known yet. */
  def open(parent: Int, name: String, t0: Long): Int = add(parent, name, t0, t0)
  def close(id: Int, t1: Long): Unit = if (id >= 0) all(id) = all(id).copy(endNs = t1)

  /** Self time per span name, in ms: duration minus the time its children cover. */
  def selfMs: Map[String, Double] = {
    val childNs = new Array[Long](all.length)
    all.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s => w.write(Json.writeValueAsString(s)); w.newLine() } finally w.close()
  }
}

object Session {
  def start(o: Opts): (SparkSession, Meter) = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    (spark, meter)
  }

  /** Runs `body` as one timed pass. `body` does the timed work and returns
    * the verification to run after the clock stops: (rows, output correct).
    */
  def pass(spark: SparkSession, meter: Meter, kind: String, slots: Int, pages: Long)(
      body: => (() => (Long, Boolean))): (PassStat, Long, Boolean) = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    meter.reset()
    val t0 = System.nanoTime()
    val verify = body
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val (cpu, gc, durs, written) = meter.read()
    val (rows, ok) = verify()
    val med = if (durs.isEmpty) 0.0 else Stats.median(durs.map(_.toDouble))
    (PassStat(kind, slots, pages, wall, cpu, gc, durs.length, if (durs.isEmpty) 0L else durs.max, med, written),
      rows, ok)
  }
}

/** Order-independent output checksums: the wrapping sum over rows of an
  * XXH64 chain over the row's fields, computed in the executors.
  */
object Check {
  private val Str = 0
  private val IntT = 1
  private val LongT = 2
  private val BoolT = 3
  private val BinT = 4

  def strHash(u: UTF8String, seed: Long): Long =
    if (u == null) XXH64.hashLong(0x5bd1e995L, seed)
    else XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)

  /** The hash `fold` gives a (url: string, html: binary) row. */
  def rowHash(url: String, html: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(html, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, html.length,
      strHash(UTF8String.fromString(url), 42L))

  /** (rows, checksum) of `df`, folded over its internal rows. */
  def fold(df: DataFrame): (Long, Long) = {
    val kinds = df.schema.fields.map(_.dataType match {
      case StringType => Str
      case IntegerType => IntT
      case LongType => LongT
      case BooleanType => BoolT
      case BinaryType => BinT
      case t => throw new IllegalArgumentException(s"checksum over $t")
    })
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      while (it.hasNext) {
        val r = it.next()
        var h = 42L
        var i = 0
        while (i < kinds.length) {
          h = kinds(i) match {
            case Str => strHash(if (r.isNullAt(i)) null else r.getUTF8String(i), h)
            case IntT => XXH64.hashLong(r.getInt(i).toLong, h)
            case LongT => XXH64.hashLong(r.getLong(i), h)
            case BoolT => XXH64.hashLong(if (r.getBoolean(i)) 1L else 0L, h)
            case _ =>
              val b = r.getBinary(i)
              XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, h)
          }
          i += 1
        }
        n += 1
        sum += h
      }
      Iterator((n, sum))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** Pages whose extracted text is missing, extra, different from the
    * expected text, or truncated. `expected` has (url, text); `out` has
    * (url, main_text, truncated).
    */
  def failures(expected: DataFrame, out: DataFrame): Long =
    expected.join(out, Seq("url"), "full_outer")
      .where("text IS NULL OR main_text IS NULL OR main_text <> text OR truncated")
      .count()
}
