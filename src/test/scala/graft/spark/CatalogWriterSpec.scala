package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, input_file_name}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The catalog's one data-file writer against a reference computed here with
  * plain Spark SQL over the files it wrote: per-file min/max cast to string
  * and row counts (`groupBy(input_file_name())`), md5 bloom bits, HLL
  * registers (`hll_sketch`) and DD bucket counts — over seeded string, long,
  * int, double, timestamp and date columns with nulls plus a nested array
  * column, a task without rows, a task whose rows are all null, every
  * partition transform (range- and exact-clustered), and a DSv2 write that
  * rolls files. Each entry point writes as many files as `df.write.parquet`
  * writes for the same frame, and every sidecar, the schema and the
  * declared spec are on disk before the pointer moves.
  */
class CatalogWriterSpec extends AnyFunSuite with SparkSuite {
  import CatalogWriterSpec.WatchedCatalog

  private val Parts = 6

  override def beforeAll(): Unit = {
    super.beforeAll()
    // days() must render in the session time zone, not UTC
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
  }

  private def tmp(): String = Files.createTempDirectory("graftwriter").toFile.getAbsolutePath

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("s", StringType),
    StructField("k", IntegerType), StructField("d", DoubleType),
    StructField("ts", TimestampType), StructField("day", DateType),
    StructField("n", LongType), StructField("tags", ArrayType(StringType))))

  /** `Parts` tasks: task 1 holds no row, task 2 only rows whose nullable
    * columns are all null, the rest seeded rows with ~20% nulls. */
  private def frame(seed: Int, rowsPerTask: Int = 40): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def maybe[A](a: => A): Any = if (rnd.nextInt(5) == 0) null else a
    val t0 = java.sql.Timestamp.valueOf("2024-03-09 20:00:00").getTime
    val byTask: Array[Seq[Row]] = Array.tabulate(Parts) { t =>
      if (t == 1) Nil
      else (0 until rowsPerTask).map { i =>
        val id = (seed * 100000L) + t * 1000L + i
        if (t == 2) Row(id, null, null, null, null, null, null, null)
        else Row(id, maybe(s"s${rnd.nextInt(60)}"), maybe(rnd.nextInt(2000) - 1000),
          maybe(math.round(rnd.nextGaussian() * 1e4) / 100.0),
          maybe(new java.sql.Timestamp(t0 + rnd.nextInt(72 * 3600) * 1000L)),
          maybe(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(400)))),
          maybe(rnd.nextInt(1 << 20).toLong),
          maybe(Seq.fill(rnd.nextInt(3))(s"t${rnd.nextInt(9)}")))
      }
    }
    val rdd = spark.sparkContext.parallelize(0 until Parts, Parts).mapPartitions { it =>
      it.flatMap(t => byTask(t).iterator)
    }
    spark.createDataFrame(rdd, schema)
  }

  private def files(cat: ParquetSnapshotCatalog, t: String, snap: Long): Seq[String] =
    cat.filesWithAddOrder(t, snap).collect { case (f, k) if k == snap => f }

  private def sidecar(root: String, t: String, name: String): Set[String] = {
    val p = Paths.get(root, t, "_manifests", name)
    assert(Files.exists(p), s"no sidecar $name")
    Files.readAllLines(p).asScala.filter(_.nonEmpty).toSet
  }

  private def esc(v: String): String = ParquetSnapshotCatalog.escStat(v)

  private def written(fs: Seq[String]): DataFrame =
    spark.read.parquet(fs: _*).withColumn("__file", input_file_name())

  private def plainPath(uri: String): String = new Path(uri).toUri.getPath

  /** The stats sidecar as plain SQL computes it over the written files:
    * each stat's min/max cast to string for a file with rows, then
    * `__count` (an empty file has only its count). */
  private def statsRef(fs: Seq[String], named: Seq[(String, String)]): Set[String] = {
    val aggs = named.flatMap { case (_, e) =>
      Seq(s"CAST(min($e) AS STRING)", s"CAST(max($e) AS STRING)") } :+ "count(1)"
    val rows = written(fs).groupBy("__file").agg(expr(aggs.head), aggs.tail.map(expr): _*)
      .collect().map(r => plainPath(r.getString(0)) -> r).toMap
    fs.flatMap { f =>
      rows.get(f) match {
        case Some(r) =>
          named.zipWithIndex.map { case ((n, _), i) =>
            s"$f\t$n\t${esc(r.getString(1 + 2 * i))}\t${esc(r.getString(2 + 2 * i))}" } :+
            s"$f\t__count\t${r.getLong(1 + 2 * named.size)}\t${r.getLong(1 + 2 * named.size)}"
        case None => Seq(s"$f\t__count\t0\t0")
      }
    }.toSet
  }

  private def parquetFileCount(df: DataFrame): Int = {
    val d = tmp() + "/ref"
    df.write.parquet(d)
    Files.walk(Paths.get(d)).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
  }

  private val statCols = Seq("id", "s", "k", "d", "ts", "day", "n")

  test("commitWithStats: bounds, counts, file count and schema equal plain SQL over the files") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val df = frame(1)
    val snap = cat.commitWithStats(df, "t", statCols)
    val fs = files(cat, "t", snap)
    // as df.write.parquet: no file for the empty task, one per other task
    assert(fs.size == parquetFileCount(df) && fs.size == Parts - 1)
    assert(sidecar(root, "t", s"m$snap.stats.tsv") == statsRef(fs, statCols.map(c => (c, s"`$c`"))))
    // the all-null task's file: every bound is \N, its rows still count
    assert(sidecar(root, "t", s"m$snap.stats.tsv").exists(_.endsWith("\tts\t\\N\t\\N")))
    // the nested column round-trips, and the recorded schema is the files'
    val got = cat.read(spark, "t").selectExpr("id", "tags").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toSet
    val want = df.selectExpr("id", "tags").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toSet
    assert(got == want)
    assert(cat.schemaAt(spark, "t", snap).map(f => f.name -> f.dataType.simpleString) ==
      spark.read.parquet(fs: _*).schema.map(f => f.name -> f.dataType.simpleString))
  }

  test("bloom bits equal the md5 indices of each file's non-null values") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val bits = 1024
    val snap = cat.commitWithBloom(frame(2), "b", "s", bits)
    val fs = files(cat, "b", snap)
    val h1 = "CAST(conv(substr(md5(CAST(s AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    val h2 = "(CAST(conv(substr(md5(CAST(s AS STRING)), 9, 8), 16, 10) AS BIGINT) | 1)"
    val idx = written(fs).where("s IS NOT NULL")
      .selectExpr("__file", s"explode(array(${(0 until 4).map(i => s"pmod($h1 + $i * $h2, $bits)").mkString(", ")})) AS i")
      .distinct().collect().groupBy(r => plainPath(r.getString(0))).map { case (f, rs) => f -> rs.map(_.getLong(1).toInt) }
    val ref = fs.map { f =>
      val b = new Array[Byte](bits / 8)
      idx.getOrElse(f, Array.empty[Int]).foreach(i => b(i >> 3) = (b(i >> 3) | (1 << (i & 7))).toByte)
      s"$f\t$bits\t${java.util.Base64.getEncoder.encodeToString(b)}"
    }.toSet
    assert(sidecar(root, "b", s"m$snap.bloom.s.tsv") == ref)
  }

  test("HLL registers and DD bucket counts equal the sketches of the written files") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val regs = (snap: Long) => {
      val b = Files.readAllBytes(Paths.get(root, "h", "_manifests", s"v$snap.hll.s.bin"))
      val out = new Array[Long](b.length / 8)
      java.nio.ByteBuffer.wrap(b).asLongBuffer().get(out)
      out.toSeq
    }
    val s1 = cat.appendWithHll(frame(3), "h", "s")
    val f1 = files(cat, "h", s1)
    assert(regs(s1) == graft.operators.Sketch.hllRegistersOf(spark.read.parquet(f1: _*), "s").toSeq)
    val s2 = cat.appendWithHll(frame(4), "h", "s")
    assert(regs(s2) == graft.operators.Sketch.hllRegistersOf(
      spark.read.parquet(f1 ++ files(cat, "h", s2): _*), "s").toSeq)

    val d1 = cat.appendWithDd(frame(5), "dd", "n")
    val d2 = cat.appendWithDd(frame(6), "dd", "n")
    val rep = "shiftleft(shiftright(n, greatest(length(bin(n)) - 4, 0)), greatest(length(bin(n)) - 4, 0))"
    val ref = spark.read.parquet(files(cat, "dd", d1) ++ files(cat, "dd", d2): _*)
      .where("n IS NOT NULL").selectExpr(s"$rep AS rep").groupBy("rep").count()
      .collect().map(r => s"${r.getLong(0)}\t${r.getLong(1)}").toSet
    assert(sidecar(root, "dd", s"v$d2.dd.n.tsv") == ref)
  }

  test("every partition transform: range and exact clustering record the transform's bounds") {
    val specs = Seq(IdentityTransform("s"), BucketTransform(4, "s"), TruncateTransform(2, "s"),
      DaysTransform("ts"))
    specs.foreach { spec =>
      val root = tmp()
      val cat = new ParquetSnapshotCatalog(root)
      val df = frame(7)
      val named = Seq((spec.statName, spec.sparkExprSql), ("id", "`id`"))
      val r = cat.commitPartitioned(df, "r", spec, Seq("id"), nFiles = 3)
      assert(sidecar(root, "r", s"m$r.stats.tsv") == statsRef(files(cat, "r", r), named), spec.render)
      val x = cat.commitPartitionedExact(df, "x", spec, Seq("id"), nTasks = 3)
      val fx = files(cat, "x", x)
      assert(sidecar(root, "x", s"m$x.stats.tsv") == statsRef(fx, named), spec.render)
      assert(cat.partitionValuesAt("x", x).isDefined, s"${spec.render}: a file holds two values")
      // as the dynamic-partition parquet write: one file per (task, value)
      assert(fx.size == exactRefCount(df, spec), spec.render)
      assert(cat.read(spark, "x").count() == df.count())
    }
  }

  private def exactRefCount(df: DataFrame, spec: PartTransform): Int = {
    val d = tmp() + "/exact"
    df.withColumn("__p", expr(spec.sparkExprSql)).repartition(3, col("__p"))
      .write.partitionBy("__p").parquet(d)
    Files.walk(Paths.get(d)).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
  }

  test("DSv2 appends: an empty task keeps its file, a rolled task splits, stats stay per file") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val df = frame(8)
    cat.commit(df.where("false"), "w")
    def append(d: DataFrame): Long = {
      d.write.format("graft-catalog").option("root", root).option("table", "w").mode("append").save()
      cat.currentSnapshot("w").get
    }
    val a = append(df)
    val fa = files(cat, "w", a)
    assert(fa.size == Parts) // the DSv2 rule: every task commits one file
    assert(sidecar(root, "w", s"m$a.stats.tsv") == statsRef(fa, Nil))
    cat.putMeta("w", "prop.write.sort-order", "id")
    cat.putMeta("w", "prop.write.target-file-size", "1500")
    val b = append(frame(9, rowsPerTask = 400))
    val fb = files(cat, "w", b)
    assert(fb.size > spark.conf.get("spark.sql.shuffle.partitions").toInt, s"no file rolled: ${fb.size}")
    assert(sidecar(root, "w", s"m$b.stats.tsv") == statsRef(fb, Seq(("id", "`id`"))))
    assert(cat.read(spark, "w").count() == df.count() + 5 * 400)
  }

  test("every sidecar, the schema and the declared spec land before the pointer moves") {
    val root = tmp()
    val cat = new WatchedCatalog(root)
    def at(table: String, snap: Long, pointer: String = "CURRENT"): Set[String] =
      cat.seen.collectFirst { case (t, p, s, names) if t == table && p == pointer && s == snap => names }
        .getOrElse(fail(s"no $pointer swap of $table to $snap"))
    val s1 = cat.commitWithStats(frame(10), "t", Seq("id"))
    assert(Set(s"m$s1.json", s"m$s1.stats.tsv", s"m$s1.schema", s"v$s1.json").subsetOf(at("t", s1)))
    val s2 = cat.commitWithBloom(frame(11), "t", "s", 512)
    assert(Set(s"m$s2.bloom.s.tsv", s"m$s2.schema").subsetOf(at("t", s2)))
    val s3 = cat.appendWithHll(frame(12), "h", "s")
    assert(Set(s"v$s3.hll.s.bin", s"m$s3.schema").subsetOf(at("h", s3)))
    val s4 = cat.appendWithDd(frame(13), "dd", "n")
    assert(Set(s"v$s4.dd.n.tsv").subsetOf(at("dd", s4)))
    val s5 = cat.commitPartitioned(frame(14), "p", IdentityTransform("s"), nFiles = 2)
    assert(Set(s"m$s5.stats.tsv", s"m$s5.schema", "meta.partition.spec").subsetOf(at("p", s5)))
    cat.createBranch("t", "audit")
    val s6 = cat.appendToBranch(frame(15), "t", "audit")
    assert(Set(s"m$s6.json", s"m$s6.schema", s"v$s6.json").subsetOf(at("t", s6, "meta.branch.audit")))
    assert(cat.currentSnapshot("t").contains(s2))
  }
}

object CatalogWriterSpec {
  /** Records, at every CURRENT or branch-head swap, the table, the pointer,
    * the snapshot it points at and the manifest directory's file names at
    * that moment. */
  final class WatchedCatalog(root: String) extends ParquetSnapshotCatalog(root) {
    @volatile var seen = Vector.empty[(String, String, Long, Set[String])]
    override protected def atomicSwap(tmp: Path, dest: Path): Unit = {
      if (dest.getName == "CURRENT" || dest.getName.startsWith("meta.branch.")) {
        val local = Paths.get(tmp.toUri.getPath)
        val snap = new String(Files.readAllBytes(local), "UTF-8").linesIterator.next().trim.toLong
        val names = Files.list(local.getParent).iterator().asScala.map(_.getFileName.toString).toSet
        seen :+= ((local.getParent.getParent.getFileName.toString, dest.getName, snap, names))
      }
      super.atomicSwap(tmp, dest)
    }
  }
}
