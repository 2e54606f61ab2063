package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Bin-packed scan partitions (Spark's `FilePartition` coalescing for the
  * connector): a between-compactions small-file table reads with FEWER
  * tasks than files, one `maxPartitionBytes` bin at a time, with every file
  * still opened exactly once and per-file delete state / `_pos` ordinals
  * intact.
  */
class BinPackSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftbp").toFile.getAbsolutePath
    super.beforeAll()
    val ss = spark; import ss.implicits._
    // 16 tiny files
    cat.commit((0 until 1600).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(16), "t")
  }

  private def read(t: String): DataFrame =
    spark.read.format("graft-catalog").option("root", root).option("table", t).load()

  private def scanParts() = new CatalogScan(read("t").schema, read("t").schema,
    root, "t", Int.MaxValue, 0L).planInputPartitions()

  test("16 tiny files coalesce into fewer partitions; every file read exactly once (columnar)") {
    val parts = scanParts()
    assert(parts.length < 16, s"expected coalesced partitions, got ${parts.length}")
    val files = parts.flatMap {
      case g: CatalogFileGroupPartition => g.files.map(_.file)
      case f: CatalogFilePartition => Seq(f.file)
    }
    assert(files.length == 16 && files.distinct.length == 16)
    val before = CatalogPartitionReader.opened.get()
    val df = read("t")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "packed clean scan should still vectorize")
    assert(CatalogPartitionReader.opened.get() - before == 16L)
    assert(df.count() == 1600)
  }

  test("per-file delete state and _pos ordinals survive packing (row chain)") {
    cat.deleteWhere("t", "id", Seq("7", "1599"))
    val ids = read("t").collect().map(_.getLong(0)).toSet
    assert(ids == (0 until 1600).map(_.toLong).toSet - 7L - 1599L)
    // _pos is per-FILE even inside a packed group
    val byFile = read("t").selectExpr("_file", "_pos").collect()
      .groupBy(_.getString(0)).values
    byFile.foreach { rows =>
      val ps = rows.map(_.getLong(1)).sorted
      assert(ps.head >= 0 && ps.distinct.length == ps.length)
    }
  }

  test("a tiny maxPartitionBytes disables coalescing (conf respected)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "1")
    s2.conf.set("spark.sql.files.openCostInBytes", "1")
    val parts = // plan under s2's conf
      org.apache.spark.sql.SparkSession.setActiveSession(s2) match {
        case _ => scanParts()
      }
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(parts.length == 16, s"expected one partition per file, got ${parts.length}")
  }
}
