package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.SparkSuite
import graft.spark.ParquetSnapshotCatalog
import scala.jdk.CollectionConverters._

/** A local file system that records every path it opens or creates. */
class OpenRecordingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenRecordingLocalFs.opened.add(f.getName)
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    OpenRecordingLocalFs.created.add(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object OpenRecordingLocalFs {
  val opened: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val created: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** Archives and catalog data files open through the session's Hadoop
  * configuration: with `spark.hadoop.fs.file.impl` naming a recording file
  * system (and its cache off, so every `getFileSystem` builds one from the
  * configuration), the warc listing and readers, the CDX archive writer,
  * the CDX random-access fetch, the catalog scan's readers, the catalog's
  * data-file writers and its metadata I/O all go through that class.
  */
class WarcConfSpec extends AnyFunSuite with SparkSuite {
  override protected def rootConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[OpenRecordingLocalFs].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "true")

  test("every archive is opened through the session's spark.hadoop.fs.file.impl") {
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") == classOf[OpenRecordingLocalFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("warcconf")
    val names = (1 to 3).map(i => f"part-$i%05d.warc")
    names.zipWithIndex.foreach { case (n, i) =>
      val recs = (0 to i).map(j => Warc.record(s"https://c/$i/$j", 1000L + j, s"<p>$i $j</p>".getBytes("UTF-8")))
      java.nio.file.Files.write(dir.resolve(n), recs.reduce(_ ++ _))
    }
    OpenRecordingLocalFs.opened.clear()
    assert(spark.read.format("warc").load(dir.toString).count() == 6L)
    names.foreach(n => assert(OpenRecordingLocalFs.opened.contains(n), s"$n not opened through the session's file system"))
  }

  test("the CDX archive writer and the random-access fetch use the session's file system") {
    val ss = spark; import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warccdxconf").toString
    val recs = (0 until 4).map(i => Warc.WarcRec(s"https://c/$i", 1000L + i, s"<p>$i</p>".getBytes("UTF-8")))
    OpenRecordingLocalFs.created.clear()
    Warc.writeWithCdx(recs.toDS().repartition(1), dir)
    assert(OpenRecordingLocalFs.created.asScala.exists(_.endsWith("part-00000.warc.gz")) &&
      OpenRecordingLocalFs.created.asScala.exists(_.endsWith("part-00000.cdx")),
      s"archive writer bypassed the session's file system: ${OpenRecordingLocalFs.created}")
    val hit = Warc.readCdx(spark, dir).where("url = 'https://c/2'").collect().head
    OpenRecordingLocalFs.opened.clear()
    val row = Warc.readRecordAt(dir, hit.getString(5), hit.getLong(3), hit.getLong(4))
    assert(row.url == "https://c/2")
    assert(OpenRecordingLocalFs.opened.contains(hit.getString(5)))
  }

  test("the catalog scan opens every data file through the session's file system") {
    val cat = new ParquetSnapshotCatalog(
      java.nio.file.Files.createTempDirectory("catconf").toFile.getAbsolutePath)
    cat.commit(spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s").repartition(3), "t")
    cat.deleteWhere("t", "id", Seq("7"))
    val files = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).map(f => new Path(f._1).getName)
    val df = cat.scan(spark, "t")
    OpenRecordingLocalFs.opened.clear()
    assert(df.count() == 99L)
    files.foreach(f => assert(OpenRecordingLocalFs.opened.contains(f), s"$f not opened through the session's file system"))
  }

  test("a commit's metadata goes through the session's file system; schemaAt opens no data file") {
    val root = java.nio.file.Files.createTempDirectory("catmconf").toFile.getAbsolutePath
    val cat = new ParquetSnapshotCatalog(root)
    OpenRecordingLocalFs.created.clear()
    val snap = cat.commitWithStats(
      spark.range(50).selectExpr("id", "CAST(id AS STRING) AS s").repartition(2), "t", Seq("id"))
    Seq(s"m$snap.json", s"m$snap.stats.tsv", s"m$snap.schema", s"v$snap.json",
      s".CURRENT.tmp$snap", ".commit.lock").foreach(n =>
      assert(OpenRecordingLocalFs.created.contains(n), s"$n not written through the session's file system"))
    val snap2 = cat.append(spark.range(50, 60).selectExpr("id", "CAST(id AS STRING) AS s"), "t")
    OpenRecordingLocalFs.opened.clear()
    val schema = cat.schemaAt(spark, "t", snap2)
    assert(schema.fieldNames.toSeq == Seq("id", "s"))
    val footers = OpenRecordingLocalFs.opened.asScala.filter(_.endsWith(".parquet"))
    assert(footers.isEmpty, s"schemaAt opened data files: $footers")
    assert(OpenRecordingLocalFs.opened.contains(s"m$snap2.schema"))
    // a delta without a recorded schema (a table written before schemas were
    // recorded) folds its files' footers instead — the counter sees them
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "t", "_manifests", s"m$snap2.schema"))
    OpenRecordingLocalFs.opened.clear()
    assert(cat.schemaAt(spark, "t", snap2) == schema)
    assert(OpenRecordingLocalFs.opened.asScala.count(_.endsWith(".parquet")) ==
      cat.filesWithAddOrder("t", snap2).count(_._2 == snap2))
  }

  test("the catalog's DSv2 writers create every data file through the session's file system") {
    val root = java.nio.file.Files.createTempDirectory("catwconf").toFile.getAbsolutePath
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s"), "t")
    spark.conf.set("spark.sql.catalog.wconf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wconf.root", root)
    def newFiles(before: Long): Seq[String] =
      cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).collect {
        case (f, k) if k > before => new Path(f).getName
      }
    OpenRecordingLocalFs.created.clear()
    val s0 = cat.currentSnapshot("t").get
    spark.range(10, 20).selectExpr("id", "CAST(id AS STRING) AS s").repartition(2)
      .writeTo("wconf.t").append()
    val appended = newFiles(s0)
    assert(appended.nonEmpty)
    appended.foreach(f => assert(OpenRecordingLocalFs.created.contains(f), s"$f not created through the session's file system"))
    // the row-level (delta) writer: replacement rows and staged tombstones
    val s1 = cat.currentSnapshot("t").get
    OpenRecordingLocalFs.created.clear()
    spark.sql("UPDATE wconf.t SET s = 'u' WHERE id % 3 = 0")
    val updated = newFiles(s1)
    assert(updated.nonEmpty)
    updated.foreach(f => assert(OpenRecordingLocalFs.created.contains(f), s"$f not created through the session's file system"))
    assert(OpenRecordingLocalFs.created.asScala.exists(_.startsWith("del-")))
    assert(cat.read(spark, "t").where("s = 'u'").count() == 7L)
  }
}
