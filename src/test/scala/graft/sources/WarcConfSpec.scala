package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A local file system that records every path it opens. */
class OpenRecordingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenRecordingLocalFs.opened.add(f.getName)
    super.open(f, bufferSize)
  }
}

object OpenRecordingLocalFs {
  val opened: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** The warc source opens archives through the session's Hadoop
  * configuration: with `spark.hadoop.fs.file.impl` naming a recording file
  * system (and its cache off, so every `getFileSystem` builds one from the
  * configuration), the listing and every reader go through that class.
  */
class WarcConfSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[OpenRecordingLocalFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

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
}
