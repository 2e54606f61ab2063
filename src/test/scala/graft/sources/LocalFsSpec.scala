package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Graft's `file:` file system: installed by [[SessionHadoopConf]] where the
  * session names none of its own, and indistinguishable on disk from
  * Hadoop's own local file system — mode bits, `.crc` sidecars — though it
  * sets permissions without a `chmod` child process.
  */
class LocalFsSpec extends AnyFunSuite with SparkSuite {

  private def fsOf(conf: Configuration): FileSystem = new Path("file:///").getFileSystem(conf)

  test("SessionHadoopConf resolves file: to graft's file system unless the conf names one") {
    val conf = SessionHadoopConf(spark)
    val fs = fsOf(conf)
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    assert(!(fs eq FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)),
      "the cached Spark instance came back")
    assert(FileSystem.getLocal(conf).isInstanceOf[GraftLocalFileSystem])

    val named = SessionHadoopConf(spark, Map("fs.file.impl" -> classOf[RawLocalFileSystem].getName))
    assert(named.get("fs.file.impl") == classOf[RawLocalFileSystem].getName)
    assert(named.get("fs.file.impl.disable.cache") == null)
    assert(SessionHadoopConf.withLocalFs(new Configuration()).get("fs.file.impl") ==
      classOf[GraftLocalFileSystem].getName)
  }

  test("files, nested directories and .crc sidecars get Hadoop's mode bits") {
    val conf = SessionHadoopConf(spark)
    conf.set("fs.permissions.umask-mode", "027")
    val plain = new LocalFileSystem(new RawLocalFileSystem)
    plain.initialize(new java.net.URI("file:///"), conf)
    val graft = fsOf(conf)
    val root = Files.createTempDirectory("localfs")

    /** (relative path, mode string) of every entry under `dir`. */
    def modes(dir: java.nio.file.Path): Seq[(String, String)] =
      scala.util.Using.resource(Files.walk(dir)) { s =>
        s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).filter(_ != dir).map(p =>
          (dir.relativize(p).toString, PosixFilePermissions.toString(Files.getPosixFilePermissions(p))))
      }.sorted

    def exercise(fs: FileSystem, side: String): Seq[(String, String)] = {
      val dir = root.resolve(side)
      def p(rel: String) = new Path(dir.resolve(rel).toUri)
      assert(fs.mkdirs(p("a/b/c")))
      assert(fs.mkdirs(p("d/e"), new FsPermission(Integer.parseInt("751", 8).toShort)))
      fs.create(p("a/b/c/default.bin")).close()
      val out = fs.create(p("a/written.bin"), new FsPermission(Integer.parseInt("640", 8).toShort),
        true, 4096, 1.toShort, 1L << 26, null)
      out.write(Array.fill[Byte](300000)(7))
      out.close()
      fs.create(p("d/e/set.bin")).close()
      fs.setPermission(p("d/e/set.bin"), new FsPermission(Integer.parseInt("604", 8).toShort))
      // a mode above 0777 (sticky) takes Hadoop's own way
      fs.setPermission(p("d"), new FsPermission(Integer.parseInt("1775", 8).toShort))
      modes(dir)
    }

    val want = exercise(plain, "plain")
    val got = exercise(graft, "graft")
    assert(got === want)
    assert(got.map(_._1).count(_.endsWith(".crc")) === 3, s"one .crc sidecar per file: $got")
    assert(got.toMap.apply("a/written.bin") === "rw-r-----")
    assert(got.toMap.apply("d/e") === "rwxr-x---")
    assert(Files.getAttribute(Paths.get(root.toString, "graft", "d"), "unix:mode").asInstanceOf[Int] ===
      Integer.parseInt("41775", 8))
  }
}
