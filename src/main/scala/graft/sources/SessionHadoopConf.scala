package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop configuration: its `spark.hadoop.*` settings and a
  * reader's options applied. Sources capture it once on the driver and
  * broadcast it, so tasks open files through the session's file systems
  * instead of building a default `Configuration` (which loads the Hadoop
  * resource files and ignores the session) per file.
  *
  * `file:` resolves to [[GraftLocalFileSystem]]: without the native Hadoop
  * library, Hadoop's local file system runs `chmod` in a child process for
  * every file, `.crc` sidecar and directory it creates (about 3 ms each),
  * which is most of what opening a small output file costs. The class is
  * only a default: a configuration that names its own `fs.file.impl` (a
  * session's `spark.hadoop.fs.file.impl`) keeps it. The file system cache is
  * off for `file:` where the default is installed, since the cache is keyed
  * by scheme alone and would hand back Spark's own instance.
  */
object SessionHadoopConf {
  def apply(spark: SparkSession, options: Map[String, String] = Map.empty): Configuration =
    withLocalFs(spark.sessionState.newHadoopConfWithOptions(options))

  /** `conf`, with `file:` resolving to [[GraftLocalFileSystem]] unless it
    * names a file system of its own. */
  def withLocalFs(conf: Configuration): Configuration = {
    if (conf.get("fs.file.impl") == null) {
      conf.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
    }
    conf
  }

  def broadcast(spark: SparkSession, options: Map[String, String] = Map.empty)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(apply(spark, options)))
}

/** Hadoop's checksummed local file system (`.crc` sidecars as ever) over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `RawLocalFileSystem` that sets the nine permission bits in-process
  * (`java.nio`'s chmod) instead of through a `chmod` child process. Modes
  * with bits above `0777` (sticky) and file stores without a POSIX view go
  * the Hadoop way. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    if ((mode & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs owner rwx, group rwx, others rwx: bit 8 down to bit 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(b)
      }
      view.setPermissions(perms)
    }
  }
}
