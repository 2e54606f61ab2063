package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and every spec gets its session
  * here. ANSI is off because minhash uses wrapping 64-bit arithmetic; the
  * session time zone is UTC; the SQL `CALL`/view extensions are installed.
  */
object Sessions {

  /** The session a main runs under: `local[SPARK_GRAFT_CPUS]` (default: this
    * host's processor count), or the deployment's `SPARK_GRAFT_MASTER` when
    * set, with as many shuffle partitions as `SPARK_GRAFT_CPUS`. */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    local(cpus, sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toSeq: _*)
  }

  /** `local[cpus]` with `cpus` shuffle partitions; `conf` adds or overrides
    * static settings (a spec's file-system class, another extension). */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sources.GraftSqlExtensions")
    conf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
