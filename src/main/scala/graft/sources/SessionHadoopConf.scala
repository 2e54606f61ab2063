package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop configuration: its `spark.hadoop.*` settings and a
  * reader's options applied. Sources capture it once on the driver and
  * broadcast it, so tasks open files through the session's file systems
  * instead of building a default `Configuration` (which loads the Hadoop
  * resource files and ignores the session) per file.
  */
object SessionHadoopConf {
  def apply(spark: SparkSession, options: Map[String, String] = Map.empty): Configuration =
    spark.sessionState.newHadoopConfWithOptions(options)

  def broadcast(spark: SparkSession, options: Map[String, String] = Map.empty)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(apply(spark, options)))
}
