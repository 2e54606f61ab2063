package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** AQE runtime skew handling — the other half of the engine's skew story:
  * the extraction path salts proactively (ExtractJob's size-class salting),
  * and JOINS rely on AQE's OptimizeSkewedJoin splitting oversized shuffle
  * partitions at runtime. This spec proves the mechanism actually engages
  * on a planted hot key (the final adaptive plan marks the sort-merge join
  * skew=true) and that the split changes no results — the evidence that a
  * 100 TB join with a celebrity key re-plans instead of stalling one task.
  */
class AqeSkewSpec extends AnyFunSuite with SparkSuite {
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // thresholds scaled to test data: a partition is skewed when > 64 KB
    // and > 2x the median; split targets ~32 KB
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }

  test("planted hot key: AQE splits the skewed partition (skew=true) with identical results") {
    val ss = spark
    import ss.implicits._
    val pad = "x" * 100
    // left: 20k rows on ONE hot key (~2 MB in one shuffle partition) + a
    // uniform tail; right: 200 rows per key — too big to broadcast (forced
    // off), small enough to replicate per split
    val left = spark.range(0, 22000).select(
      when($"id" < 20000, lit("hot")).otherwise(concat(lit("k"), $"id" % 20)).as("key"),
      concat(lit(pad), $"id").as("payload"))
    val right = spark.range(0, 210).select(
      when($"id" < 10, lit("hot")).otherwise(concat(lit("k"), $"id" % 20)).as("key"),
      ($"id" * 7).as("rv"))
    val joined = left.join(right, "key")
    // execute THIS QueryExecution (count() would plan its own) so the
    // adaptive plan below is the finalized one
    val n = joined.collect().length.toLong
    // exactness first: 20000 hot x 10 + 2000 tail x 10 per-key matches
    val tailMatches = left.where($"key" =!= "hot").groupBy("key").count()
      .join(right.where($"key" =!= "hot").groupBy("key").count()
        .withColumnRenamed("count", "rc"), "key")
      .selectExpr("sum(count * rc)").head().getLong(0)
    assert(n == 20000L * 10 + tailMatches, s"join rows wrong: $n")
    // the final adaptive plan must have engaged the skew-join rewrite
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), s"AQE did not finalize:\n$finalPlan")
    assert(finalPlan.contains("skew=true"), s"skew join did not engage:\n$finalPlan")
  }
}
