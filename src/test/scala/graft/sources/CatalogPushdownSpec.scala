package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.Files

import graft.spark.{BucketTransform, ParquetSnapshotCatalog}

/** Pushed filters prune FILES inside the DSv2 scan: equality consults zone
  * maps ∩ blooms ∩ the partition transform, ranges consult zone maps (and
  * order-preserving transforms), and every filter stays residual so rows
  * re-filter — proven by deleting the pruned-away files and getting the
  * same answer.
  */
class CatalogPushdownSpec extends AnyFunSuite with SparkSuite {
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
  }

  private def tmp(): String = {
    val d = Files.createTempDirectory("graftpush").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("equality pushdown prunes through the hidden partition transform — prune-proof by deletion") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val df = (0 until 400).map(i => (s"https://example.com/doc$i", i.toLong)).toDF("url", "v")
    cat.commitPartitioned(df, "t", BucketTransform(8, "url"))

    val target = "https://example.com/doc123"
    val q = spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().where(s"url = '$target'")
    // the scan advertises the pruning filter
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("prunedBy="), s"pushed filter missing from the scan:\n$plan")

    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((target, 123L)))

    // replicate the scan's math, delete everything it would prune away
    val spec = cat.partitionSpec("t").get
    val snap = cat.currentSnapshot("t").get
    val t = spec.literal(target)
    val kept = cat.pruneFilesAt("t", snap, spec.statName, t, t).toSet
    val all = cat.filesWithAddOrder("t", snap).map(_._1)
    assert(kept.size < all.size)
    all.filterNot(kept).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    val q2 = spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().where(s"url = '$target'")
    assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((target, 123L)))
  }

  test("range pushdown prunes through zone maps on a clustered column; one-sided bounds stay numeric") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions.col
    val df = (0 until 400).map(i => (s"u$i", i.toLong)).toDF("url", "v")
      .repartitionByRange(8, col("v"))
    cat.commitWithStats(df, "t", Seq("v"))

    val q = spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().where("v >= 350")
    assert(q.count() == 50)

    val snap = cat.currentSnapshot("t").get
    // the one-sided bound must use the LONG tier: "9" < "350" numerically
    // even though "9" > "350" byte-wise — a string-tier bug would prune
    // wrongly or keep everything; assert it keeps strictly fewer files
    val kept = cat.pruneFilesAtBounds("t", snap, "v", Some("350"), None).toSet
    val all = cat.filesWithAddOrder("t", snap).map(_._1)
    assert(kept.size < all.size)
    all.filterNot(kept).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    val q2 = spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().where("v >= 350")
    assert(q2.count() == 50)
    assert(q2.selectExpr("min(v)").collect().head.getLong(0) == 350L)
  }

  test("reported statistics let Catalyst broadcast a small catalog table without scanning it") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commitWithStats((0 until 10).map(i => (s"k$i", i.toLong)).toDF("k", "dim"),
      "small", Seq("dim")): Unit
    val smallDf = spark.read.format("graft-catalog")
      .option("root", root).option("table", "small").load()
    val big = (0 until 5000).map(i => (s"k${i % 10}", i.toLong)).toDF("k", "v")
    val plan = big.join(smallDf, "k")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      s"small catalog side not broadcast (stats not reported?):\n$plan")
  }

  test("conjunction intersects pruners; rows still re-filter (pruning never over-returns)") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions.col
    val df = (0 until 200).map(i => (s"u$i", i.toLong)).toDF("url", "v")
      .repartitionByRange(8, col("v"))
    cat.commitWithStats(df, "t", Seq("v"))
    val got = spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().where("v >= 50 AND v < 60").collect().map(_.getLong(1)).sorted
    assert(got.toSeq == (50L until 60L))
  }
}
