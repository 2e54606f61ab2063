package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Seeded differential check of the `graft-catalog` scan against
  * `cat.read`: small random tables take random mixes of appends (some with
  * an added column), equality deletes on string, long and int keys,
  * positional deletes, deletion-vector rewrites and renames, and after
  * every step the two reads hold the same rows with the same multiplicity.
  */
class ScanDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().groupBy(_.toString).map { case (k, v) => k -> v.length }

  test("scan equals cat.read as multisets under random deletes and renames (seed 8)") {
    val rnd = new scala.util.Random(8)
    val deadline = System.nanoTime() + 150L * 1000000000L
    var steps = 0
    for (t <- 0 until 4 if System.nanoTime() < deadline) {
      val cat = new ParquetSnapshotCatalog(
        Files.createTempDirectory("graftdiff").toFile.getAbsolutePath)
      // current name of each logical column; `extra` appears on a later append
      var name = Map("id" -> "id", "s" -> "s", "k" -> "k", "extra" -> "extra")
      var hasExtra = false
      var next = 0L
      def batch(n: Int): DataFrame = {
        val from = next; next += n
        // duplicate keys across rows, so one delete key can hit several rows
        val cols = Seq(s"id AS ${name("id")}", s"concat('s', id % 37) AS ${name("s")}",
          s"CAST(id % 23 AS INT) AS ${name("k")}") ++
          (if (hasExtra) Seq(s"id * 2 AS ${name("extra")}") else Nil)
        spark.range(from, from + n).repartition(1 + rnd.nextInt(3)).selectExpr(cols: _*)
      }
      cat.commit(batch(200 + rnd.nextInt(300)), "t")
      for (_ <- 0 until 6 if System.nanoTime() < deadline) {
        rnd.nextInt(7) match {
          case 0 =>
            if (rnd.nextBoolean()) hasExtra = true
            cat.append(batch(50 + rnd.nextInt(200)), "t")
          case 1 => cat.deleteWhere("t", name("s"), Seq.fill(3)(s"s${rnd.nextInt(37)}"))
          case 2 => cat.deleteWhere("t", name("id"), Seq.fill(5)(rnd.nextInt(next.toInt).toString))
          case 3 => cat.deleteWhere("t", name("k"), Seq(rnd.nextInt(23).toString, "07"))
          case 4 =>
            cat.deleteMatching(spark, "t", s"${name("id")} % ${5 + rnd.nextInt(20)} = ${rnd.nextInt(5)}")
          case 5 =>
            if (cat.positionalTsvPairs("t", cat.currentSnapshot("t").get).nonEmpty)
              cat.rewritePositionDeletes("t")
          case _ =>
            val c = Seq("s", "k", "id")(rnd.nextInt(3))
            val fresh = s"${c}_r$steps"
            cat.renameColumn("t", name(c), fresh)
            name += c -> fresh
        }
        steps += 1
        val scan = cat.scan(spark, "t")
        val ref = cat.read(spark, "t")
        assert(scan.schema == ref.schema, s"table $t step $steps")
        assert(multiset(scan) == multiset(ref), s"table $t step $steps")
      }
    }
    assert(steps >= 12, s"only $steps steps ran before the deadline")
  }
}
