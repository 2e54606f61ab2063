package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

import graft.spark.{DaysTransform, ParquetSnapshotCatalog}

/** SQL `PARTITIONED BY (days(ts))` — the time-range transform from pure
  * DDL: days is order-preserving over the raw timestamp, so the standard
  * raw-column write clustering groups each day contiguously and the
  * value-rolling writer pins one calendar day per file, rendered in the
  * WRITE SESSION's time zone (the same zone the stats pass and the read
  * path's literal replay use).
  */
class SqlDaysSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftdays").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gd.root", root)
  }

  test("CREATE PARTITIONED BY (days(ts)) + INSERT pins one calendar day per file") {
    spark.sql("CREATE TABLE gd.e (ts TIMESTAMP, n BIGINT) PARTITIONED BY (days(ts))")
    assert(cat.partitionSpec("e").contains(DaysTransform("ts")))
    spark.sql(
      """INSERT INTO gd.e SELECT timestamp'2026-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id*3600),
        |       id FROM range(0, 72)""".stripMargin)
    val vals = cat.partitionValuesAt("e", cat.currentSnapshot("e").get)
    assert(vals.isDefined, "every file must be pinned to one day")
    assert(vals.get.map(_._2.get).toSet == Set("2026-03-01", "2026-03-02", "2026-03-03"))
  }

  test("a day-ranged SQL scan prunes files through the transform (opened-files proof)") {
    val snap = cat.currentSnapshot("e").get
    val total = cat.filesWithAddOrder("e", snap).size
    val cand = cat.pruneFilesAt("e", snap, DaysTransform("ts").statName,
      "2026-03-02", "2026-03-02").size
    assert(cand < total, s"day pruning must engage: $cand of $total")
    val before = CatalogPartitionReader.opened.get()
    // inclusive bounds inside one day — a strict `< next-day-00:00` keeps
    // the next day's file, correctly conservative at day granularity
    val n = spark.sql(
      """SELECT count(*) FROM gd.e
        |WHERE ts BETWEEN timestamp'2026-03-02 00:00:00' AND timestamp'2026-03-02 23:59:59'"""
        .stripMargin).collect()(0).getLong(0)
    val opened = CatalogPartitionReader.opened.get() - before
    assert(n == 24 && opened <= cand, s"opened $opened, candidates $cand of $total")
  }

  test("a day-ranged catalog scan over the SQL-written layout answers the window") {
    val rows = cat.scan(spark, "e")
      .where("ts BETWEEN '2026-03-01 00:00:00' AND '2026-03-01 23:59:59'").collect()
    assert(rows.length == 24)
  }

  test("the pin follows the session time zone: a +14 zone shifts the day boundary") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati") // UTC+14
    s2.conf.set("spark.sql.catalog.gd2", classOf[GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.gd2.root", root)
    s2.sql("CREATE TABLE gd2.z (ts TIMESTAMP, n BIGINT) PARTITIONED BY (days(ts))")
    // 2026-03-01 23:00 UTC+14 == 09:00 UTC the same day; 11:00 UTC+14 next day == 21:00 UTC prior
    s2.sql("INSERT INTO gd2.z VALUES (timestamp'2026-03-01 23:00:00', 1), " +
      "(timestamp'2026-03-02 11:00:00', 2)")
    val vals = cat.partitionValuesAt("z", cat.currentSnapshot("z").get)
    assert(vals.get.map(_._2.get).toSet == Set("2026-03-01", "2026-03-02"),
      s"pins must render in the session zone: ${vals.get}")
    // and the same-session read prunes consistently — the pushed literal
    // renders in the session zone too: 11:00 UTC+14 is the prior day in UTC
    Seq("2026-03-01 23:00:00", "2026-03-02 11:00:00").foreach { ts =>
      val n = s2.sql(s"SELECT count(*) FROM gd2.z WHERE ts = timestamp'$ts'")
        .collect()(0).getLong(0)
      assert(n == 1, s"ts = $ts")
    }
  }
}
