package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.sources.CatalogPartitionReader
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Hidden partitioning: Iceberg-style partition transforms (bucket / days /
  * truncate / identity) declared once at write time, pruned through at read
  * time on the RAW column — the schema never grows a partition column, and
  * the prune-proof tests delete the non-pruned files to show the lookup
  * genuinely never opens them.
  */
class PartitioningSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftpart").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** `url = value` through the DSv2 scan, asserting the read opened no
    * more data files than the partition transform's keep-set for `value`
    * at the current snapshot. */
  private def urlEq(cat: ParquetSnapshotCatalog, table: String, value: String): Array[Row] = {
    val spec = cat.partitionSpec(table).get
    val t = spec.literal(value)
    val keep = cat.pruneFilesAt(table, cat.currentSnapshot(table).get, spec.statName, t, t)
    val before = CatalogPartitionReader.opened.get()
    val rows = cat.scan(spark, table).where(col("url") === value).collect()
    val opened = CatalogPartitionReader.opened.get() - before
    assert(opened <= keep.size, s"url = $value opened $opened files, keep-set ${keep.size}")
    rows
  }

  test("transform algebra: render/parse round-trips; bucket literal matches the Spark expression") {
    val specs = Seq(BucketTransform(8, "url"), DaysTransform("warc_ts"),
      TruncateTransform(3, "url"), IdentityTransform("lang"))
    specs.foreach(s => assert(PartTransform.parse(s.render) == s))

    // driver-side literal() IS the Spark-side expression
    val b = BucketTransform(8, "url")
    val vals = Seq("https://example.com/a", "https://example.com/b", "x", "")
    val viaSpark = spark.sql(
      vals.map(v => s"SELECT ${b.sparkExprSql.replace("`url`", s"'$v'")} AS t").mkString(" UNION ALL "))
      .collect().map(_.getString(0)).toSet
    assert(vals.map(b.literal).toSet == viaSpark)

    assert(DaysTransform("ts").literal("2024-03-01T12:34:56") == "2024-03-01")
    assert(DaysTransform("ts").literal("2024-03-01 12:34:56") == "2024-03-01")
    assert(TruncateTransform(3, "u").literal("abcdef") == "abc")
  }

  test("bucket(16): digit-width-crossing bounds never mis-prune — every row retrievable") {
    // regression: unpadded bucket ids order "2" AFTER "15" byte-wise, so a
    // file spanning the width boundary recorded lexicographic min/max that
    // the numeric prune tier read as an INVERTED (empty) range and point
    // lookups silently lost the file's rows; zero-padded ids make the
    // string min/max numeric. nFiles=3 forces files to span many buckets.
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val urls = (0 until 300).map(i => s"https://example.com/doc$i")
    val df = urls.zipWithIndex.map { case (u, i) => (u, i.toLong) }.toDF("url", "v")
    cat.commitPartitioned(df, "t16", BucketTransform(16, "url"), nFiles = 3)
    val missing = urls.filter(u => urlEq(cat, "t16", u).length != 1)
    assert(missing.isEmpty, s"mis-pruned lookups: ${missing.take(5)} (${missing.size} total)")
    // padded literal matches the padded Spark expression bit-for-bit
    val b = BucketTransform(16, "url")
    val viaSpark = spark.sql(
      urls.take(40).map(v => s"SELECT ${b.sparkExprSql.replace("`url`", s"'$v'")} AS t").mkString(" UNION ALL "))
      .collect().map(_.getString(0)).toSeq
    assert(urls.take(40).map(b.literal) == viaSpark)
    assert(viaSpark.forall(_.length == 2), "bucket(16) ids must be width-2")
  }

  test("bucket(8, url): point lookup opens ~1/8 of the files — prune-proof by deleting the rest") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val df = (0 until 400).map(i => (s"https://example.com/doc$i", i.toLong)).toDF("url", "v")
    cat.commitPartitioned(df, "t", BucketTransform(8, "url"))
    assert(cat.partitionSpec("t").contains(BucketTransform(8, "url")))
    // hidden: the stored schema is exactly the input's
    assert(cat.read(spark, "t").schema.fieldNames.toSeq == Seq("url", "v"))

    val target = "https://example.com/doc123"
    val spec = cat.partitionSpec("t").get
    val tv = spec.literal(target)
    val all = cat.snapshots("t").lastOption.map(s => cat.filesWithAddOrder("t", s).map(_._1)).get
    val kept = cat.pruneFiles("t", spec.statName, tv, tv)
    assert(kept.size < all.size, s"pruning kept ${kept.size} of ${all.size}")

    val hit = urlEq(cat, "t", target)
    assert(hit.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((target, 123L)))

    // prune PROOF: physically delete every non-kept file; the lookup still
    // answers bit-exactly, so it never needed them
    all.filterNot(kept.toSet).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    val hit2 = urlEq(cat, "t", target)
    assert(hit2.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((target, 123L)))
  }

  test("appendPartitioned carries the sidecar forward: lookups stay exact and pruned across drops") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val drop1 = (0 until 200).map(i => (s"https://example.com/doc$i", i.toLong)).toDF("url", "v")
    val drop2 = (200 until 400).map(i => (s"https://example.com/doc$i", i.toLong)).toDF("url", "v")
    cat.commitPartitioned(drop1, "t", BucketTransform(8, "url"))
    cat.appendPartitioned(drop2, "t")

    // one url from each drop
    Seq(("https://example.com/doc42", 42L), ("https://example.com/doc357", 357L)).foreach {
      case (u, v) =>
        val got = urlEq(cat, "t", u)
        assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((u, v)))
    }
    // pruning still engages after the append (sidecar complete for both drops)
    val spec = cat.partitionSpec("t").get
    val tv = spec.literal("https://example.com/doc357")
    val snap = cat.currentSnapshot("t").get
    val all = cat.filesWithAddOrder("t", snap).map(_._1)
    assert(cat.pruneFiles("t", spec.statName, tv, tv).size < all.size)
    // the merged sidecar is COMPLETE (every file has transform stats +
    // __count), so the metadata-only aggregation answers over it
    val (mn, mx, n) = cat.statsAgg("t", spec.statName).get
    assert(n == 400L && mn.get.toLong >= 0L && mx.get.toLong <= 7L)
    // a column that was never a stats column refuses, never guesses
    assert(cat.statsAgg("t", "v").isEmpty)
  }

  test("sidecars are O(delta): the 10th drop writes stats for ITS files only, never a table copy") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commitPartitioned((0 until 40).map(i => (s"https://example.com/doc$i", i.toLong))
      .toDF("url", "v"), "t", BucketTransform(4, "url"))
    (1 until 10).foreach { d =>
      cat.appendPartitioned((d * 40 until (d + 1) * 40)
        .map(i => (s"https://example.com/doc$i", i.toLong)).toDF("url", "v"), "t")
    }
    val snaps = cat.snapshots("t")
    assert(snaps.size == 10)
    // per-snapshot sidecars are delta-keyed m<K>.stats.tsv; the LAST one
    // covers only the last delta's files — the old carry-forward copy grew
    // linearly per append (O(drops²) cumulative, the quadratic-metadata
    // shape the manifest-list fix killed)
    val dir = java.nio.file.Paths.get(root, "t", "_manifests")
    val lastLines = new String(java.nio.file.Files.readAllBytes(
      dir.resolve(s"m${snaps.last}.stats.tsv"))).split('\n').count(_.nonEmpty)
    val lastDelta = cat.filesWithAddOrder("t", snaps.last).count(_._2 == snaps.last)
    assert(lastLines == lastDelta * 2, // transform stat + __count per file
      s"last sidecar has $lastLines lines for $lastDelta delta files")
    assert(!java.nio.file.Files.exists(dir.resolve(s"v${snaps.last}.stats.tsv")))
    // the merged chain still answers exactly across all 10 drops
    Seq(7L, 142L, 375L).foreach { v =>
      val got = urlEq(cat, "t", s"https://example.com/doc$v")
      assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq((s"https://example.com/doc$v", v)))
    }
    val (_, _, n) = cat.statsAgg("t", cat.partitionSpec("t").get.statName).get
    assert(n == 400L)
    // expiry GCs the dead deltas' sidecars, keeps the live chain
    cat.compact(spark, "t")
    cat.expireSnapshots("t", keepLast = 1)
    val left = scala.util.Using.resource(java.nio.file.Files.list(dir)) {
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".stats.tsv")).toSeq
    }
    assert(left.isEmpty, s"expired delta sidecars leaked: $left")
  }

  test("days(warc_ts): a one-day range scan opens only that day's files — prune-proof") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val days = (1 to 8)
    val df = spark.sql(days.map(d =>
      s"SELECT timestamp'2024-03-0$d 10:00:00' + make_interval(0,0,0,0,0,0,id) AS warc_ts, " +
      s"CAST(id + ${d * 100} AS BIGINT) AS v FROM range(20)").mkString(" UNION ALL "))
    cat.commitPartitioned(df, "t", DaysTransform("warc_ts"), nFiles = 8)

    val day = "warc_ts BETWEEN '2024-03-03T00:00:00' AND '2024-03-03T23:59:59'"
    val got = cat.scan(spark, "t").where(day)
    assert(got.count() == 20)
    assert(got.selectExpr("min(v)", "max(v)").collect().head.toSeq == Seq(300L, 319L))

    val spec = cat.partitionSpec("t").get
    val snap = cat.currentSnapshot("t").get
    val all = cat.filesWithAddOrder("t", snap).map(_._1)
    val kept = cat.pruneFiles("t", spec.statName, "2024-03-03", "2024-03-03")
    assert(kept.size < all.size)
    all.filterNot(kept.toSet).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    val before = CatalogPartitionReader.opened.get()
    assert(cat.scan(spark, "t").where(day).count() == 20)
    assert(CatalogPartitionReader.opened.get() - before <= kept.size)
  }

  test("bucket range scan keeps every file; equality through a takedown applies the tombstones") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val urls = (0 until 50).map(i => s"u$i")
    cat.commitPartitioned(urls.zipWithIndex.map { case (u, i) => (u, i.toLong) }.toDF("url", "v"),
      "t", BucketTransform(4, "url"))
    // hashing destroys order: a range on the bucketed column cannot prune
    // through the transform, so no file is dropped and every in-range row
    // comes back
    val inRange = cat.scan(spark, "t").where("url BETWEEN 'u1' AND 'u2'")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(inRange == urls.filter(u => u >= "u1" && u <= "u2").sorted)

    cat.deleteWhere("t", "url", Seq("u7"))
    assert(urlEq(cat, "t", "u7").isEmpty)
    assert(urlEq(cat, "t", "u8").length == 1)
  }
}
