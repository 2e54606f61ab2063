package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

/** Deletion VECTORS (the Iceberg-v3 / Delta form of positional deletes):
  * `rewrite_position_deletes` compacts accumulated (file, ordinal) TSV
  * tombstones into one roaring-bitmap blob (`x<snap>.dv`), data files
  * untouched. Thereafter planning reads the O(files) DV index and each
  * scan task range-reads only its file's bitmap — no (file, pos) pair
  * crosses the driver, the property that makes a billion-row takedown
  * plannable at 100 TB.
  */
class DeletionVectorSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftdv").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def docs(n: Int, off: Int = 0) = {
    val ss = spark; import ss.implicits._
    (0 until n).map(i => ((i + off).toLong, s"document body number ${i + off}"))
      .toDF("doc_id", "text")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("rewrite compacts TSV tombstones into one DV: read identical, p-refs gone, data files byte-identical") {
    val root = tmp(); val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(200).where("doc_id % 2 = 0"), "t")
    cat.append(docs(200).where("doc_id % 2 = 1"), "t")
    cat.deleteMatching(spark, "t", "doc_id % 7 = 3")
    cat.deleteMatching(spark, "t", "doc_id % 11 = 5")
    val preSnap = cat.currentSnapshot("t").get
    val before = ids(cat.read(spark, "t"))
    val preFiles = cat.filesWithAddOrder("t", preSnap).map(_._1).toSet
    val snap = cat.rewritePositionDeletes("t")
    assert(cat.positionalTsvPairs("t", snap).isEmpty, "p-refs must be gone")
    val idx = cat.deletionVectorIndex("t", snap)
    assert(idx.nonEmpty && idx.map(_.cardinality).sum ==
      (0 until 200).count(i => i % 7 == 3 || i % 11 == 5))
    assert(cat.filesWithAddOrder("t", snap).map(_._1).toSet == preFiles,
      "rewrite must not touch data files")
    assert(ids(cat.read(spark, "t")) == before)
    assert(before == (0 until 200).filterNot(i => i % 7 == 3 || i % 11 == 5)
      .map(_.toLong).toSet)
    // the expanded compat surface agrees with the bitmap exactly
    assert(cat.positionalDeletes("t", snap).size == idx.map(_.cardinality).sum)
  }

  test("DSv2 SQL scan applies the bitmap task-side; partitions carry DV coordinates, not pairs") {
    val root = tmp(); val cat = new ParquetSnapshotCatalog(root)
    spark.conf.set("spark.sql.catalog.gdvs", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvs.root", root)
    docs(300).createOrReplaceTempView("dv_src")
    spark.sql("CREATE TABLE gdvs.t AS SELECT * FROM dv_src")
    // a non-key predicate routes to the row-level positional path
    spark.sql("DELETE FROM gdvs.t WHERE doc_id % 5 = 2")
    spark.sql("CALL gdvs.rewrite_position_deletes('t')")
    val df = spark.sql("SELECT doc_id FROM gdvs.t")
    val got = df.collect().map(_.getLong(0)).toSet
    assert(got == (0 until 300).filterNot(_ % 5 == 2).map(_.toLong).toSet)
    assert(cat.currentSnapshot("t").isDefined)
    // planning carries COORDINATES, not pairs: every planned partition has
    // zero expanded ordinals and the tombstoned files carry a dv ref
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val parts = scan.inputPartitions.flatMap {
      case f: graft.sources.CatalogFilePartition => Seq(f)
      case g: graft.sources.CatalogFileGroupPartition => g.files
      case _ => Nil
    }
    assert(parts.nonEmpty && parts.forall(_.posDeletes.isEmpty))
    assert(parts.exists(_.dv.isDefined))
  }

  test("second round of deletes after the rewrite: mixed p+x reads correctly; the next rewrite merges into ONE vector") {
    val root = tmp(); val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(100), "t")
    cat.deleteMatching(spark, "t", "doc_id % 4 = 1")
    cat.rewritePositionDeletes("t")
    cat.deleteMatching(spark, "t", "doc_id % 4 = 2") // new TSV alongside the DV
    val mixed = cat.currentSnapshot("t").get
    assert(cat.positionalTsvPairs("t", mixed).nonEmpty &&
      cat.deletionVectorIndex("t", mixed).nonEmpty)
    val expect = (0 until 100).filterNot(i => i % 4 == 1 || i % 4 == 2).map(_.toLong).toSet
    assert(ids(cat.read(spark, "t")) == expect)
    val snap2 = cat.rewritePositionDeletes("t")
    val idx2 = cat.deletionVectorIndex("t", snap2)
    assert(cat.positionalTsvPairs("t", snap2).isEmpty)
    assert(idx2.map(_.file).distinct.size == idx2.size, "one vector per file")
    assert(ids(cat.read(spark, "t")) == expect)
  }

  test("sequence rule: rows appended AFTER the rewrite live in files the vector cannot name — all survive") {
    val root = tmp(); val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(50), "t")
    cat.deleteMatching(spark, "t", "doc_id < 10")
    cat.rewritePositionDeletes("t")
    cat.append(docs(10, 0), "t") // same doc_ids as deleted rows, new files
    assert(ids(cat.read(spark, "t")) ==
      ((10 until 50) ++ (0 until 10)).map(_.toLong).toSet)
  }

  test("time travel: the pre-rewrite snapshot reads with its TSVs, the pre-delete snapshot is complete") {
    val root = tmp(); val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(60), "t")
    val clean = cat.currentSnapshot("t").get
    cat.deleteMatching(spark, "t", "doc_id % 3 = 0")
    val tsvSnap = cat.currentSnapshot("t").get
    cat.rewritePositionDeletes("t")
    val afterDel = (0 until 60).filterNot(_ % 3 == 0).map(_.toLong).toSet
    assert(ids(cat.readSnapshot(spark, "t", clean)) == (0 until 60).map(_.toLong).toSet)
    assert(ids(cat.readSnapshot(spark, "t", tsvSnap)) == afterDel)
    assert(ids(cat.read(spark, "t")) == afterDel)
  }

  test("changelog window crossing a DV refuses like any positional delete; compaction materializes the vector") {
    val root = tmp(); val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(80), "t")
    val from = cat.currentSnapshot("t").get
    cat.deleteMatching(spark, "t", "doc_id % 8 = 1")
    cat.rewritePositionDeletes("t")
    val e = intercept[IllegalArgumentException] {
      cat.deletedInWindow(spark, "t", from).collect()
    }
    assert(e.getMessage.contains("positional"))
    val compacted = cat.compact(spark, "t")
    assert(cat.deletionVectorIndex("t", compacted).isEmpty &&
      cat.positionalTsvPairs("t", compacted).isEmpty,
      "compaction must materialize the vector away")
    assert(ids(cat.read(spark, "t")) ==
      (0 until 80).filterNot(_ % 8 == 1).map(_.toLong).toSet)
  }

  test("rewrite refuses when nothing is positional; metadata-only statsAgg refuses while a DV is pending") {
    val root = tmp(); val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(30), "t")
    intercept[IllegalArgumentException] { cat.rewritePositionDeletes("t") }
    cat.deleteMatching(spark, "t", "doc_id = 7")
    cat.rewritePositionDeletes("t")
    assert(cat.statsAgg("t", "doc_id").isEmpty,
      "metadata-only aggregate must refuse, not overcount, over a pending DV")
  }
}
