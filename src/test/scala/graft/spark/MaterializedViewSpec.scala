package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Incremental materialized-view maintenance: bit-equality with full
  * recomputation across append/delete/upsert windows, the O(delta) read
  * proof (pre-window data files physically deleted before an append-only
  * refresh), zero-count group disappearance, NULL group keys, rebuild
  * fallbacks (compaction-crossing window; lost watermark), and spec
  * pinning.
  */
class MaterializedViewSpec extends AnyFunSuite with SparkSuite {
  private var dir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = Files.createTempDirectory("graft_mv_spec").toString
  }

  private var n = 0
  private def freshCat(): (ParquetSnapshotCatalog, String) = {
    n += 1
    (new ParquetSnapshotCatalog(s"$dir/c$n"), s"$dir/c$n")
  }

  /** rows: (id, grp, v) */
  private def df(rows: Seq[(Long, String, Long)]): DataFrame =
    spark.createDataFrame(rows).toDF("id", "grp", "v")

  private def state(cat: ParquetSnapshotCatalog, view: String): Set[(String, Long, Long)] =
    cat.read(spark, view).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** The recompute the incremental path must match. */
  private def expected(cat: ParquetSnapshotCatalog, source: String): Set[(String, Long, Long)] =
    cat.read(spark, source).groupBy("grp")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("mv_count"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum("v"),
          org.apache.spark.sql.functions.lit(0L)).as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("append + delete + post-delete re-add windows all refresh to the recomputed truth") {
    val (cat, _) = freshCat()
    cat.commit(df(Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 7L))), "src")
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"), Seq("v"))
    assert(state(cat, "mv") == Set(("a", 2L, 15L), ("b", 1L, 7L)))

    // window 1: pure append, new + existing groups
    cat.append(df(Seq((4L, "b", 3L), (5L, "c", 100L))), "src")
    val r1 = MaterializedView.refresh(spark, cat, "mv")
    assert(r1.mode == "incremental")
    assert(state(cat, "mv") == expected(cat, "src"))

    // window 2: equality delete of one id + an append in the SAME window
    cat.deleteWhere("src", "id", Seq("2"))
    cat.append(df(Seq((6L, "a", 2L))), "src")
    val r2 = MaterializedView.refresh(spark, cat, "mv")
    assert(r2.mode == "incremental")
    assert(state(cat, "mv") == expected(cat, "src"))
    assert(state(cat, "mv") == Set(("a", 2L, 12L), ("b", 2L, 10L), ("c", 1L, 100L)))

    // window 3: delete a key then RE-ADD the same key after the tombstone
    // (sequence rule: the re-add survives; the changelog nets it correctly)
    cat.deleteWhere("src", "id", Seq("5"))
    cat.append(df(Seq((5L, "c", 41L))), "src")
    val r3 = MaterializedView.refresh(spark, cat, "mv")
    assert(r3.mode == "incremental")
    assert(state(cat, "mv") == expected(cat, "src"))
    assert(state(cat, "mv").contains(("c", 1L, 41L)))
  }

  test("a group whose rows are all deleted disappears from the view") {
    val (cat, _) = freshCat()
    cat.commit(df(Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "b", 3L))), "src")
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"), Seq("v"))
    cat.deleteWhere("src", "grp", Seq("b"))
    val r = MaterializedView.refresh(spark, cat, "mv")
    assert(r.mode == "incremental")
    assert(state(cat, "mv") == Set(("a", 1L, 1L)))
  }

  test("NULL group keys are a real group and maintain correctly") {
    val (cat, _) = freshCat()
    val rows = spark.createDataFrame(
      Seq[(Long, Option[String], Long)]((1L, None, 4L), (2L, Some("a"), 1L)))
      .toDF("id", "grp", "v")
    cat.commit(rows, "src")
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"), Seq("v"))
    val more = spark.createDataFrame(
      Seq[(Long, Option[String], Long)]((3L, None, 6L))).toDF("id", "grp", "v")
    cat.append(more, "src")
    val r = MaterializedView.refresh(spark, cat, "mv")
    assert(r.mode == "incremental")
    val got = cat.read(spark, "mv").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((None, 2L, 10L), (Some("a"), 1L, 1L)))
  }

  test("append-only refresh reads ZERO pre-window data files (proof by deletion)") {
    val (cat, root) = freshCat()
    cat.commit(df((0L until 40L).map(i => (i, s"g${i % 4}", i))), "src")
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"), Seq("v"))
    // physically remove every data file committed before the window —
    // an O(table) scan would now fail loudly
    val dataDir = Paths.get(s"$root/src/data")
    Files.walk(dataDir).filter(_.toString.endsWith(".parquet"))
      .forEach(p => Files.delete(p))
    cat.append(df(Seq((100L, "g0", 1000L), (101L, "g9", 9L))), "src")
    val r = MaterializedView.refresh(spark, cat, "mv")
    assert(r.mode == "incremental")
    val got = state(cat, "mv")
    // old groups keep their maintained aggregates (from the VIEW's state,
    // not the vanished source files); the delta folds in on top
    assert(got.contains(("g9", 1L, 9L)))
    assert(got.contains(("g0", 11L, 0L + 4 + 8 + 12 + 16 + 20 + 24 + 28 + 32 + 36 + 1000)))
  }

  test("noop when already current; compaction-crossing window rebuilds; lost watermark rebuilds") {
    val (cat, _) = freshCat()
    cat.commit(df(Seq((1L, "a", 1L))), "src")
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"), Seq("v"))
    assert(MaterializedView.refresh(spark, cat, "mv").mode == "noop")

    // compaction rewrites the entry list → incremental window refused → rebuild
    cat.append(df(Seq((2L, "b", 2L))), "src")
    cat.compact(spark, "src")
    val r = MaterializedView.refresh(spark, cat, "mv")
    assert(r.mode == "rebuild")
    assert(state(cat, "mv") == expected(cat, "src"))

    // lost watermark (crash between state commit and watermark write)
    cat.append(df(Seq((3L, "c", 3L))), "src")
    cat.removeMeta("mv", s"mv.src.${cat.currentSnapshot("mv").get}")
    val r2 = MaterializedView.refresh(spark, cat, "mv")
    assert(r2.mode == "rebuild")
    assert(state(cat, "mv") == expected(cat, "src"))
  }

  test("MAX columns maintain over insert-only windows and force a rebuild when the window deletes") {
    val (cat, _) = freshCat()
    cat.commit(df(Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 7L))), "src")
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"), Seq("v"), Seq("v"))
    def got: Set[(String, Long, Long, Long)] = cat.read(spark, "mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", 2L, 15L, 10L), ("b", 1L, 7L, 7L)))
    // insert-only window: max folds via greatest (new group + raised max)
    cat.append(df(Seq((4L, "a", 99L), (5L, "c", 3L))), "src")
    assert(MaterializedView.refresh(spark, cat, "mv").mode == "incremental")
    assert(got == Set(("a", 3L, 114L, 99L), ("b", 1L, 7L, 7L), ("c", 1L, 3L, 3L)))
    // a delete may remove the current maximum — unknowable from the
    // aggregate — so the refresh must REBUILD, and land on the truth
    cat.deleteWhere("src", "id", Seq("4"))
    val r = MaterializedView.refresh(spark, cat, "mv")
    assert(r.mode == "rebuild", s"got ${r.mode}")
    assert(got == Set(("a", 2L, 15L, 10L), ("b", 1L, 7L, 7L), ("c", 1L, 3L, 3L)))
  }

  test("MIN maintains as MAX over the negated column (the documented reduction)") {
    // min(v) == -max(-v) for integers, so an incremental MIN needs no new
    // machinery: materialize the negated column and read the view's max
    // back negated — same insert-only maintenance, same delete-rebuild rule
    val (cat, _) = freshCat()
    val neg = df(Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 7L)))
      .selectExpr("id", "grp", "v", "-v AS nv")
    cat.commit(neg, "srcn")
    MaterializedView.create(spark, cat, "srcn", "mvn", Seq("grp"), Seq.empty, Seq("nv"))
    def minOf: Set[(String, Long)] = cat.read(spark, "mvn").collect()
      .map(r => (r.getString(0), -r.getLong(2))).toSet
    assert(minOf == Set(("a", 5L), ("b", 7L)))
    cat.append(df(Seq((4L, "a", 2L), (5L, "c", 30L)))
      .selectExpr("id", "grp", "v", "-v AS nv"), "srcn")
    assert(MaterializedView.refresh(spark, cat, "mvn").mode == "incremental")
    assert(minOf == Set(("a", 2L), ("b", 7L), ("c", 30L)))
    // deleting the current minimum forces the same rebuild rule as MAX
    cat.deleteWhere("srcn", "id", Seq("4"))
    assert(MaterializedView.refresh(spark, cat, "mvn").mode == "rebuild")
    assert(minOf == Set(("a", 5L), ("b", 7L), ("c", 30L)))
  }

  test("HLL-distinct columns maintain over insert-only windows bit-identically to a fresh sketch") {
    val (cat, _) = freshCat()
    // (id, grp, v): v doubles as the distinct-counted value
    cat.commit(df(Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 11L), (4L, "b", 7L))), "src")
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"),
      Seq.empty, Seq.empty, Seq("v"))
    def est: Map[String, Long] = cat.read(spark, "mv").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("distinct_v")).toMap
    // maintained estimate == from-scratch sketch estimate over the table
    def fresh: Map[String, Long] = {
      graft.operators.Sketch.hllDistinct(cat.read(spark, "src"), "grp", "v")
        .collect().map(r => r.getString(0) -> r.getAs[Long]("raw_est")).toMap
    }
    assert(est == fresh)
    // two insert-only windows: dup values (registers idempotent), new
    // values, a new group — the merged registers must equal recomputation
    cat.append(df(Seq((5L, "a", 10L), (6L, "a", 99L))), "src")
    assert(MaterializedView.refresh(spark, cat, "mv").mode == "incremental")
    assert(est == fresh)
    cat.append(df(Seq((7L, "c", 1L), (8L, "c", 2L), (9L, "b", 7L))), "src")
    assert(MaterializedView.refresh(spark, cat, "mv").mode == "incremental")
    assert(est == fresh)
    assert(est("a") >= 2L) // sanity: a has 3 distinct values, estimate nearby
    // a delete forces the rebuild path (registers are not subtractable)
    cat.deleteWhere("src", "id", Seq("6"))
    assert(MaterializedView.refresh(spark, cat, "mv").mode == "rebuild")
    assert(est == fresh)
  }

  test("refresh refuses a table that is not a materialized view") {
    val (cat, _) = freshCat()
    cat.commit(df(Seq((1L, "a", 1L))), "plain")
    val e = intercept[IllegalStateException](MaterializedView.refresh(spark, cat, "plain"))
    assert(e.getMessage.contains("not a materialized view"))
  }

  test("continuous maintenance over a streaming-ingest table: one incremental refresh per micro-batch") {
    // the exactly-once appendBatch path is how a stream lands in the
    // catalog; a per-batch refresh keeps the rollup current at O(batch)
    val (cat, _) = freshCat()
    cat.appendBatch(df(Seq((1L, "a", 1L), (2L, "b", 2L))), "src", 0L)
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"), Seq("v"))
    (1L to 4L).foreach { b =>
      cat.appendBatch(df(Seq((b * 10, s"g${b % 2}", b), (b * 10 + 1, "a", b))), "src", b)
      val r = MaterializedView.refresh(spark, cat, "mv")
      assert(r.mode == "incremental", s"batch $b: ${r.mode}")
      assert(state(cat, "mv") == expected(cat, "src"), s"batch $b diverged")
    }
    // an at-least-once REPLAY of a committed batch is skipped by the
    // marker, so the subsequent refresh sees an empty window — noop
    cat.appendBatch(df(Seq((40L, "g0", 4L), (41L, "a", 4L))), "src", 4L)
    assert(MaterializedView.refresh(spark, cat, "mv").mode == "noop")
    assert(state(cat, "mv") == expected(cat, "src"))
  }

  test("count-only view (no sum columns) maintains") {
    val (cat, _) = freshCat()
    cat.commit(df(Seq((1L, "a", 1L), (2L, "b", 2L))), "src")
    MaterializedView.create(spark, cat, "src", "mv", Seq("grp"))
    cat.append(df(Seq((3L, "a", 9L))), "src")
    assert(MaterializedView.refresh(spark, cat, "mv").mode == "incremental")
    val got = cat.read(spark, "mv").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 2L), ("b", 1L)))
  }
}
