package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.{Files, Paths}

/** Incremental-append dedup invariants: cross-drop duplicates never
  * re-land, re-dropping is idempotent, within-drop dups keep the first
  * arrival, the fast-append preserves time travel, and a crash between the
  * data commit and the companion commit is detected and repaired (the
  * companion can lag, never lead — duplicates are recoverable, lost rows
  * are not).
  */
class IncrementalIngestSpec extends AnyFunSuite with SparkSuite {
  private def freshCat(name: String): (ParquetSnapshotCatalog, String) = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ingest_spec_$name"
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    (new ParquetSnapshotCatalog(root), root)
  }

  private def df(rows: (Long, String)*) =
    spark.createDataFrame(rows).toDF("doc_id", "text")

  private def ids(cat: ParquetSnapshotCatalog, table: String = "t"): Set[Long] =
    cat.read(spark, table).select("doc_id").collect().map(_.getLong(0)).toSet

  test("cross-drop duplicates never re-land; fresh texts do") {
    val (cat, _) = freshCat("cross")
    val (_, n1) = IncrementalIngest.appendDeduped(spark, cat, "t", df(1L -> "aa", 2L -> "bb"))
    val (_, n2) = IncrementalIngest.appendDeduped(spark, cat, "t", df(10L -> "aa", 11L -> "cc"))
    assert(n1 == 2 && n2 == 1)
    assert(ids(cat) == Set(1L, 2L, 11L))
  }

  test("re-dropping the same batch is idempotent (0 appended, snapshot unchanged)") {
    val (cat, _) = freshCat("idem")
    val (s1, _) = IncrementalIngest.appendDeduped(spark, cat, "t", df(1L -> "aa", 2L -> "bb"))
    val (s2, n2) = IncrementalIngest.appendDeduped(spark, cat, "t", df(1L -> "aa", 2L -> "bb"))
    assert(n2 == 0 && s2 == s1)
    assert(ids(cat) == Set(1L, 2L))
  }

  test("within-drop duplicate texts keep the first arrival (min doc_id)") {
    val (cat, _) = freshCat("indrop")
    val (_, n) = IncrementalIngest.appendDeduped(spark, cat, "t",
      df(5L -> "same", 3L -> "same", 7L -> "other"))
    assert(n == 2)
    assert(ids(cat) == Set(3L, 7L))
  }

  test("fast-append preserves time travel: the prior snapshot still reads its own rows") {
    val (cat, _) = freshCat("tt")
    val (s1, _) = IncrementalIngest.appendDeduped(spark, cat, "t", df(1L -> "aa"))
    IncrementalIngest.appendDeduped(spark, cat, "t", df(2L -> "bb"))
    val old = cat.readSnapshot(spark, "t", s1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(old == Set(1L) && ids(cat) == Set(1L, 2L))
  }

  test("crash between data and companion commits: lag detected, repaired, dedup stays exact") {
    val (cat, _) = freshCat("crash")
    IncrementalIngest.appendDeduped(spark, cat, "t", df(1L -> "aa"))
    // crash-sim: the data commit of a second drop lands, the companion
    // commit never does (data-first ordering — the recoverable direction)
    cat.append(df(2L -> "bb"), "t")
    // next drop: repair rebuilds the companion from the table, so "bb"
    // (companion-missing) must still be rejected and "cc" admitted
    val (_, n) = IncrementalIngest.appendDeduped(spark, cat, "t", df(20L -> "bb", 21L -> "cc"))
    assert(n == 1)
    assert(ids(cat) == Set(1L, 2L, 21L))
  }

  // ---- incremental NEAR-dup (MinHash companion) ----------------------

  private val base = "the quick brown fox jumps over the lazy dog near the old river bank today"

  test("near-dup ingest: trimmed mutants rejected via the signature companion, fresh texts admitted") {
    val (cat, _) = freshCat("near")
    val (_, n1) = IncrementalIngest.appendNearDeduped(spark, cat, "t",
      df(1L -> base, 2L -> "completely different words about spark catalyst plans and parquet file pruning strategies"))
    assert(n1 == 2)
    val mutant = base.split(' ').dropRight(2).mkString(" ") // J ~ 13/15 shingles
    val (_, n2) = IncrementalIngest.appendNearDeduped(spark, cat, "t",
      df(10L -> mutant, 11L -> "a genuinely new document with its own vocabulary and no overlap at all whatsoever"))
    assert(n2 == 1, "mutant must be rejected by the minhash companion, fresh doc admitted")
    assert(ids(cat) == Set(1L, 2L, 11L))
    // and the EXACT path still rejects verbatim re-crawls
    val (_, n3) = IncrementalIngest.appendNearDeduped(spark, cat, "t", df(20L -> base))
    assert(n3 == 0)
  }

  test("near-dup ingest: the companion carries signatures, not text; old text never re-read") {
    val (cat, _) = freshCat("nearcomp")
    IncrementalIngest.appendNearDeduped(spark, cat, "t", df(1L -> base))
    val comp = cat.read(spark, "t__minhash")
    assert(comp.columns.toSet ==
      (Set("digest") ++ (0 until IncrementalIngest.minhashK).map(i => s"m$i")))
    assert(comp.count() == 1)
    // a second drop grows the companion by exactly its admitted rows
    IncrementalIngest.appendNearDeduped(spark, cat, "t",
      df(2L -> "some other text entirely with many distinct tokens to shingle over properly here"))
    assert(cat.read(spark, "t__minhash").count() == 2)
  }

  test("near-dup crash repair: companion lag rebuilt from the table, mutants still rejected") {
    val (cat, _) = freshCat("nearcrash")
    IncrementalIngest.appendNearDeduped(spark, cat, "t", df(1L -> base))
    // crash-sim: a drop's data landed, its companion rows never did
    cat.append(df(2L -> "an orphaned drop whose signatures were lost in the crash window right here"), "t")
    val mutant = "an orphaned drop whose signatures were lost in the crash window right"
    val (_, n) = IncrementalIngest.appendNearDeduped(spark, cat, "t", df(10L -> mutant))
    assert(n == 0, "repair must rebuild signatures so the lagging drop's mutants are caught")
    assert(ids(cat) == Set(1L, 2L))
  }

  // deterministic unit-ish vectors for the semantic-ingest specs
  private def vec(seed: Long): Array[Float] = {
    val m = new Mix(seed)
    Array.fill(64)((m.next() >>> 11).toFloat / (1L << 53).toFloat - 0.5f)
  }
  // a semantic twin: the base vector with tiny deterministic noise
  // (cosine well above 0.95, not exact)
  private def twin(seed: Long): Array[Float] = {
    val m = new Mix(seed + 777L)
    vec(seed).map(x => x + ((m.next() >>> 11).toFloat / (1L << 53).toFloat - 0.5f) * 0.01f)
  }
  private def vdf(rows: (Long, Array[Float])*) =
    spark.createDataFrame(rows).toDF("vec_id", "embedding")

  private def vids(cat: ParquetSnapshotCatalog, table: String): Set[Long] =
    cat.read(spark, table).select("vec_id").collect().map(_.getLong(0)).toSet

  test("semantic ingest: cross-drop cosine twins rejected via the PQ companion, fresh vectors admitted") {
    val (cat, _) = freshCat("sem")
    val drop1 = vdf((0L until 40L).map(i => (i, vec(i))): _*)
    val (_, n1) = IncrementalIngest.appendSemDeduped(spark, cat, "v", drop1)
    assert(n1 == 40)
    // drop 2: an EXACT twin of 3, a NEAR twin of 7 (cosine ≥ thr), and two
    // genuinely fresh vectors
    val drop2 = vdf((100L, vec(3L)), (101L, twin(7L)),
      (102L, vec(9000L)), (103L, vec(9001L)))
    val (_, n2) = IncrementalIngest.appendSemDeduped(spark, cat, "v", drop2)
    assert(n2 == 2, s"expected exactly the two fresh vectors admitted, got $n2")
    assert(vids(cat, "v") == (0L until 40L).toSet + 102L + 103L)
    // the companion tracks the table; the model is untouched by drops
    assert(cat.read(spark, "v__semantic").count() == 42L)
    // re-dropping is idempotent (exact-twin path)
    val (_, n3) = IncrementalIngest.appendSemDeduped(spark, cat, "v", drop2)
    assert(n3 == 0)
  }

  test("semantic ingest: admission reads codes + probed clusters, never re-trains") {
    val (cat, _) = freshCat("semtrain")
    IncrementalIngest.appendSemDeduped(spark, cat, "v",
      vdf((0L until 40L).map(i => (i, vec(i))): _*))
    val modelSnap = cat.currentSnapshot("v__semantic__model").get
    val before = graft.operators.Ann.trainRuns.get()
    val (_, n) = IncrementalIngest.appendSemDeduped(spark, cat, "v",
      vdf((200L, twin(5L)), (201L, vec(8888L))))
    assert(n == 1)
    assert(graft.operators.Ann.trainRuns.get() == before,
      "a later drop's admission must not run k-means")
    assert(cat.currentSnapshot("v__semantic__model").get == modelSnap)
    // companion schema: compressed codes only — never embeddings
    assert(cat.read(spark, "v__semantic").columns.toSet ==
      Set("vec_id", "cluster", "codes"))
  }

  test("semantic ingest under OPQ: rotated codes + rotated admission residuals still reject twins") {
    // the companion model carries an OPQ rotation: codes are encoded in
    // the rotated frame, so the admission ADC must rotate query residuals
    // the same way (an unrotated compare scores garbage distances)
    val (cat, _) = freshCat("semopq")
    val (_, n1) = IncrementalIngest.appendSemDeduped(spark, cat, "v",
      vdf((0L until 40L).map(i => (i, vec(i))): _*), opq = true)
    assert(n1 == 40)
    val (_, n2) = IncrementalIngest.appendSemDeduped(spark, cat, "v",
      vdf((300L, twin(11L)), (301L, vec(7777L))), opq = true)
    assert(n2 == 1, "OPQ admission must reject the twin, admit the fresh vector")
    assert(vids(cat, "v") == (0L until 40L).toSet + 301L)
  }

  test("semantic ingest: an empty first drop commits nothing; the next drop trains as usual") {
    val (cat, _) = freshCat("semempty")
    val empty = vdf((0L, vec(0L))).where("vec_id < 0")
    assert(IncrementalIngest.appendSemDeduped(spark, cat, "v", empty) == (0L, 0L))
    Seq("v", "v__semantic", "v__semantic__model").foreach { t =>
      assert(cat.currentSnapshot(t).isEmpty, s"an empty drop committed $t")
    }
    val before = graft.operators.Ann.trainRuns.get()
    val (_, n1) = IncrementalIngest.appendSemDeduped(spark, cat, "v",
      vdf((0L until 40L).map(i => (i, vec(i))): _*))
    assert(n1 == 40)
    assert(graft.operators.Ann.trainRuns.get() > before, "the first non-empty drop trains")
    assert(cat.currentSnapshot("v__semantic__model").isDefined)
    assert(cat.read(spark, "v__semantic").count() == 40L)
    // a later empty drop admits nothing and leaves every table as it was
    val snap = cat.currentSnapshot("v").get
    assert(IncrementalIngest.appendSemDeduped(spark, cat, "v", empty) == (snap, 0L))
    assert(vids(cat, "v") == (0L until 40L).toSet)
  }

  test("semantic crash repair: companion lag rebuilt with the frozen model, twins still rejected") {
    val (cat, _) = freshCat("semcrash")
    IncrementalIngest.appendSemDeduped(spark, cat, "v",
      vdf((0L until 40L).map(i => (i, vec(i))): _*))
    // crash-sim: a drop's data landed, its companion rows never did
    cat.append(vdf((50L, vec(4444L))), "v")
    assert(cat.read(spark, "v__semantic").count() == 40L) // lagging
    // next append must repair, then reject the lagging row's twin
    val (_, n) = IncrementalIngest.appendSemDeduped(spark, cat, "v",
      vdf((60L, twin(4444L)), (61L, vec(5555L))))
    assert(n == 1, "repair must rebuild codes so the lagging drop's twin is caught")
    assert(vids(cat, "v") == (0L until 40L).toSet + 50L + 61L)
    assert(cat.read(spark, "v__semantic").count() == 42L)
  }

  test("near-dup ingest: re-dropping the same drop is idempotent (exact path)") {
    val (cat, _) = freshCat("nearidem")
    val drop = df(1L -> base, 2L -> "other words forming a second document body for the idempotence check case")
    val (_, n1) = IncrementalIngest.appendNearDeduped(spark, cat, "t", drop)
    val (_, n2) = IncrementalIngest.appendNearDeduped(spark, cat, "t", drop)
    assert(n1 == 2 && n2 == 0)
  }
}
