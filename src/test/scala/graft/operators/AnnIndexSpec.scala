package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

/** Persisted IVF-PQ index artifacts (the FAISS train/add/search split):
  * recall parity with the in-call path, a query path PROVEN training-free
  * (executed k-means census, not a code-reading claim), frozen-model
  * appends, and probe-prune proof by physically deleting unprobed files.
  */
class AnnIndexSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(): String = {
    val d = Files.createTempDirectory("graftannidx").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet

  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
    df.select("vec_id", "rank", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

  test("index query matches the in-call path's recall; the query path trains NOTHING") {
    val cat = new graft.spark.ParquetSnapshotCatalog(tmp())
    AnnIndex.build(emb, cat, "ann")
    val exact = pairs(Ann.bruteForceTopK(emb))
    val incallRows = ranked(Ann.ivfPqTopK(emb))
    val incall = incallRows.map { case (q, _, nb) => (q, nb) }.toSet
    val incallRecall = exact.count(incall.contains).toDouble / exact.size

    val before = Ann.trainRuns.get()
    val indexRows = ranked(AnnIndex.query(emb, cat, "ann"))
    // same defaults, same model, same search: the in-call path and the
    // persisted index give identical (vec_id, rank, nbr_id) rows
    assert(indexRows.nonEmpty && indexRows == incallRows,
      s"in-call and index rows differ: ${incallRows.diff(indexRows).take(5)} vs ${indexRows.diff(incallRows).take(5)}")
    val viaIndex = indexRows.map { case (q, _, nb) => (q, nb) }.toSet
    val indexRecall = exact.count(viaIndex.contains).toDouble / exact.size
    assert(indexRecall >= 0.8 * incallRecall && indexRecall >= 0.5,
      s"index recall $indexRecall vs in-call $incallRecall")
    // the executed zero-training proof: no coarse k-means, no codebook
    // k-means ran during the query — the index IS the artifact
    assert(Ann.trainRuns.get() == before,
      s"query path trained: ${Ann.trainRuns.get() - before} k-means runs")
    // deterministic: a second read-only query run is bit-identical
    assert(pairs(AnnIndex.query(emb, cat, "ann")) == viaIndex)
    assert(Ann.trainRuns.get() == before)
  }

  test("training on empty input fails with a clear IllegalArgumentException") {
    val empty = emb.where("vec_id < 0")
    val unitErr = intercept[IllegalArgumentException] {
      AnnIndex.trainModel(AnnIndex.unitVectors(empty), 0L, 0, 8, 16, 3)
    }
    assert(unitErr.getMessage.contains("input is empty"), unitErr.getMessage)
    val cat = new graft.spark.ParquetSnapshotCatalog(tmp())
    val buildErr = intercept[IllegalArgumentException](AnnIndex.build(empty, cat, "ann"))
    assert(buildErr.getMessage.contains("input is empty"), buildErr.getMessage)
    assert(cat.currentSnapshot("ann__model").isEmpty && cat.currentSnapshot("ann").isEmpty)
  }

  test("append encodes with the FROZEN model: planted twin found, zero retrain, model bytes untouched") {
    val s = spark; import s.implicits._
    val cat = new graft.spark.ParquetSnapshotCatalog(tmp())
    AnnIndex.build(emb, cat, "ann")
    val modelSnap = cat.currentSnapshot("ann__model").get
    val before = Ann.trainRuns.get()
    // plant exact twins of vec_ids 0..4 at +1,000,000 — new "crawl drop"
    val twins = emb.where("vec_id < 5")
      .selectExpr("vec_id + 1000000 AS vec_id", "embedding")
    AnnIndex.append(twins, cat, "ann")
    assert(Ann.trainRuns.get() == before, "append must not train")
    assert(cat.currentSnapshot("ann__model").get == modelSnap,
      "append must not touch the model table")
    // each query now finds its planted twin as the TOP neighbor (cosine 1)
    val res = AnnIndex.query(
        emb.select("vec_id", "embedding").unionByName(twins), cat, "ann", nQueries = 5)
      .where("rank = 1").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("nbr_id")).toMap
    (0L until 5L).foreach { q =>
      assert(res(q) == q + 1000000L, s"query $q top neighbor ${res(q)}")
    }
  }

  test("maintenance lifecycle: distribution-shifted appends degrade the frozen model, the probe detects it, rebuild recovers") {
    val s = spark; import s.implicits._
    // corpus A: vectors in one latent region (seeds 0..); the frozen model
    // trains here
    def vec(seed: Long, shift: Double): Array[Float] = {
      val m = new graft.spark.Mix(seed)
      Array.tabulate(64)(d =>
        (((m.next() >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 0.1 +
          (if (d < 8) shift else 0.0)).toFloat)
    }
    val a = (100L until 300L).map(i => (i, vec(i, 1.0)))
    val dfA = spark.createDataFrame(a).toDF("vec_id", "embedding").repartition(4)
    val cat = new graft.spark.ParquetSnapshotCatalog(tmp())
    AnnIndex.build(dfA, cat, "ann", nlist = 8)
    // a shifted drop in a NEW region — including the future QUERY ids
    // (< 20): under the frozen model every B vector lands in whichever A
    // centroid is least far, with residuals far outside what the A-trained
    // codebooks represent — ADC ranking among B's own neighbors is
    // garbage, so recall for B-region queries craters
    val b = ((0L until 20L) ++ (1000L until 3000L)).map(i => (i, vec(i * 7 + 3, -1.0)))
    val dfB = spark.createDataFrame(b).toDF("vec_id", "embedding").repartition(4)
    AnnIndex.append(dfB, cat, "ann")
    val all = dfA.unionByName(dfB)
    val before = Ann.trainRuns.get()
    val probed = AnnIndex.recallProbe(all, cat, "ann")
    assert(Ann.trainRuns.get() == before, "the probe itself must not train")
    val (r0, rebuilt) = AnnIndex.maintain(all, cat, "ann", floor = 0.9, nlist = 16)
    assert(r0 == probed)
    assert(rebuilt, s"shifted drop must trip the floor (recall $r0)")
    assert(Ann.trainRuns.get() > before, "rebuild is the sanctioned training")
    val after = AnnIndex.recallProbe(all, cat, "ann")
    assert(after > r0, s"rebuild must recover recall: $r0 -> $after")
    // steady state: a second maintain finds recall healthy, trains nothing
    val t2 = Ann.trainRuns.get()
    val (r1, again) = AnnIndex.maintain(all, cat, "ann", floor = math.min(after, 0.9) - 0.05)
    assert(!again && r1 == after && Ann.trainRuns.get() == t2)
  }

  test("OPQ rotation: orthogonal, persisted, and recall-improving on anisotropic data") {
    val s = spark; import s.implicits._
    // anisotropic corpus: 64-dim vectors living mostly in a rotated 8-dim
    // latent subspace with decaying scales — the regime OPQ-P exists for
    // (plain PQ's fixed split straddles the latent directions; the PCA
    // rotation + eigenvalue-balanced allocation re-aligns them)
    val rng = new graft.spark.Mix(0x09L)
    def rand(): Double = (rng.next() >>> 11).toDouble / (1L << 53).toDouble - 0.5
    val a = Array.fill(64, 8)(rand())
    val vecs = (0L until 400L).map { i =>
      val m = new graft.spark.Mix(i * 31 + 7)
      def r() = (m.next() >>> 11).toDouble / (1L << 53).toDouble - 0.5
      val z = Array.tabulate(8)(k => r() * math.pow(0.55, k))
      val noise = Array.fill(64)(r() * 0.02)
      (i, Array.tabulate(64)(d =>
        ((0 until 8).map(k => a(d)(k) * z(k)).sum + noise(d)).toFloat))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding").repartition(4)
    val exact = pairs(Ann.bruteForceTopK(df))
    def recallOf(opq: Boolean): Double = {
      val cat = new graft.spark.ParquetSnapshotCatalog(tmp())
      AnnIndex.build(df, cat, "ann", nlist = 8, opq = opq)
      val got = pairs(AnnIndex.query(df, cat, "ann", refine = 1))
      // bit-identical rerun on the same index
      assert(pairs(AnnIndex.query(df, cat, "ann", refine = 1)) == got)
      // persisted rotation round-trips orthogonal
      val model = AnnIndex.loadModel(spark, cat, "ann")
      assert(model.rotation.isDefined == opq)
      model.rotation.foreach { r =>
        for (i <- r.indices; j <- r.indices) {
          val dot = r(i).zip(r(j)).map { case (x, y) => x * y }.sum
          assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
            s"R not orthogonal at ($i,$j): $dot")
        }
      }
      exact.count(got.contains).toDouble / exact.size
    }
    val plain = recallOf(opq = false)
    val rotated = recallOf(opq = true)
    assert(rotated > plain,
      s"OPQ must improve ADC recall on anisotropic data: $rotated vs $plain")
  }

  test("probe pruning is real: unprobed clusters' files can be deleted, queries still answer bit-exactly") {
    val cat = new graft.spark.ParquetSnapshotCatalog(tmp())
    AnnIndex.build(emb, cat, "ann", nlist = 16)
    val want = pairs(AnnIndex.query(emb, cat, "ann", nQueries = 3))
    // the probed clusters of the 3 queries (nprobe=4 each ≤ 12 of 16)
    val spec = cat.partitionSpec("ann").get
    val snap = cat.currentSnapshot("ann").get
    val all = cat.filesWithAddOrder("ann", snap).map(_._1)
    // re-derive the probe set exactly as query does (first 3 queries, 4
    // nearest centroids each), keep the union of their pruned file sets
    val cents = AnnIndex.loadModel(spark, cat, "ann").centroids
    val s2 = spark
    import s2.implicits._
    val qs = Ann.prep(emb).where(org.apache.spark.sql.functions.col("vec_id") < 3)
      .selectExpr("vec_id", "transform(emb, x -> x / norm) AS u")
      .as[(Long, Array[Double])].collect()
    val probed = qs.flatMap { case (_, v) =>
      cents.indices.sortBy { c =>
        var d = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
        (d, c)
      }.take(4)
    }.toSet
    val kept = probed.flatMap { c =>
      val t = "%05d".format(c)
      cat.pruneFiles("ann", spec.statName, t, t)
    }
    assert(kept.size < all.size, s"pruning kept ${kept.size} of ${all.size}")
    all.filterNot(kept).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    assert(pairs(AnnIndex.query(emb, cat, "ann", nQueries = 3)) == want,
      "query answers changed after deleting unprobed files — it was reading them")
  }
}
