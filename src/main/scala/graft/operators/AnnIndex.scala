package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.spark.{ParquetSnapshotCatalog, IdentityTransform}

/** The one IVF-PQ implementation (Jégou et al. 2011; the faiss
  * `IndexIVFPQ` + `IndexRefineFlat` layout): [[trainModel]] trains,
  * [[encodeDf]] encodes, [[probeDf]] probes, [[adc]] scores and [[search]]
  * refines. [[Ann.ivfPqTopK]] runs them in one call over an in-memory code
  * table; `IncrementalIngest.appendSemDeduped` admits drops with them.
  *
  * The rest of this object is FAISS's train/add/search split re-expressed
  * as catalog tables, so the index is built ONCE and every query reads it
  * without training anything:
  *
  *   - `build` trains the coarse quantizer + PQ codebooks and commits TWO
  *     catalog tables:
  *     `<table>__model` (centroids + codebooks — KBs, the driver-state
  *     part of the index) and `<table>` (vec_id, cluster, codes — the
  *     compressed corpus, 8 B/vector), the latter partitioned by
  *     `identity(cluster)` so probe reads prune to the probed clusters'
  *     files through the ordinary hidden-partitioning path.
  *   - `append` encodes NEW vectors with the FROZEN model (zero training)
  *     and appends them cluster-clustered; the sidecar carries their
  *     pruning bounds like any other drop.
  *   - `query` reads the model (one tiny collect), probes the `nprobe`
  *     nearest clusters per query THROUGH partition pruning (one
  *     `cluster IN (...)` scan opening only the probed clusters' files),
  *     ADC-scores the candidates, and exact-refines a `refine`×k shortlist
  *     with ONE id-keyed join against the raw embeddings. No k-means runs:
  *     [[Ann.trainRuns]] is spec-asserted unchanged across query calls.
  *
  * At 100 TB this is the production ANN shape: the 10⁹-vector corpus is
  * (id, cluster, m bytes) in cluster-pruned files; a query touches
  * nprobe/nlist of the data and the model rides a broadcast. The cluster
  * id is stored ZERO-PADDED (width 5) so the stats sidecar's string
  * min/max equals its numeric order — the same invariant the bucket
  * transform pins.
  */
object AnnIndex {

  private val ClusterWidth = 5

  /** A cluster id as stored in every code table and probed by every
    * search — the one format both sides must share. */
  private def pad(c: Int): String = s"%0${ClusterWidth}d".format(c)

  // ------------------------------------------------------------------
  // OPQ — parametric Optimized Product Quantization (Ge, He, Ke & Sun,
  // CVPR 2013, the OPQ-P variant): learn an ORTHOGONAL rotation R of the
  // residual space before the subspace split, so PQ's independence
  // assumption holds better — R = the PCA basis with EIGENVALUE-BALANCED
  // allocation of principal directions to subspaces (each subspace gets
  // directions whose variance product is as equal as possible; PQ then
  // spends its 8 bits/subspace on comparable information). Deterministic
  // end to end: cyclic Jacobi eigensolver with fixed sweep order, sign
  // convention (largest-|component| entry positive), desc-eigenvalue order
  // with index tie-break, greedy lowest-log-product allocation.
  // ------------------------------------------------------------------

  /** Eigen-decomposition of a symmetric matrix by cyclic Jacobi rotations
    * (driver-side, d ≤ a few hundred): returns (eigenvalues, eigenvectors
    * as COLUMNS), unordered.
    */
  private[operators] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            off += apq * apq
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** OPQ-P rotation from sample residuals: PCA basis, eigenvalue-balanced
    * subspace allocation. Returns R with ROWS = reordered principal
    * directions, so `y = R·x` lays subspace j in rows [j·dsub, (j+1)·dsub).
    */
  private[operators] def opqRotation(residuals: Array[Array[Double]], m: Int): Array[Array[Double]] = {
    val d = residuals(0).length
    val dsub = d / m
    val cov = Array.ofDim[Double](d, d)
    residuals.foreach { r =>
      var i = 0
      while (i < d) {
        val ri = r(i)
        var j = i
        while (j < d) { cov(i)(j) += ri * r(j); j += 1 }
        i += 1
      }
    }
    var i = 0
    while (i < d) { var j = 0; while (j < i) { cov(i)(j) = cov(j)(i); j += 1 }; i += 1 }
    val (evals, evecs) = jacobiEigen(cov)
    // deterministic direction list: desc eigenvalue, index tie-break; sign
    // pinned so the largest-|component| entry is positive
    val order = evals.indices.sortBy(k => (-evals(k), k))
    val dirs = order.map { k =>
      val col = Array.tabulate(d)(r => evecs(r)(k))
      var best = 0
      var bi = 0
      while (bi < d) { if (math.abs(col(bi)) > math.abs(col(best))) best = bi; bi += 1 }
      if (col(best) < 0) col.map(-_) else col
    }
    // greedy balanced allocation: next direction → the non-full subspace
    // with the smallest current log-variance product (lowest index ties)
    val logProd = new Array[Double](m)
    val fill = new Array[Int](m)
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
    order.indices.foreach { r =>
      var bestB = -1
      var b = 0
      while (b < m) {
        if (fill(b) < dsub && (bestB < 0 || logProd(b) < logProd(bestB))) bestB = b
        b += 1
      }
      buckets(bestB) += dirs(r)
      fill(bestB) += 1
      logProd(bestB) += math.log(math.max(evals(order(r)), 1e-12))
    }
    buckets.flatten.toArray
  }

  /** y = R·x (R rows × x). */
  private[graft] def rotate(rot: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val y = new Array[Double](rot.length)
    var i = 0
    while (i < rot.length) {
      val row = rot(i)
      var s = 0.0
      var j = 0
      while (j < row.length) { s += row(j) * x(j); j += 1 }
      y(i) = s
      i += 1
    }
    y
  }

  /** Train + encode + commit the index artifacts. Returns the index
    * table's snapshot id. Parameters and defaults mirror
    * [[Ann.ivfPqTopK]], which returns the same rows as this + [[query]].
    */
  def build(embeddings: DataFrame, cat: ParquetSnapshotCatalog, table: String,
      nlist: Int = 0, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      nHint: Long = 0L, opq: Boolean = false): Long = {
    val spark = embeddings.sparkSession
    val n = if (nHint > 0) nHint else embeddings.count()
    val unit = unitVectors(embeddings)
    val model = trainModel(unit, n, nlist, m, ksub, iters, opq)
    commitModel(spark, cat, s"${table}__model", model)
    commitCodes(cat, encodeDf(unit, model), table, model)
  }

  /** Commit a code table (vec_id, cluster, codes), cluster-partitioned for
    * probe pruning. Returns its snapshot id. */
  private[graft] def commitCodes(cat: ParquetSnapshotCatalog, codes: DataFrame,
      table: String, model: PqModel): Long =
    cat.commitPartitioned(codes, table, IdentityTransform("cluster"),
      nFiles = math.max(4, math.min(model.centroids.length, 64)))

  /** The frozen index model: coarse centroids, PQ codebooks, optional OPQ
    * rotation (rows = reordered principal directions; applied to residuals
    * before the subspace split — orthogonal, so euclidean ADC is exact in
    * the rotated frame). */
  final case class PqModel(centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      rotation: Option[Array[Array[Double]]])

  /** `(vec_id, embedding)` L2-normalized — euclidean/ADC ranking on unit
    * vectors is monotone with cosine. */
  private[graft] def unitVectors(embeddings: DataFrame): DataFrame =
    Ann.prep(embeddings)
      .selectExpr("vec_id", "transform(emb, x -> x / norm) AS embedding")

  /** Train coarse centroids + PQ codebooks on UNIT vectors — the only
    * IVF-PQ training entry: one coarse and `m` codebook k-means runs, each
    * [[Ann.trainRuns]]-counted. Deterministic: sample init (lowest
    * vec_ids), fixed Lloyd rounds, id tie-breaks. Empty input fails with
    * an IllegalArgumentException.
    */
  private[graft] def trainModel(unit: DataFrame, n: Long, nlist: Int,
      m: Int, ksub: Int, iters: Int, opq: Boolean = false): PqModel = {
    val spark = unit.sparkSession
    import spark.implicits._
    val centroids = Ann.ivfTrain(unit, Ann.nlistFor(nlist, n), iters)
    require(centroids.nonEmpty, "trainModel: the input is empty, there is nothing to train on")
    val dim = centroids(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    // codebooks from a deterministic sample's residuals (lowest vec_ids —
    // KBs on the driver, the Lloyd-style legitimate small state)
    val sample = unit.orderBy("vec_id").limit(2048)
      .as[(Long, Array[Double])].collect()
    val resids = sample.map { case (_, v) =>
      val cs = centroids(Ann.nearest(centroids, v))
      Array.tabulate(dim)(i => v(i) - cs(i))
    }
    val rotation = if (opq) Some(opqRotation(resids, m)) else None
    val rotated = rotation.fold(resids)(r => resids.map(rotate(r, _)))
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val sub = rotated.map(r => Array.tabulate(dsub)(i => r(j * dsub + i)))
      smallKmeans(sub, math.min(ksub, sub.length), iters)
    }
    PqModel(centroids, codebooks, rotation)
  }

  /** Driver-side Lloyd k-means over a small collected sample — the PQ
    * codebook trainer (per-subspace data is sampleN × dsub doubles — KBs).
    * Deterministic: init = the first `k` rows in input order, fixed
    * iterations, ties to the lower centroid index.
    */
  private def smallKmeans(rows: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    Ann.trainRuns.incrementAndGet()
    var cents = rows.take(k).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](cents.length, rows(0).length)
      val counts = new Array[Long](cents.length)
      rows.foreach { v =>
        val c = Ann.nearest(cents, v)
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else { val m = new Array[Double](old.length); var i = 0
          while (i < m.length) { m(i) = sums(c)(i) / counts(c); i += 1 }; m }
      }
      it += 1
    }
    cents
  }

  /** Model table: centroids (kind 'c', i = cluster) + codebooks (kind 'b',
    * i = subspace, j = code) — O(nlist + m·ksub) rows, read back whole.
    */
  private[graft] def commitModel(spark: SparkSession, cat: ParquetSnapshotCatalog,
      modelTable: String, model: PqModel): Long = {
    import spark.implicits._
    val rows =
      model.centroids.zipWithIndex.map { case (v, c) => ("c", c, 0, v) } ++
      model.codebooks.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (v, code) => ("b", j, code, v) } } ++
      model.rotation.toSeq.flatMap(_.zipWithIndex.map { case (v, r) => ("r", r, 0, v) })
    cat.commit(spark.createDataset(rows.toSeq).toDF("kind", "i", "j", "vec"),
      modelTable)
  }

  /** PQ-encode UNIT vectors with a frozen model: (vec_id, cluster, codes),
    * cluster zero-padded for the sidecar's string/numeric order match.
    */
  private[graft] def encodeDf(unit: DataFrame, model: PqModel): DataFrame = {
    val spark = unit.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    unit.as[(Long, Array[Double])].map { case (id, v) =>
      val m = bc.value
      val cs = m.centroids
      val c = Ann.nearest(cs, v)
      (id, pad(c), encodeCodes(v, cs(c), m))
    }.toDF("vec_id", "cluster", "codes")
  }

  /** v − cv in the model's frame (rotated under OPQ — R is orthogonal, so
    * euclidean ADC is exact in either frame). */
  private def residual(model: PqModel, v: Array[Double], cv: Array[Double]): Array[Double] = {
    val r0 = Array.tabulate(cv.length)(i => v(i) - cv(i))
    model.rotation.fold(r0)(rotate(_, r0))
  }

  private def encodeCodes(v: Array[Double], cv: Array[Double],
      model: PqModel): Array[Byte] = {
    val books = model.codebooks
    val dsub = cv.length / books.length
    val resid = residual(model, v, cv)
    val codes = new Array[Byte](books.length)
    var j = 0
    while (j < books.length) {
      val r = java.util.Arrays.copyOfRange(resid, j * dsub, (j + 1) * dsub)
      codes(j) = Ann.nearest(books(j), r).toByte
      j += 1
    }
    codes
  }

  /** Asymmetric distance between unit query `qv` and the vector coded as
    * `codes` in `cluster`: the query residual against each subspace's
    * codeword, squared and summed — the full vector is never read. */
  private def adc(model: PqModel, qv: Array[Double], cluster: Int,
      codes: Array[Byte]): Double = {
    val books = model.codebooks
    val cv = model.centroids(cluster)
    val dsub = cv.length / books.length
    val rq = residual(model, qv, cv)
    var dist = 0.0
    var j = 0
    while (j < codes.length) {
      val cw = books(j)(codes(j) & 0xff)
      var i = 0
      while (i < dsub) {
        val t = rq(j * dsub + i) - cw(i)
        dist += t * t
        i += 1
      }
      j += 1
    }
    dist
  }

  /** (qid, qemb, qcluster): each UNIT query vector (vec_id, embedding)
    * fanned out over its `nprobe` nearest centroids, keyed like the code
    * tables' cluster column. */
  private[graft] def probeDf(unit: DataFrame, model: PqModel, nprobe: Int): DataFrame = {
    val spark = unit.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    unit.as[(Long, Array[Double])]
      .flatMap { case (id, v) => Ann.probe(bc.value, v, nprobe).iterator.map(c => (id, v, pad(c))) }
      .toDF("qid", "qemb", "qcluster")
  }

  /** (qid, nbr_id, adc) for probe rows joined to code rows:
    * (qid, qemb, qcluster, nbr_id, codes). */
  private[graft] def scoreAdc(pairs: DataFrame, model: PqModel): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    pairs.select("qid", "qemb", "qcluster", "nbr_id", "codes")
      .as[(Long, Array[Double], String, Long, Array[Byte])]
      .map { case (qid, qv, qc, id, codes) => (qid, id, adc(bc.value, qv, qc.toInt, codes)) }
      .toDF("qid", "nbr_id", "adc")
  }

  /** IVF-PQ search for the `vec_id < nQueries` rows of `embeddings`:
    * probe, ADC-score the probed clusters' code rows (`candidates` of the
    * sorted probe keys), keep a `refine`×k shortlist, then exact-refine it
    * with ONE id-keyed join against `embeddings`. Trains nothing. */
  private[operators] def search(embeddings: DataFrame, model: PqModel, nQueries: Int,
      k: Int, nprobe: Int, refine: Int)(candidates: Seq[String] => DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val probes = probeDf(unitVectors(embeddings).where(col("vec_id") < nQueries), model, nprobe)
      .localCheckpoint() // consumed twice: probe-set collect + the ADC join
    val probed = probes.select("qcluster").distinct()
      .as[String].collect().sorted.toSeq
    // the query side is nQueries×nprobe rows — pin the broadcast so the
    // candidate scan streams against it instead of shuffling by cluster
    val scored = scoreAdc(broadcast(probes)
      .join(candidates(probed).withColumnRenamed("vec_id", "nbr_id"),
        col("qcluster") === col("cluster"))
      .where(col("nbr_id") =!= col("qid")), model)
    val wS = Window.partitionBy("qid").orderBy(asc("adc"), asc("nbr_id"))
    val shortlist = scored.withColumn("srank", row_number().over(wS))
      .where(col("srank") <= k * refine)
      .select("qid", "nbr_id")
    // exact refine: ONE id-keyed join fetches the shortlist's true vectors
    val e = Ann.prep(embeddings)
    val qFull = e.where(col("vec_id") < nQueries)
      .withColumnsRenamed(Map("vec_id" -> "qid", "emb" -> "qemb", "norm" -> "qnorm"))
    Ann.cosineTopK(shortlist
      .join(e.withColumnRenamed("vec_id", "nbr_id"), Seq("nbr_id"))
      .join(broadcast(qFull), Seq("qid")), k)
  }

  /** The frozen model back from the catalog. */
  def loadModel(spark: SparkSession, cat: ParquetSnapshotCatalog,
      table: String): PqModel =
    loadModelTable(spark, cat, s"${table}__model")

  private[graft] def loadModelTable(spark: SparkSession, cat: ParquetSnapshotCatalog,
      modelTable: String): PqModel = {
    import spark.implicits._
    val rows = cat.read(spark, modelTable)
      .as[(String, Int, Int, Array[Double])].collect()
    val centroids = rows.filter(_._1 == "c").sortBy(_._2).map(_._4)
    val byBook = rows.filter(_._1 == "b").groupBy(_._2)
    val codebooks = Array.tabulate(byBook.size) { j =>
      byBook(j).sortBy(_._3).map(_._4)
    }
    val rot = rows.filter(_._1 == "r")
    PqModel(centroids, codebooks,
      if (rot.isEmpty) None else Some(rot.sortBy(_._2).map(_._4)))
  }

  /** Encode NEW vectors with the frozen model and append them to the index
    * (the FAISS `add` leg): zero training, one narrow encode map, the
    * append's sidecar carries cluster bounds so probe pruning covers the
    * new files too. Returns the new snapshot id.
    */
  def append(newVectors: DataFrame, cat: ParquetSnapshotCatalog,
      table: String): Long = {
    val spark = newVectors.sparkSession
    cat.appendPartitioned(
      encodeDf(unitVectors(newVectors), loadModel(spark, cat, table)),
      table, nFiles = 4)
  }

  /** Recall-drift probe — the cheap health check a production index runs
    * after appends: exact brute-force top-k for the `nQueries` sample
    * queries (O(sample·corpus) — the sample is small by contract) compared
    * against the frozen index's answers. Returns recall in [0, 1]. Frozen
    * models degrade when appended data shifts distribution (new clusters
    * the old centroids straddle); this is the number that decides a
    * rebuild instead of guessing.
    */
  def recallProbe(embeddings: DataFrame, cat: ParquetSnapshotCatalog,
      table: String, nQueries: Int = 20, k: Int = 10): Double = {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("vec_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Ann.bruteForceTopK(embeddings, nQueries, k))
    if (exact.isEmpty) 1.0
    else exact.count(pairs(query(embeddings, cat, table, nQueries, k)).contains)
      .toDouble / exact.size
  }

  /** Index REBUILD — the explicit maintenance op (FAISS's retrain): train
    * a fresh model on the CURRENT corpus and replace both artifacts. The
    * ONLY sanctioned training after build; [[maintain]] gates it on a
    * measured recall drop so steady-state appends never pay it.
    */
  def rebuild(embeddings: DataFrame, cat: ParquetSnapshotCatalog, table: String,
      nlist: Int = 0, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      nHint: Long = 0L, opq: Boolean = false): Long =
    build(embeddings, cat, table, nlist, m, ksub, iters, nHint, opq)

  /** Append-then-check maintenance loop: probe recall on the sample
    * queries; below `floor`, rebuild from the current corpus. Returns
    * (recallBefore, rebuilt). The production shape: appends are frozen-
    * model cheap, the probe is a sample-sized check, and retraining runs
    * exactly when measured drift says so.
    */
  def maintain(embeddings: DataFrame, cat: ParquetSnapshotCatalog, table: String,
      floor: Double = 0.5, nQueries: Int = 20, k: Int = 10,
      nlist: Int = 0, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      opq: Boolean = false): (Double, Boolean) = {
    val r = recallProbe(embeddings, cat, table, nQueries, k)
    if (r < floor) {
      rebuild(embeddings, cat, table, nlist, m, ksub, iters, opq = opq)
      (r, true)
    } else (r, false)
  }

  /** Search the persisted index: trains NOTHING (no ivfTrain, no
    * smallKmeans — [[Ann.trainRuns]] stays untouched). `embeddings` is the
    * raw vector table the exact-refine join reads O(shortlist) rows from;
    * queries are its `vec_id < nQueries` rows, matching
    * [[Ann.ivfPqTopK]]'s output contract (vec_id, rank, nbr_id).
    */
  def query(embeddings: DataFrame, cat: ParquetSnapshotCatalog, table: String,
      nQueries: Int = 20, k: Int = 10, nprobe: Int = 4,
      refine: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    // ONE pruned scan over exactly the probed clusters' files
    search(embeddings, loadModel(spark, cat, table), nQueries, k, nprobe, refine)(
      probed => cat.scan(spark, table).where(col("cluster").isin(probed: _*)))
  }
}
