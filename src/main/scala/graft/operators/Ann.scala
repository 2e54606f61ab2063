package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search and semantic dedup over the embeddings table
  * (vec_id, embedding FLOAT[64], label). Search paths, all with the output
  * (vec_id, rank, nbr_id) ranked by [[cosineTopK]]:
  *
  *   - `bruteForceTopK`: exact cosine top-k via broadcast(query-set) ⋈ corpus.
  *     The dot product is a codegen'd `aggregate(zip_with(...))` — no UDF, no
  *     python, stays inside whole-stage codegen. Scales as |Q|·|corpus|: right
  *     whenever the query set broadcasts (the common "probe a few thousand
  *     against everything" shape; corpus side streams, never collects).
  *
  *   - `lshTopK`: random-hyperplane LSH — 16-bit sign bucket per vector,
  *     candidates = same-bucket pairs, exact cosine re-rank inside buckets.
  *     The scale path: shuffle keys are 16-bit buckets, each bucket ~n/65536;
  *     multi-probe (flip one bit) keeps recall up.
  *
  *   - `ivfTopK`: k-means coarse quantizer, exact cosine re-rank inside the
  *     `nprobe` nearest clusters ([[probe]]).
  *
  *   - `ivfPqTopK`: IVF-PQ in one call — [[AnnIndex]]'s trainer, encoder
  *     and search over an in-memory code table instead of a persisted one.
  *
  * Dedup operators: `semDedup` (k-means clusters, cosine pairs inside
  * them) and `cosineNearDups` (cosine pairs inside LSH buckets).
  *
  * Float determinism: embeddings are cast to DOUBLE before any arithmetic and
  * folded left-to-right, matching DuckDB's list_cosine_similarity on
  * DOUBLE[] for the oracle; ranking output carries only integers.
  */
object Ann {

  /** Executed-training census: every coarse k-means run ([[ivfTrain]]) and
    * every codebook k-means run ([[AnnIndex.trainModel]]) increments this — specs
    * prove the persisted-index query path ([[AnnIndex.query]]) trains
    * NOTHING by asserting it unchanged across query calls.
    */
  val trainRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (vec_id, emb DOUBLE[], norm) projection. */
  private[operators] def prep(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
      .withColumn("norm", sqrt(aggregate(transform(col("emb"), x => x * x), lit(0.0d), (a, x) => a + x)))

  /** Inner product of two DOUBLE[] columns, folded left to right. */
  private[graft] def dot(a: String, b: String): Column =
    aggregate(zip_with(col(a), col(b), (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Exact cosine top-k over candidate pairs that carry the query side
    * (qid, qemb, qnorm) and the neighbour side (nbr_id, emb, norm):
    * (vec_id, rank, nbr_id), cosine descending, ties on the lower nbr_id.
    */
  private[operators] def cosineTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("nbr_id"))
    pairs.select(col("qid"), col("nbr_id"),
        (dot("qemb", "emb") / (col("qnorm") * col("norm"))).as("sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("rank"), col("nbr_id"))
      .orderBy("vec_id", "rank")
  }

  /** Coarse cluster count: `nlist` when set, else √n clamped to [4, 1024]. */
  private[operators] def nlistFor(nlist: Int, n: Long): Int =
    if (nlist > 0) nlist else math.max(4, math.min(1024, math.sqrt(n.toDouble).toInt))

  /** Exact top-k neighbors (cosine) for `vec_id < nQueries`, output
    * (vec_id, rank, nbr_id) — integer-only for bit-stable comparison.
    */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame = {
    val e = prep(embeddings)
    val q = e.where(col("vec_id") < nQueries)
      .withColumnsRenamed(Map("vec_id" -> "qid", "emb" -> "qemb", "norm" -> "qnorm"))
    cosineTopK(broadcast(q).join(e.withColumnRenamed("vec_id", "nbr_id"),
      col("nbr_id") =!= col("qid")), k)
  }

  /** Bucket-count sizing: 2^bits buckets targeting ~`targetBucket` vectors
    * per bucket, clamped to [4, 24] bits. Derived from the corpus count so
    * the same call scales from the 500-vector sandbox (4 bits → 16 buckets,
    * recall stays real) to 10^9+ vectors (24 bits → 16M buckets, shuffle
    * keys stay small) without retuning.
    */
  def autoBits(n: Long, targetBucket: Int = 128): Int = {
    val want = math.max(n / targetBucket, 1L)
    math.min(24, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(want - 1)))
  }

  /** Fixed random hyperplanes (deterministic seed) → sign-bit bucket. Use
    * `autoBits(corpusCount)` for `bits` so bucket population tracks corpus
    * size.
    */
  def bucketed(embeddings: DataFrame, bits: Int = 8): DataFrame = {
    val rng = new graft.spark.Mix(0xbeefL)
    val dim = 64
    val planes = Array.fill(bits, dim)((rng.next() >>> 11).toDouble / (1L << 53).toDouble - 0.5)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = prep(embeddings)
    // one typed pass against the broadcast plane matrix instead of a
    // bits×dim expression tree (a 24-bit corpus would otherwise codegen
    // 1,536 element_at nodes per row); the left-to-right accumulation
    // reproduces the expression form's float order bit-for-bit
    val bc = spark.sparkContext.broadcast(planes)
    e.select(col("vec_id"), col("emb"), col("norm"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        val ps = bc.value
        it.map { case (id, emb, norm) =>
          var bucket = 0L
          var b = 0
          while (b < ps.length) {
            val p = ps(b)
            var dot = 0.0
            var i = 0
            while (i < p.length && i < emb.length) { dot += emb(i) * p(i); i += 1 }
            if (dot > 0) bucket |= 1L << b
            b += 1
          }
          (id, emb, norm, bucket)
        }
      }
      .toDF("vec_id", "emb", "norm", "bucket")
  }

  /** Approximate top-k: exact cosine re-rank within LSH buckets. Output shape
    * matches bruteForceTopK (rank may differ where recall < 1 — that is the
    * approximation trade; verified in tests by recall ≥ threshold, not
    * equality).
    */
  def lshTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10, bits: Int = 0,
      nHint: Long = 0L): DataFrame = {
    val nBits = if (bits > 0) bits
    else autoBits(if (nHint > 0) nHint else embeddings.count())
    val e = bucketed(embeddings, nBits)
    // multi-probe to hamming distance 2: each query probes its own bucket,
    // all single-bit flips, and all two-bit flips — 1 + b + b(b-1)/2 probe
    // keys (211 at 20 bits), the standard recall/shuffle trade that keeps
    // the join keyed on small buckets instead of widening them
    val probes = Seq(col("bucket")) ++
      (0 until nBits).map(i => expr(s"cast(bucket as bigint) ^ ${1L << i}")) ++
      (for (i <- 0 until nBits; j <- i + 1 until nBits)
        yield expr(s"cast(bucket as bigint) ^ ${(1L << i) | (1L << j)}"))
    val q0 = e.where(col("vec_id") < nQueries)
      .withColumnsRenamed(Map("vec_id" -> "qid", "emb" -> "qemb", "norm" -> "qnorm"))
    val q = q0.select(col("qid"), col("qemb"), col("qnorm"),
      explode(array(probes: _*)).as("qbucket")).distinct()
    cosineTopK(q.join(e.withColumnRenamed("vec_id", "nbr_id"),
      col("qbucket") === col("bucket") && col("nbr_id") =!= col("qid")), k)
  }

  /** One IVF-assigned vector: id, coarse cluster, vector, norm (public —
    * the Dataset encoder's generated code constructs it). */
  final case class IvfVec(vec_id: Long, cluster: Int, emb: Array[Double], norm: Double)

  /** Nearest centroid by squared euclidean (object-level: serializes as a
    * static reference into executor closures). */
  private[operators] def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val cv = cs(c)
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `np` nearest centroids of `v` by squared euclidean distance,
    * nearest first, ties on the lower cluster id — the one probe ranking
    * behind ivfTopK, semDedup and [[AnnIndex]]'s search and admission.
    */
  private[operators] def probe(cs: Array[Array[Double]], v: Array[Double], np: Int): Array[Int] = {
    val ds = new Array[(Double, Int)](cs.length)
    var c = 0
    while (c < cs.length) {
      val cv = cs(c)
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
      ds(c) = (d, c)
      c += 1
    }
    scala.util.Sorting.stableSort(ds)
    Array.tabulate(math.min(np, ds.length))(r => ds(r)._2)
  }

  /** Deterministic k-means coarse-quantizer training (init = the `nlist`
    * lowest vec_ids, `iters` Lloyd rounds). The Lloyd update has MAP-SIDE
    * PARTIAL AGGREGATION: each partition accumulates (cluster → sum-vector,
    * count) in flat arrays and emits ONE partial row per non-empty cluster,
    * reduced by cluster key — no task ever materializes a cluster's vectors,
    * so a 90%-of-corpus hot cluster costs the same as a balanced one (the
    * same plan shape Spark MLlib's KMeans uses). Per-iteration driver state
    * is the O(nlist·dim) centroid array — inherent to Lloyd's.
    *
    * `trainFraction < 1` trains on a deterministic sample — the 10^9+-vector
    * path: only the final assignment pass (in the caller) touches the full
    * corpus.
    */
  def ivfTrain(embeddings: DataFrame, nlist: Int, iters: Int = 3,
      trainFraction: Double = 1.0): Array[Array[Double]] = {
    trainRuns.incrementAndGet()
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e0 = prep(embeddings).select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
    val e = if (trainFraction < 1.0)
      e0.sample(withReplacement = false, trainFraction, seed = 0xC0FFEEL) else e0
    // init = the nlist lowest vec_ids (a distributed top-k, not an id-range
    // assumption — works for arbitrary/sparse id spaces)
    var centroids: Array[Array[Double]] = e0.toDF("vec_id", "emb")
      .orderBy("vec_id").limit(nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val partials = e.mapPartitions { rows =>
        val cs = bc.value
        val dim = if (cs.length > 0) cs(0).length else 0
        val sums = Array.ofDim[Double](cs.length, dim)
        val counts = new Array[Long](cs.length)
        rows.foreach { case (_, v) =>
          val c = nearest(cs, v)
          val s = sums(c)
          var i = 0
          while (i < v.length) { s(i) += v(i); i += 1 }
          counts(c) += 1
        }
        Iterator.range(0, cs.length).filter(counts(_) > 0)
          .map(c => (c, sums(c), counts(c)))
      }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val s = a._2
          var i = 0
          while (i < s.length) { s(i) += b._2(i); i += 1 }
          (a._1, s, a._3 + b._3)
        }
        .map(_._2)
        .collect() // O(nlist) rows — the legitimate small driver state
      val next = centroids.clone()
      partials.foreach { case (c, sum, n) =>
        val m = new Array[Double](sum.length)
        var i = 0
        while (i < sum.length) { m(i) = sum(i) / n; i += 1 }
        next(c) = m // empty clusters keep their old center
      }
      centroids = next
      bc.unpersist()
      it += 1
    }
    centroids
  }

  /** IVF approximate top-k: probe the `nprobe` nearest coarse clusters per
    * query, exact cosine re-rank inside them. The scale path for corpora
    * where hyperplane LSH recall is poor: clusters follow the actual data
    * geometry, and the shuffle is keyed on ≤ nlist · nprobe small cluster
    * ids. Output shape matches bruteForceTopK (recall-tested, not
    * equality — approximate by design, like lshTopK). `nHint` skips the
    * corpus-count job when the caller already knows it.
    */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10,
      nlist: Int = 0, nprobe: Int = 4, iters: Int = 3, nHint: Long = 0L,
      trainFraction: Double = 1.0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val n = if (nHint > 0) nHint else embeddings.count()
    val centroids = ivfTrain(embeddings, nlistFor(nlist, n), iters, trainFraction)
    val bcC = spark.sparkContext.broadcast(centroids)
    val assigned = prep(embeddings).select(col("vec_id"), col("emb"), col("norm"))
      .as[(Long, Array[Double], Double)]
      .map { case (id, v, norm) => IvfVec(id, nearest(bcC.value, v), v, norm) }
    val np = nprobe
    val q = assigned.filter(_.vec_id < nQueries)
      .flatMap(v => probe(bcC.value, v.emb, np).iterator.map(c => (v.vec_id, v.emb, v.norm, c)))
      .toDF("qid", "qemb", "qnorm", "cluster")
    cosineTopK(broadcast(q).join(assigned.toDF().withColumnRenamed("vec_id", "nbr_id"),
      Seq("cluster")).where(col("nbr_id") =!= col("qid")), k)
  }

  /** IVF-PQ approximate top-k (Jégou et al. 2011) — the MEMORY-scale ANN
    * path for 10⁹+ vectors: after IVF coarse assignment, each vector's
    * residual (v − centroid) is PRODUCT-QUANTIZED into `m` one-byte
    * subspace codes, so the searchable corpus is (id, cluster, m bytes)
    * instead of (id, 64 floats) — 256 B → 8 B per vector, the difference
    * between an in-memory index and not having one. Search = probe the
    * `nprobe` nearest clusters, score candidates by ADC (asymmetric
    * distance: per-query lookup table of query-residual-to-codeword
    * distances, summed over subspaces — the full vector is never touched),
    * keep a `refine`×k shortlist, then ONE id-keyed join back to the
    * embeddings table re-ranks the shortlist exactly (the standard
    * IVFPQ+refine layout: the refine join reads O(shortlist) rows, never
    * the corpus).
    *
    * Vectors are L2-NORMALIZED first so euclidean ADC ranking is monotone
    * with cosine (‖a−b‖² = 2−2·cos for unit vectors) — the brute-force
    * cosine ground truth stays the recall yardstick. Deterministic
    * end-to-end (sample init, fixed iterations, id tie-breaks); recall is
    * floor-tested like lshTopK/ivfTopK, not equality-tested. Output
    * matches bruteForceTopK: (vec_id, rank, nbr_id).
    *
    * Training, encoding and search are [[AnnIndex]]'s: with the same
    * parameters this returns the rows of [[AnnIndex.build]] +
    * [[AnnIndex.query]], keeping the code table in memory instead of the
    * catalog.
    */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10,
      nlist: Int = 0, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      iters: Int = 3, refine: Int = 4, nHint: Long = 0L): DataFrame = {
    val n = if (nHint > 0) nHint else embeddings.count()
    val unit = AnnIndex.unitVectors(embeddings)
    val model = AnnIndex.trainModel(unit, n, nlist, m, ksub, iters)
    // the COMPRESSED corpus: (vec_id, cluster, m code bytes) — full vectors
    // are dropped here; only the refine join ever sees them again
    val encoded = AnnIndex.encodeDf(unit, model)
    AnnIndex.search(embeddings, model, nQueries, k, nprobe, refine)(_ => encoded)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication — k-means the
    * embedding space into `nlist` clusters, then remove near-identical
    * vectors WITHIN each cluster (cosine ≥ `thr`), keeping the smallest
    * vec_id of every duplicate neighborhood. The clustering is what makes
    * the pairwise step tractable at 10^9+ vectors: candidate pairs exist
    * only inside a cluster, so the self-join is keyed by cluster id with
    * per-cluster populations ~n/nlist (capped at `maxCluster` — the same
    * degenerate-bucket guard as every bucketed self-join here); pairs
    * crossing a cluster boundary are missed by design — the
    * recall/tractability trade the paper makes.
    *
    * Cross-cluster recall (round-4): the paper's within-cluster search is
    * blind to a twin pair straddling a centroid boundary. The candidate
    * search here MULTI-PROBES — each vector enters its `nProbe` nearest
    * clusters (rank 0 = primary, which stays the reported assignment and
    * the keeper semantics' cluster), so a boundary pair meets in whichever
    * of the two clusters both probe. Candidate volume is bounded by
    * exactly nProbe× the single-probe assignment (spec-asserted) and the
    * per-cluster `maxCluster` cap still applies to the probed populations.
    *
    * Output: (vec_id, cluster, keep) for EVERY input vector — keep = 0 iff
    * a co-probed neighbor with cosine ≥ thr and a smaller id exists.
    * Rows-only at the oracle gate (k-means means are float — not
    * SQL-replayable); determinism + planted-duplicate kill + cluster
    * bounds are spec-pinned instead.
    */
  def semDedup(embeddings: DataFrame, thr: Double = 0.95, nlist: Int = 0,
      maxCluster: Int = 4096, iters: Int = 3, nHint: Long = 0L,
      nProbe: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val n = if (nHint > 0) nHint else embeddings.count()
    val nl = nlistFor(nlist, n)
    val np = math.max(1, math.min(nProbe, nl))
    val centroids = ivfTrain(embeddings, nl, iters)
    val bcC = spark.sparkContext.broadcast(centroids)
    // localCheckpoint materializes the probed assignment ONCE — it feeds
    // four plan branches (cluster counts, both self-join sides, the final
    // left join), which would otherwise each re-scan + re-assign
    val probed = prep(embeddings).select(col("vec_id"), col("emb"), col("norm"))
      .as[(Long, Array[Double], Double)]
      .flatMap { case (id, v, norm) =>
        probe(bcC.value, v, np).iterator.zipWithIndex.map { case (c, r) => (id, c, r, v, norm) }
      }
      .toDF("vec_id", "cluster", "rankc", "emb", "norm")
      .localCheckpoint()
    val small = probed.groupBy("cluster").agg(count(lit(1)).as("cn"))
      .where(col("cn") <= maxCluster.toLong * np).select("cluster")
    val c = probed.join(small, Seq("cluster"))
    val a = c.select(col("cluster"), col("vec_id").as("id_a"),
      col("emb").as("emb_a"), col("norm").as("norm_a"))
    val b = c.select(col("cluster"), col("vec_id").as("id_b"),
      col("emb").as("emb_b"), col("norm").as("norm_b"))
    val losers = a.join(b, Seq("cluster")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (dot("emb_a", "emb_b") / (col("norm_a") * col("norm_b"))).as("cos"))
      .where(col("cos") >= thr)
      .select(col("id_b").as("vec_id")).distinct()
    probed.where(col("rankc") === 0).select("vec_id", "cluster")
      .join(losers.withColumn("lost", lit(1)), Seq("vec_id"), "left")
      .selectExpr("vec_id", "cluster",
        "CAST(CASE WHEN lost IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep")
      .orderBy("vec_id")
  }

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine ≥ `thr`
    * among same-bucket candidates (the near-dup-by-embedding dedup operator).
    * Output is the integer pair set only (the cosine is a float whose last
    * ulp is engine-dependent; the pair SET is what downstream dedup keeps).
    * Buckets above `maxBucket` are dropped before the self-join — the same
    * degenerate-bucket O(n²) guard as Dedup.candidatePairs/simhash.
    */
  def cosineNearDups(embeddings: DataFrame, thr: Double = 0.95, maxBucket: Int = 4096,
      nHint: Long = 0L): DataFrame = {
    // plant deterministic duplicate vectors (vec_id + 1,000,000) so small SFs
    // exercise the candidate → verify path (mirrors Dedup.withPlantedDups)
    val planted = embeddings.select(col("vec_id"), col("embedding"))
      .unionAll(embeddings.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val e = bucketed(planted, autoBits(if (nHint > 0) nHint else embeddings.count()))
    val small = e.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .where(col("bn") <= maxBucket)
      .select("bucket")
    val c = e.join(small, Seq("bucket"))
    val a = c.withColumnsRenamed(Map("vec_id" -> "id_a", "emb" -> "emb_a", "norm" -> "norm_a"))
    val b = c.withColumnsRenamed(Map("vec_id" -> "id_b", "emb" -> "emb_b", "norm" -> "norm_b"))
    a.join(b, Seq("bucket")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (dot("emb_a", "emb_b") / (col("norm_a") * col("norm_b"))).as("cos"))
      .where(col("cos") >= thr)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }
}
