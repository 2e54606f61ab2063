package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental crawl-drop ingestion with exact dedup against everything
  * already committed — the production append loop: every new CC drop lands
  * as a snapshot that contains only texts the table has never seen.
  *
  * The naive cross-drop check would re-read (and re-hash) the full table
  * per drop — a 100 TB scan to admit a 1 TB drop. Instead the catalog
  * maintains a DIGEST COMPANION table (`<table>__digests`, one 16-byte md5
  * per committed row): the new drop anti-joins the companion, so the
  * cross-drop check scans O(rows·16 bytes), never page text. Within-drop
  * dedup is the usual digest groupBy (partial-agged, min doc_id keeps).
  *
  * Crash contract: data commits FIRST, companion second. A crash between
  * the two leaves the companion BEHIND the table — never ahead — so a
  * retried drop can only re-admit duplicates, never lose rows; the repair
  * is detected (companion row count < table row count) at the next append
  * and the companion is rebuilt from the table before the anti-join, which
  * restores exactness. The inverse order would silently drop never-
  * committed texts — the unrecoverable direction.
  */
object IncrementalIngest {

  /** Append `docs` (doc_id, text, …) to `table`, deduped within the drop
    * and against all prior snapshots. Returns (snapshotId, rowsAppended).
    */
  def appendDeduped(spark: SparkSession, cat: PageCatalog,
                    table: String, docs: DataFrame): (Long, Long) = {
    val digTable = table + "__digests"
    val withDig = docs.withColumn("digest", md5(col("text")))
    // within-drop: first arrival (min doc_id) per digest. The join-back side
    // is deduped on (digest, doc_id) first: a drop carrying two IDENTICAL
    // (doc_id, text) rows would otherwise fan the keeper join out and append
    // a same-snapshot exact duplicate the digest companion can never reject
    // later (it only guards ACROSS drops).
    val inDrop = withDig
      .groupBy("digest").agg(min("doc_id").as("doc_id"))
      .join(withDig.dropDuplicates("digest", "doc_id"), Seq("digest", "doc_id"))
    val fresh = cat.currentSnapshot(table) match {
      case None => inDrop
      case Some(_) =>
        repairIfBehind(spark, cat, table)
        // 16-byte column scan of the companion — never the table's text
        inDrop.join(cat.read(spark, digTable).select("digest"), Seq("digest"), "left_anti")
    }
    val staged = fresh.persist()
    val appended = staged.count()
    val snap =
      if (appended == 0) cat.currentSnapshot(table).getOrElse(0L)
      else {
        val s = cat.append(staged.drop("digest"), table) // data FIRST
        cat.append(staged.select("digest"), digTable) // companion second
        s
      }
    staged.unpersist()
    (snap, appended)
  }

  // ------------------------------------------------------------------
  // Incremental NEAR-dup ingestion (the RefinedWeb/FineWeb production
  // loop): each new crawl drop is MinHash-deduped against everything
  // already committed WITHOUT recomputing old signatures — the catalog
  // keeps a `<table>__minhash` companion (digest + k signature columns,
  // ~16 longs per committed row), so admitting a 1 TB drop against a
  // 100 TB table scans O(rows·sizeof(signature)), never old text.
  //
  // The hash family is md5-based (60-bit `conv(substr(md5(i:shingle)))`,
  // the KMV/CMS parity trick) so the WHOLE admission decision — shingles,
  // signatures, LSH band condition, match-count floor — replays bit-exactly
  // in DuckDB; at cluster scale you would swap in xxhash64 (one constant).
  //
  // Contract: cross-drop near-dups are rejected by "shares >= 1 LSH band
  // (r consecutive equal components) AND >= simFloor of k components
  // equal" against the companion; within-drop dedup stays EXACT-only (the
  // within-drop near-dup clustering problem needs connected components —
  // Dedup.dupClusters — and a drop is one dump in the FineWeb per-dump
  // convention anyway).
  // ------------------------------------------------------------------

  /** Signature width / LSH shape: k = 16 components, 4 bands of r = 4. */
  val minhashK = 16
  val minhashBands = 4

  /** (doc_id, sh) — distinct w-word shingle STRINGS per doc (strings, not
    * xxhash64 values, so the oracle can re-derive them; the md5 component
    * hash below is where they collapse to integers).
    */
  def shingleStrings(docs: DataFrame, w: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = text.split(' ')
        if (ws.length < w) Iterator((id, text))
        else ws.sliding(w).map(g => (id, g.mkString(" ")))
      }
      .toDF("doc_id", "sh")
      .distinct()
  }

  /** The i-th MinHash component hash of shingle column `sh`: a 60-bit
    * positive integer both engines compute identically.
    */
  private def h60(i: Int): String =
    s"CAST(conv(substr(md5(concat('$i:', sh)), 1, 15), 16, 10) AS BIGINT)"

  /** (doc_id, m0..m{k-1}) signatures — k partial-aggregatable mins in ONE
    * doc-keyed groupBy, the same single-shuffle shape as
    * [[graft.operators.Dedup.minhashSignatures]].
    */
  def mdSignatures(docs: DataFrame): DataFrame = {
    val aggs = (0 until minhashK).map(i => min(expr(h60(i))).as(s"m$i"))
    shingleStrings(docs).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (idCol, band, key) LSH band keys from signature columns — derived from
    * the STORED companion signatures, so the table side never re-reads text.
    */
  private def bandKeys(sig: DataFrame, idCol: String): DataFrame = {
    val r = minhashK / minhashBands
    val bands = (0 until minhashBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * r until (b + 1) * r).map(i => col(s"m$i")): _*).as("key"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
  }

  /** Append `docs` deduped exactly within the drop, then exactly AND
    * near-dup (MinHash) against all prior snapshots via the signature
    * companion. `simFloor` = minimum equal components (of [[minhashK]]);
    * `maxBucket` caps a degenerate LSH bucket's table side (the standard
    * O(n²)-candidate guard). Returns (snapshotId, rowsAppended).
    *
    * Scale shape per drop: one shingle projection + one doc-keyed signature
    * groupBy over the DROP only; one band-key equijoin drop-vs-companion
    * (signatures are 16 longs/row — the whole companion of a 10^12-row
    * table is ~128 GB spread across the cluster, joined by band key, never
    * broadcast); one component-compare per candidate pair. Old text is
    * never touched. Crash contract identical to [[appendDeduped]]: data
    * commits first, companion second, behind-repair rebuilds signatures
    * from the table.
    */
  def appendNearDeduped(spark: SparkSession, cat: PageCatalog, table: String,
                        docs: DataFrame, simFloor: Int = 12,
                        maxBucket: Int = 1024): (Long, Long) = {
    require(simFloor >= 1 && simFloor <= minhashK, s"simFloor out of range: $simFloor")
    val mhTable = table + "__minhash"
    val withDig = docs.withColumn("digest", md5(col("text")))
    val inDrop = withDig
      .groupBy("digest").agg(min("doc_id").as("doc_id"))
      .join(withDig.dropDuplicates("digest", "doc_id"), Seq("digest", "doc_id"))
    val survivors = cat.currentSnapshot(table) match {
      case None => inDrop
      case Some(_) =>
        repairMinhashIfBehind(spark, cat, table)
        val prior = cat.read(spark, mhTable)
        // exact cross-drop rejection: 16-byte digest anti-join
        val fresh = inDrop.join(prior.select("digest"), Seq("digest"), "left_anti")
        // near-dup rejection: candidates share an LSH band with a committed
        // row (bucket-capped on the table side), then the exact component
        // compare applies the simFloor
        val sigs = mdSignatures(fresh)
        val tblBands = bandKeys(prior, "digest")
        val okBuckets = tblBands.groupBy("band", "key")
          .agg(count(lit(1)).as("__bn")).where(col("__bn") <= maxBucket)
          .select("band", "key")
        val cand = bandKeys(sigs, "doc_id")
          .join(tblBands.join(okBuckets, Seq("band", "key"))
            .withColumnRenamed("digest", "__tdig"), Seq("band", "key"))
          .select("doc_id", "__tdig").distinct()
        val matchCnt = (0 until minhashK)
          .map(i => when(col(s"m$i") === col(s"t_m$i"), 1).otherwise(0))
          .reduce(_ + _)
        val tSigs = prior.select(col("digest").as("__tdig") +:
          (0 until minhashK).map(i => col(s"m$i").as(s"t_m$i")): _*)
        val rejected = cand
          .join(sigs, "doc_id")
          .join(tSigs, "__tdig")
          .where(matchCnt >= simFloor)
          .select("doc_id").distinct()
        fresh.join(rejected, Seq("doc_id"), "left_anti")
    }
    val staged = survivors.persist()
    val appended = staged.count()
    val snap =
      if (appended == 0) cat.currentSnapshot(table).getOrElse(0L)
      else {
        val s = cat.append(staged.drop("digest"), table) // data FIRST
        cat.append(staged.select("digest", "doc_id")
          .join(mdSignatures(staged), "doc_id").drop("doc_id"), mhTable)
        s
      }
    staged.unpersist()
    (snap, appended)
  }

  // ------------------------------------------------------------------
  // Incremental SEMANTIC-dup ingestion (SemDeDup across crawl drops):
  // each new drop's vectors are admitted against everything already
  // committed WITHOUT re-reading old embeddings — the catalog keeps a
  // `<table>__semantic` companion (vec_id + coarse cluster + PQ codes,
  // ~10 B per committed row, cluster-partitioned) plus the frozen
  // centroid/codebook model trained on the FIRST drop
  // (`<table>__semantic__model`). Admission per drop vector:
  //   1. multi-probe its `nprobe` nearest committed centroids — the
  //      companion read prunes to those clusters' files (one IN scan);
  //   2. ADC floor: keep candidates whose asymmetric PQ distance is
  //      within 2·(1−thr)+adcMargin (unit vectors: ‖a−b‖² = 2−2·cos, so
  //      the floor is the cosine threshold plus a quantization-error
  //      margin — generous by default: the floor only sizes the refine
  //      set, the exact compare decides, so a wide margin costs refine
  //      volume and can never change the admission answer);
  //   3. exact refine on the floored survivors only: ONE vec_id-keyed
  //      join fetches their true committed vectors (the candidate side is
  //      tiny → broadcast; old vectors are read for O(survivors) rows,
  //      never scanned for scoring).
  // Model freeze is the FAISS convention: later drops encode under the
  // first drop's geometry (re-train = rebuild, an explicit maintenance
  // op). Crash contract identical to the minhash companion: model commits
  // BEFORE data (repair must always be able to encode), data before
  // companion; a behind companion is rebuilt from the table with the
  // frozen model.
  // ------------------------------------------------------------------

  /** Append embedding rows (vec_id, embedding, …) deduped exactly within
    * the drop (identical vectors keep min vec_id) and SEMANTICALLY against
    * all prior snapshots (exact cosine ≥ `thr` vs any committed vector →
    * rejected, verified on true vectors after the PQ shortlist). Returns
    * (snapshotId, rowsAppended). `maxCluster` caps a degenerate committed
    * cluster's candidate side — the standard O(n²) guard; capped clusters
    * admit (never wrongly reject).
    */
  def appendSemDeduped(spark: SparkSession, cat: ParquetSnapshotCatalog,
      table: String, vecs: DataFrame, thr: Double = 0.95, nprobe: Int = 2,
      nlist: Int = 0, adcMargin: Double = 1.0,
      maxCluster: Int = 4096, opq: Boolean = false): (Long, Long) = {
    import spark.implicits._
    import graft.operators.{Ann, AnnIndex}
    val semTable = table + "__semantic"
    val modelTable = table + "__semantic__model"
    // within-drop: exact-vector dedup, first arrival (min vec_id) keeps —
    // the within-drop SEMANTIC clustering problem is Ann.semDedup's (batch)
    val withDig = vecs.withColumn("digest", md5(col("embedding").cast("string")))
    val inDrop = withDig
      .groupBy("digest").agg(min("vec_id").as("vec_id"))
      .join(withDig.dropDuplicates("digest", "vec_id"), Seq("digest", "vec_id"))
      .drop("digest")
    val survivors = cat.currentSnapshot(table) match {
      case None =>
        // an empty first drop commits nothing; the next drop trains
        val n = inDrop.count()
        if (n > 0) AnnIndex.commitModel(spark, cat, modelTable, // model FIRST
          AnnIndex.trainModel(AnnIndex.unitVectors(inDrop), n, nlist, 8, 16, 3, opq))
        inDrop
      case Some(_) =>
        repairSemanticIfBehind(spark, cat, table)
        val model = AnnIndex.loadModelTable(spark, cat, modelTable)
        val np = math.max(1, math.min(nprobe, model.centroids.length))
        val floor = 2.0 * (1.0 - thr) + adcMargin
        val unit = AnnIndex.unitVectors(inDrop).localCheckpoint() // probes + refine
        val probes = AnnIndex.probeDf(unit, model, np).localCheckpoint()
        val probedClusters = probes.select("qcluster").distinct()
          .as[String].collect().sorted.toSeq
        if (probedClusters.isEmpty) inDrop // an empty drop: nothing to reject
        else {
          // companion read pruned to the probed clusters; capped per cluster
          val comp = cat.scan(spark, semTable).where(col("cluster").isin(probedClusters: _*))
          val okClusters = comp.groupBy("cluster").agg(count(lit(1)).as("__cn"))
            .where(col("__cn") <= maxCluster).select("cluster")
          val shortlist = AnnIndex.scoreAdc(probes
              .join(comp.join(okClusters, Seq("cluster")).withColumnRenamed("vec_id", "nbr_id"),
                col("qcluster") === col("cluster")), model)
            .where(col("adc") <= floor)
            .select(col("qid"), col("nbr_id").as("__tid")).distinct()
          // exact refine on survivors only: the shortlist broadcasts into
          // the committed-vector fetch (table streams, O(survivors) rows
          // come back), and that SMALL result broadcasts into the drop-side
          // join — the DROP itself is never a broadcast side (a real crawl
          // drop is TBs; only shortlist-sized relations ride broadcasts)
          val committed = AnnIndex.unitVectors(cat.read(spark, table))
            .withColumnsRenamed(Map("vec_id" -> "__tid", "embedding" -> "temb"))
          val qUnit = unit.withColumnsRenamed(Map("vec_id" -> "qid", "embedding" -> "qemb2"))
          val withVecs = broadcast(shortlist).join(committed, Seq("__tid"))
          val rejected = broadcast(withVecs)
            .join(qUnit, Seq("qid"))
            .where(Ann.dot("qemb2", "temb") >= thr)
            .select(col("qid").as("vec_id")).distinct()
          inDrop.join(rejected, Seq("vec_id"), "left_anti")
        }
    }
    val staged = survivors.persist()
    val appended = staged.count()
    val snap =
      if (appended == 0) cat.currentSnapshot(table).getOrElse(0L)
      else {
        val s = cat.append(staged, table) // data FIRST
        val model = AnnIndex.loadModelTable(spark, cat, modelTable)
        val codes = AnnIndex.encodeDf(AnnIndex.unitVectors(staged), model)
        if (cat.currentSnapshot(semTable).isEmpty)
          AnnIndex.commitCodes(cat, codes, semTable, model)
        else cat.appendPartitioned(codes, semTable, nFiles = 4)
        s
      }
    staged.unpersist()
    (snap, appended)
  }

  /** Companion-behind repair for the semantic table: rebuild cluster + PQ
    * codes from the data table with the FROZEN model (one embedding scan —
    * exceptional path; the model table commits before any data, so it is
    * always present here).
    */
  def repairSemanticIfBehind(spark: SparkSession, cat: ParquetSnapshotCatalog,
      table: String): Unit = {
    import graft.operators.AnnIndex
    val semTable = table + "__semantic"
    val tableRows = cat.read(spark, table).count()
    val semRows = cat.currentSnapshot(semTable)
      .map(_ => cat.read(spark, semTable).count()).getOrElse(0L)
    if (semRows < tableRows) {
      val model = AnnIndex.loadModelTable(spark, cat, table + "__semantic__model")
      AnnIndex.commitCodes(cat,
        AnnIndex.encodeDf(AnnIndex.unitVectors(cat.read(spark, table)), model),
        semTable, model)
    }
  }

  /** Companion-behind repair for the signature table: rebuild digests AND
    * signatures from the data table (one text scan — exceptional path).
    */
  def repairMinhashIfBehind(spark: SparkSession, cat: PageCatalog, table: String): Unit = {
    val mhTable = table + "__minhash"
    val tableRows = cat.read(spark, table).count()
    val mhRows = cat.currentSnapshot(mhTable)
      .map(_ => cat.read(spark, mhTable).count()).getOrElse(0L)
    if (mhRows < tableRows) {
      val d = cat.read(spark, table)
      cat.commit(d.select(md5(col("text")).as("digest"), col("doc_id"))
        .join(mdSignatures(d), "doc_id").drop("doc_id"), mhTable)
    }
  }

  /** Companion-behind repair: a crash between the two commits leaves the
    * digest table short; rebuild it from the data table (one hashing scan —
    * the exceptional path, not the steady state).
    */
  def repairIfBehind(spark: SparkSession, cat: PageCatalog, table: String): Unit = {
    val digTable = table + "__digests"
    val tableRows = cat.read(spark, table).count()
    val digRows = cat.currentSnapshot(digTable)
      .map(_ => cat.read(spark, digTable).count()).getOrElse(0L)
    if (digRows < tableRows)
      cat.commit(cat.read(spark, table).select(md5(col("text")).as("digest")), digTable)
  }
}
