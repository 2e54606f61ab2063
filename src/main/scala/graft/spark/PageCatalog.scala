package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.{CatalogFileWrite, SessionHadoopConf, WrittenFile}

/** Iceberg-semantics table emulation over parquet: immutable snapshots, each
  * committed by an atomic pointer swap. No Iceberg runtime jar ships in this
  * sandbox (/opt/spark/jars has none — SURVEY.md §2.3), so the catalog is a
  * trait; `iceberg-spark-runtime` drops in behind the same calls via config
  * when available.
  *
  * Layout:  <root>/data/snap-<id>/part-*.parquet   (or batch-<id>/ for streams)
  *          <root>/_manifests/m<N>.json      (DELTA manifest: only snapshot
  *                                            N's new files — O(delta) bytes)
  *          <root>/_manifests/v<N>.json      (MANIFEST LIST: one entry per
  *                                            delta manifest / delete file)
  *          <root>/_manifests/d<N>.<col>.tsv (equality-delete file: values
  *                                            of <col> removed at snapshot N)
  *          <root>/_manifests/CURRENT        (atomic pointer)
  *
  * The two-level metadata (manifest list → delta manifests) is Iceberg's:
  * an append writes O(delta) file paths plus O(#manifests) small refs, never
  * the table's full file list — at 10^5 incremental crawl-drop commits the
  * old flat-manifest shape was O(n²) metadata bytes and is gone. Manifest-
  * list entries are one of:
  *   `@m<N>.json`        delta-manifest ref (expanded to its file list)
  *   `!d<N>.<col>.tsv`   equality-delete ref (the scan drops its keys)
  *   anything else       a raw data-file path (legacy flat manifests keep
  *                       reading — migration is implicit)
  *
  * ALL metadata I/O goes through `org.apache.hadoop.fs.FileSystem`, so any
  * Hadoop-addressable store (hdfs://, s3a://, file:/) works. The ONLY two
  * places that need stronger-than-PUT semantics are isolated and overridable:
  * [[atomicCreateNew]] (the snapshot-id CAS) and [[atomicSwap]] (the CURRENT
  * pointer commit). Defaults: O_EXCL create / POSIX rename for file:, and
  * FileContext create-no-overwrite / rename-OVERWRITE elsewhere (atomic on
  * HDFS). An eventually-consistent object store must override them with its
  * conditional-PUT primitive — exactly the contract Iceberg pushes onto its
  * catalog layer.
  */
trait PageCatalog {
  def read(spark: SparkSession, table: String): DataFrame
  def commit(df: DataFrame, table: String): Long
  /** Iceberg fast-append: the new snapshot = previous manifests + one delta
    * manifest — metadata-only on the existing data, no rewrite. */
  def append(df: DataFrame, table: String): Long
  def currentSnapshot(table: String): Option[Long]
}

/** Where a commit's delta lands: a replace snapshot, a fast-append to
  * CURRENT, an exactly-once streaming batch, or a fast-append to a branch
  * head. */
sealed trait WriteMode
object WriteMode {
  case object Overwrite extends WriteMode
  case object Append extends WriteMode
  final case class Batch(id: Long) extends WriteMode
  final case class Branch(name: String) extends WriteMode
}

/** What one commit records beside its data files
  * ([[ParquetSnapshotCatalog.commitFiles]]):
  *   - `stats`: zone-map stats as (sidecar name, SQL) pairs, each file's
  *     `__count` with them — `Some(Nil)` records counts only, `None` writes
  *     no stats sidecar;
  *   - `blooms`: the (column, bits) bloom sidecars;
  *   - `hll` / `dd`: the column whose cumulative sketch rolls forward;
  *   - `part`: the partition transform — its per-file bounds lead the
  *     stats and an overwrite declares it; with `nFiles` > 0 the write
  *     clusters rows into that many tasks by it (range-clustered, or with
  *     `exact` hash-clustered and sorted, one transform value per file);
  *   - `upsertKey`: an equality delete (column, keys) in the same snapshot.
  */
final case class WriteSpec(mode: WriteMode = WriteMode.Overwrite,
    stats: Option[Seq[(String, String)]] = None, blooms: Seq[(String, Int)] = Nil,
    hll: Option[String] = None, dd: Option[String] = None,
    part: Option[PartTransform] = None, nFiles: Int = 0, exact: Boolean = false,
    upsertKey: Option[(String, Seq[String])] = None) {
  def statExprs: Seq[(String, String)] =
    part.map(p => (p.statName, p.sparkExprSql)).toSeq ++ stats.getOrElse(Nil)
}

class ParquetSnapshotCatalog(root: String) extends PageCatalog {
  import ParquetSnapshotCatalog.{escStat, normFile, pathOf, posTombstoneLine}

  // ------------------------------------------------------------------
  // Hadoop-FS I/O layer, over the active session's Hadoop conf (its
  // `spark.hadoop.*` settings; the default configuration only when no
  // session exists). One private FileSystem instance per scheme
  // (FileSystem.newInstance, NOT the process-wide cache) so disabling
  // checksum sidecars here cannot leak into other components' fs handles.
  // ------------------------------------------------------------------
  private lazy val conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(SessionHadoopConf(_)).getOrElse(SessionHadoopConf.withLocalFs(new Configuration()))
  private val fsCache = scala.collection.mutable.Map.empty[String, FileSystem]

  private def fsOf(p: HPath): FileSystem = synchronized {
    val u = p.toUri
    val key = Option(u.getScheme).getOrElse("") + "//" + Option(u.getAuthority).getOrElse("")
    fsCache.getOrElseUpdate(key, {
      val f = FileSystem.newInstance(u, conf)
      f.setWriteChecksum(false); f.setVerifyChecksum(false)
      f
    })
  }

  private def isLocal(p: HPath): Boolean = {
    val s = p.toUri.getScheme; s == null || s == "file"
  }

  private def pathStr(p: HPath): String = pathOf(p.toString)

  private def readStr(p: HPath): String = {
    val in = fsOf(p).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def writeStr(p: HPath, s: String): Unit = writeBytes(p, s.getBytes(UTF_8))

  private def writeBytes(p: HPath, b: Array[Byte]): Unit = {
    val out = fsOf(p).create(p, true)
    try out.write(b) finally out.close()
  }

  private def fsExists(p: HPath): Boolean = fsOf(p).exists(p)
  private def fsDelete(p: HPath): Unit = { val f = fsOf(p); if (f.exists(p)) f.delete(p, false) }
  /** Same-filesystem move (staged tombstones → manifest dir). Plain rename,
    * not the atomic-swap primitive: the file only becomes visible to readers
    * through the manifest list committed after it, so atomicity rides the
    * CURRENT swap as with every other ref. */
  private def fsRename(src: HPath, dest: HPath): Unit =
    require(fsOf(src).rename(src, dest), s"rename $src -> $dest failed")
  private def listNames(dir: HPath): Seq[String] = {
    val f = fsOf(dir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
  }

  /** Atomic create-if-absent — the optimistic-concurrency primitive (claims,
    * batch markers). file:/ uses O_EXCL via java.nio (LocalFileSystem's
    * create(overwrite=false) is check-then-act, not atomic); other schemes
    * use FileContext CREATE without overwrite (atomic on HDFS). Object
    * stores MUST override with a conditional PUT (If-None-Match). Returns
    * true iff this call created the file.
    */
  protected def atomicCreateNew(p: HPath): Boolean =
    if (isLocal(p)) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath),
          Array.empty[Byte], java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
          org.apache.hadoop.fs.Options.CreateOpts.createParent()).close()
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }

  /** Atomic replace-rename — the CURRENT pointer commit. file:/ uses POSIX
    * rename(2) via java.nio; other schemes use FileContext rename-OVERWRITE
    * (atomic on HDFS). Object stores without atomic rename MUST override
    * (e.g. a versioned conditional PUT of the pointer object).
    */
  protected def atomicSwap(tmp: HPath, dest: HPath): Unit =
    if (isLocal(tmp)) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  // ------------------------------------------------------------------
  // Metadata model: manifest lists, delta manifests, delete files.
  // ------------------------------------------------------------------
  private def manifestDir(table: String): HPath = new HPath(root, table + "/_manifests")

  override def currentSnapshot(table: String): Option[Long] = {
    val cur = new HPath(manifestDir(table), "CURRENT")
    // line 1 = the pointer; trailing lines are the bounded metadata log
    if (fsExists(cur)) Some(readStr(cur).linesIterator.next().trim.toLong) else None
  }

  // ------------------------------------------------------------------
  // Metadata log (Iceberg's metadata-log shape, bounded): every CURRENT
  // swap — commit OR rollback — appends a (made_current_at, snapshot)
  // entry to the pointer file itself, capped at the most recent
  // [[ParquetSnapshotCatalog.HistoryMax]] entries so the per-commit
  // metadata write stays O(K) regardless of table age. Lineage is
  // ADVISORY: an unlocked concurrent swap keeps last-writer-wins
  // semantics for the log exactly as for the pointer.
  // ------------------------------------------------------------------

  /** The new CURRENT content: pointer line + bounded history. */
  private def currentWithHistory(table: String, snap: Long): String = {
    val cur = new HPath(manifestDir(table), "CURRENT")
    val prev =
      if (fsExists(cur)) readStr(cur).linesIterator.drop(1).filter(_.startsWith("h\t")).toSeq
      else Seq.empty
    val entries = (prev :+ s"h\t${System.currentTimeMillis()}\t$snap")
      .takeRight(ParquetSnapshotCatalog.HistoryMax)
    (snap.toString +: entries).mkString("\n")
  }

  /** The table's CURRENT-swap lineage, oldest first: (made_current_at ms,
    * snapshot). A rollback appends a NEW entry re-pointing at the old
    * snapshot — exactly how a reader discovers "the table was rolled back",
    * which plain snapshot listings cannot show. Pre-log tables answer empty
    * until their next swap.
    */
  def history(table: String): Seq[(Long, Long)] = {
    val cur = new HPath(manifestDir(table), "CURRENT")
    if (!fsExists(cur)) Seq.empty
    else readStr(cur).linesIterator.drop(1).collect {
      case l if l.startsWith("h\t") =>
        val p = l.split('\t'); (p(1).toLong, p(2).toLong)
    }.toSeq
  }

  /** The `table$history` metadata table: (made_current_at, snapshot,
    * is_current) — one row per CURRENT swap retained in the bounded log. */
  def historyDF(spark: SparkSession, table: String): DataFrame = {
    val cur = currentSnapshot(table)
    val h = history(table)
    val rows = h.zipWithIndex.map { case ((ts, s), i) =>
      (new java.sql.Timestamp(ts), s, i == h.length - 1 && cur.contains(s))
    }
    spark.createDataFrame(rows).toDF("made_current_at", "snapshot", "is_current")
  }

  private def parseJsonArray(s: String): Seq[String] =
    s.split('\n').map(_.trim.stripPrefix("[").stripSuffix("]")
      .stripPrefix("\"").stripSuffix(",").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq

  /** Raw manifest-list entries of a snapshot (refs + legacy paths). */
  private def entriesOf(table: String, snap: Long): Seq[String] =
    parseJsonArray(readStr(new HPath(manifestDir(table), s"v$snap.json")))

  /** The snapshot's data-file list: manifest-list entries with `@` refs
    * expanded, `!` delete refs skipped, legacy raw paths passed through.
    * `.distinct` makes a double-committed delta (zombie-writer replay of a
    * streaming batch) harmless: the same file can never be scanned twice.
    */
  protected def manifestFiles(table: String, snap: Long): Seq[String] =
    entriesOf(table, snap).flatMap { e =>
      if (e.startsWith("@")) parseJsonArray(readStr(new HPath(manifestDir(table), e.stripPrefix("@"))))
      else if (e.startsWith("!")) Nil
      else Seq(e)
    }.distinct

  private def deleteRefsOf(table: String, snap: Long): Seq[String] =
    entriesOf(table, snap).filter(_.startsWith("!")).map(_.stripPrefix("!"))

  /** The snapshot's (data file, add order) pairs — a file's add order is its
    * delta manifest's snapshot id (m<K>.json → K); legacy raw-path entries
    * predate ordering and get 0, so every delete applies to them. This is
    * the scan's planning surface: add order is what decides which equality
    * deletes apply to which file (the Iceberg sequence-number rule).
    */
  def filesWithAddOrder(table: String, snap: Long): Seq[(String, Long)] =
    entriesOf(table, snap).flatMap { e =>
      if (e.startsWith("@")) {
        val k = addOrderOfId(e.stripPrefix("@m").stripSuffix(".json"))
        parseJsonArray(readStr(new HPath(manifestDir(table), e.stripPrefix("@")))).map(_ -> k)
      } else if (e.startsWith("!")) Nil
      else Seq(e -> 0L)
    }.distinctBy(_._1)

  /** Effective add order of a manifest id: `m<K>.json` → K;
    * a consolidated manifest `m<K>-<snap>.json` (see [[rewriteManifests]])
    * keeps the MERGED GROUP's smallest add order as its digits prefix.
    */
  private def addOrderOfId(id: String): Long = id.takeWhile(_.isDigit).toLong

  /** The (data file, add order) pairs ADDED in (fromSnap, toSnap] — the
    * incremental window's file plan, O(delta) metadata (entry-list diff
    * first; only delta manifests new to the window expand). Refuses
    * rewrite-crossing windows exactly like [[readIncremental]] (whose file
    * planning this IS); `fromSnap` must be a committed snapshot > 0.
    */
  def incrementalFilesWithAddOrder(table: String, fromSnap: Long,
                                   toSnap: Long): Seq[(String, Long)] = {
    require(fromSnap > 0, s"incremental plan needs fromSnap > 0, got $fromSnap")
    require(fsExists(new HPath(manifestDir(table), s"v$fromSnap.json")),
      s"no snapshot $fromSnap for $table")
    require(fsExists(new HPath(manifestDir(table), s"v$toSnap.json")),
      s"no snapshot $toSnap for $table")
    val fromEntries = entriesOf(table, fromSnap).toSet
    val toEntries = entriesOf(table, toSnap)
    val gone = fromEntries -- toEntries.toSet
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"incremental window ($fromSnap, $toSnap] of '$table' crosses a rewrite " +
        s"(compaction/expire/rollback) — ${gone.size} entries of $fromSnap are gone; " +
        "read the full snapshot instead")
    val newPairs = toEntries.filterNot(fromEntries).flatMap { e =>
      if (e.startsWith("@")) {
        val k = addOrderOfId(e.stripPrefix("@m").stripSuffix(".json"))
        parseJsonArray(readStr(new HPath(manifestDir(table), e.stripPrefix("@")))).map(_ -> k)
      } else if (e.startsWith("!")) Nil
      else Seq(e -> 0L)
    }.distinctBy(_._1)
    // two-level tables need no cross-check (delta-manifest file paths are
    // snapshot-addressed, so a file cannot appear under two entries); only
    // legacy flat manifests — raw paths in the entry list — can overlap,
    // and only they pay the O(table) expansion of `fromSnap`
    if (fromEntries.exists(e => !e.startsWith("@") && !e.startsWith("!")))
      newPairs.filterNot(p => manifestFiles(table, fromSnap).toSet(p._1))
    else newPairs
  }

  /** The snapshot's equality deletes as (delete snapshot, column, keys),
    * ascending by delete snapshot — the other half of the scan plan a
    * non-Spark reader (the DSv2 streaming source's per-file readers) needs
    * to apply the sequence rule itself.
    */
  def equalityDeletes(table: String, snap: Long): Seq[(Long, String, Seq[String])] =
    deleteRefsOf(table, snap).filter(_.startsWith("d")).map { ref =>
      val head = ref.stripPrefix("d").split('.')
      (head(0).toLong, head(1),
        readStr(new HPath(manifestDir(table), ref))
          .split('\n').filter(_.nonEmpty).flatMap(unescStat).toSeq)
    }.sortBy(_._1)

  /** Write delta `id`'s manifest (its own new files only) and
    * return the manifest-list entry referencing it. */
  private def writeDeltaManifest(table: String, id: String, files: Seq[String]): String = {
    val body = files.distinct.sorted.map(f => "\"" + f + "\"").mkString("[\n", ",\n", "\n]")
    writeStr(new HPath(manifestDir(table), s"m$id.json"), body)
    s"@m$id.json"
  }

  /** Write delta `id`'s manifest with its sidecars — the stats and bloom
    * lines of `spec` and the schema its files were written with — and
    * return the manifest-list entry. Every sidecar lands before a pointer
    * can reference the delta. */
  private def writeDelta(table: String, id: String, files: Seq[WrittenFile],
                         spec: WriteSpec): String = {
    val dir = manifestDir(table)
    if (spec.stats.isDefined || spec.part.isDefined)
      writeStr(new HPath(dir, s"m$id.stats.tsv"), statsBody(files))
    spec.blooms.foreach { case (c, _) =>
      writeStr(new HPath(dir, s"m$id.bloom.$c.tsv"), bloomBody(files, c))
    }
    files.map(_.schema).distinct.reduceOption(mergeTypes(table)(_, _).asInstanceOf[StructType])
      .foreach(sc => writeStr(new HPath(dir, s"m$id.schema"), sc.json))
    writeDeltaManifest(table, id, files.map(_.path))
  }

  /** The sidecar files delta `m<id>.json` owns: its stats, bloom and
    * schema files, among the manifest directory's `names`. */
  private def deltaSidecars(names: Seq[String], id: String): Seq[String] =
    names.filter(n => n == s"m$id.stats.tsv" || n == s"m$id.schema" ||
      (n.startsWith(s"m$id.bloom.") && n.endsWith(".tsv")))

  /** The stats sidecar lines of `files`: each stat's bounds for a file
    * with rows (`\N` for a stat with no non-null value), then its
    * `__count` — what makes `COUNT(*)` a metadata-only answer. */
  private def statsBody(files: Seq[WrittenFile]): String =
    files.flatMap { f =>
      (if (f.rows > 0) f.bounds.map { case (c, lo, hi) =>
        s"${f.path}\t$c\t${escStat(lo.orNull)}\t${escStat(hi.orNull)}" } else Nil) :+
        s"${f.path}\t__count\t${f.rows}\t${f.rows}"
    }.mkString("", "\n", "\n")

  /** The bloom sidecar lines of `files` for `col`: base64-packed bitsets. */
  private def bloomBody(files: Seq[WrittenFile], col: String): String = {
    val enc = java.util.Base64.getEncoder
    files.flatMap(f => f.blooms.collect { case (c, bits, bs) if c == col =>
      s"${f.path}\t$bits\t${enc.encodeToString(bs)}" }).mkString("", "\n", "\n")
  }

  /** Commit snapshot `snap` with the given manifest-list entries: write the
    * list, swap CURRENT atomically, GC this snapshot's id claim. Readers
    * never observe a partial commit — the list and every ref in it are fully
    * written before the pointer moves.
    */
  /** Write snapshot `snap`'s manifest list and GC its id claim WITHOUT
    * moving any pointer — the shared half of committing to CURRENT
    * ([[commitSnapshot]]) and committing to a branch head.
    */
  private def writeManifestList(table: String, snap: Long, entries: Seq[String]): Unit = {
    val dir = manifestDir(table)
    fsOf(dir).mkdirs(dir)
    writeStr(new HPath(dir, s"v$snap.json"),
      entries.map(e => "\"" + e + "\"").mkString("[\n", ",\n", "\n]"))
    // claim GC: the manifest now exists, so snapshots() covers this id for
    // future claimers — the marker has done its job
    fsDelete(new HPath(dir, s".claim-v$snap"))
  }

  private def commitSnapshot(table: String, snap: Long, entries: Seq[String]): Unit = {
    writeManifestList(table, snap, entries)
    val dir = manifestDir(table)
    val tmp = new HPath(dir, s".CURRENT.tmp$snap")
    writeStr(tmp, currentWithHistory(table, snap))
    atomicSwap(tmp, new HPath(dir, "CURRENT"))
  }

  /** The current snapshot, pinned: the relation keeps reading the snapshot
    * that was CURRENT when `read` was called, whatever commits follow. */
  override def read(spark: SparkSession, table: String): DataFrame = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    readSnapshot(spark, table, snap)
  }

  /** The table as the `graft-catalog` DSv2 relation — the one read path:
    * every catalog read ([[read]], time travel, incremental, changelog,
    * compaction) is this relation. `snapshot` pins a retained snapshot
    * (default: CURRENT at planning, which also lets metadata answer
    * `COUNT(*)`/`MIN`/`MAX` and storage-partitioned joins), and `after` > 0
    * keeps only the files added in (after, snapshot]. Equality, `IN`,
    * range and prefix filters written over it push down to
    * [[graft.sources.CatalogScan]], which opens only the files that zone
    * maps, bloom sidecars and every partition-spec era on the column cannot
    * rule out; Spark re-applies the filter row-level and pending deletes of
    * every kind apply. Every file decodes through Spark's vectorized
    * parquet reader, nested columns (arrays, structs) included.
    */
  def scan(spark: SparkSession, table: String, snapshot: Long = -1L,
           after: Long = 0L): DataFrame = {
    val r = spark.read.format("graft-catalog").option("root", root).option("table", table)
    val pinned = if (snapshot > 0) r.option("snapshot", snapshot) else r
    (if (after > 0) pinned.option("startSnapshot", after) else pinned).load()
  }

  /** Concurrent-writer commit mutex. Every snapshot-producing operation
    * that BUILDS ON the previous manifest list (append, appendBatch,
    * deleteWhere, upsertByKey, the sidecar appends) reads prev entries and
    * then swaps CURRENT — two simultaneous writers would both build on the
    * same parent and the later swap would silently orphan the earlier
    * commit (a lost update; Iceberg closes the same window with its
    * catalog CAS + manifest-merge retry). Writers serialize on an atomic
    * lock file around the METADATA section only — data files are written
    * BEFORE acquisition, so the slow part stays fully parallel and the
    * critical section is milliseconds of manifest I/O. A crashed holder's
    * lock expires (`commitLockTimeoutMs`) and is taken over; the delete +
    * re-create race resolves through atomicCreateNew (one winner).
    */
  protected def commitLockTimeoutMs: Long = 60000L
  private def withCommitLock[T](table: String)(body: => T): T = {
    val dir = manifestDir(table)
    fsOf(dir).mkdirs(dir)
    val lock = new HPath(dir, ".commit.lock")
    var acquired = false
    while (!acquired) {
      if (atomicCreateNew(lock)) {
        writeStr(lock, System.currentTimeMillis.toString)
        acquired = true
      } else {
        val age =
          try System.currentTimeMillis - readStr(lock).trim.toLong
          catch { case _: Exception => 0L } // empty/missing → treat as fresh
        if (age > commitLockTimeoutMs) fsDelete(lock)
        else Thread.sleep(20)
      }
    }
    try body finally fsDelete(lock)
  }

  override def commit(df: DataFrame, table: String): Long = write(df, table, WriteSpec()).get

  override def append(df: DataFrame, table: String): Long =
    write(df, table, WriteSpec(WriteMode.Append)).get

  /** The one data-writing commit: run the catalog's writer over `df`, then
    * [[commitFiles]] what its tasks recorded. Data files land BEFORE the
    * commit lock, under a directory keyed by the claimed snapshot id (or by
    * the batch id, so a replayed batch overwrites its orphaned data). None
    * when the batch was already committed.
    */
  private def write(df: DataFrame, table: String, spec: WriteSpec): Option[Long] = {
    val (claimed, dir) = spec.mode match {
      case WriteMode.Batch(id) if batchReplay(table, id) => return None
      case WriteMode.Batch(id) => (0L, s"batch-$id")
      case _ => val snap = claimSnapshotId(table); (snap, s"snap-$snap")
    }
    val files = writeFiles(df, new HPath(root, s"$table/data/$dir"), spec)
    require(files.nonEmpty, s"write to '$table': empty input")
    commitFiles(files, table, spec, claimed)
  }

  /** Run [[CatalogFileWrite]] over `df` into `dir` — one writer task per
    * partition of `df`, after clustering by the spec's partition transform —
    * and return what each written file recorded. As with `df.write.parquet`,
    * a task without rows writes no file, except partition 0 of an unrolled
    * write, so an empty frame still commits one readable file.
    */
  private def writeFiles(df: DataFrame, dir: HPath, spec: WriteSpec): Seq[WrittenFile] = {
    import org.apache.spark.sql.functions.{col, expr}
    val spark = df.sparkSession
    // hidden means hidden: the clustering survives the narrow projection
    // that drops the key, the schema never carries the partition value
    val data = spec.part.filter(_ => spec.nFiles > 0).fold(df) { p =>
      val keyed = df.withColumn("__graft_part", expr(p.sparkExprSql))
      (if (spec.exact)
        keyed.repartition(spec.nFiles, col("__graft_part")).sortWithinPartitions("__graft_part")
      else keyed.repartitionByRange(spec.nFiles, col("__graft_part"))).drop("__graft_part")
    }
    fsOf(dir).delete(dir, true)
    val w = CatalogFileWrite(spark, data.schema, pathStr(dir), spec.statExprs, spec.blooms,
      spec.hll, spec.dd, rollOn = spec.exact)
    val rdd = data.queryExecution.toRdd
    val parts = if (rdd.getNumPartitions > 0) rdd
      else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    parts.mapPartitionsWithIndex((i, rows) => Iterator(w.run(i, rows))).collect()
      .toSeq.flatMap(_.files).sortBy(_.path)
  }

  /** The one commit: turn written files into a snapshot under the commit
    * lock. Before any pointer moves it writes the delta manifest with its
    * stats, bloom and schema sidecars, the upsert's equality delete, the
    * rolled-forward HLL/DD sketches and (for an overwrite) the declared
    * partition spec; then the manifest list and CURRENT — or the branch
    * head — and last the batch marker. `claimed` is a snapshot id the
    * caller already claimed (0: claim one here). None when the batch was
    * already committed (a replay).
    */
  private[graft] def commitFiles(files: Seq[WrittenFile], table: String, spec: WriteSpec,
                                 claimed: Long = 0L): Option[Long] = withCommitLock(table) {
    val replay = spec.mode match {
      case WriteMode.Batch(id) => batchReplay(table, id)
      case _ => false
    }
    if (replay) None
    else {
      val snap = if (claimed > 0) claimed else claimSnapshotId(table)
      val dir = manifestDir(table)
      val base = spec.mode match {
        case WriteMode.Overwrite => None
        case WriteMode.Branch(name) => Some(branchHead(table, name).getOrElse(
          throw new IllegalArgumentException(s"no branch '$name' on $table")))
        case _ => currentSnapshot(table)
      }
      val del = spec.upsertKey.map { case (c, keys) =>
        writeStr(new HPath(dir, s"d$snap.$c.tsv"), keys.map(escStat).mkString("", "\n", "\n"))
        s"!d$snap.$c.tsv"
      }
      val delta = writeDelta(table, snap.toString, files, spec)
      // a cumulative sketch rolls forward only along an unbroken chain: no
      // base snapshot, or one that carries the sidecar
      spec.hll.foreach { c =>
        val prev = base.map(readHllSidecar(table, _, c))
        if (!prev.contains(None)) {
          val regs = (prev.flatten.toSeq ++ files.flatMap(_.hll))
            .reduceOption((a, b) => a.zip(b).map { case (x, y) => math.max(x, y) })
            .getOrElse(new Array[Long](graft.operators.Sketch.hllM))
          val bb = java.nio.ByteBuffer.allocate(regs.length * 8)
          bb.asLongBuffer().put(regs)
          writeBytes(new HPath(dir, s"v$snap.hll.$c.bin"), bb.array())
        }
      }
      spec.dd.foreach { c =>
        val prev = base.map(readDdSidecar(table, _, c))
        if (!prev.contains(None)) {
          val hist = (prev.flatten.toSeq.flatten ++ files.flatMap(_.dd))
            .groupMapReduce(_._1)(_._2)(_ + _)
          writeStr(new HPath(dir, s"v$snap.dd.$c.tsv"),
            hist.toSeq.sorted.map { case (k, n) => s"$k\t$n" }.mkString("", "\n", "\n"))
        }
      }
      if (spec.mode == WriteMode.Overwrite)
        spec.part.foreach(p => putMeta(table, "partition.spec", p.render))
      val entries = base.map(entriesOf(table, _)).getOrElse(Nil) ++ del :+ delta
      spec.mode match {
        case WriteMode.Branch(name) =>
          writeManifestList(table, snap, entries)
          putMeta(table, s"branch.$name", snap.toString)
        case _ => commitSnapshot(table, snap, entries)
      }
      // the marker LAST: it asserts "committed", so it must never exist
      // without the manifest (the reverse self-heals in batchCommitted)
      spec.mode match {
        case WriteMode.Batch(id) => writeStr(batchMarker(table, id), "")
        case _ => ()
      }
      Some(snap)
    }
  }

  /** Optimistic snapshot-id claim: atomically create a claim marker so two
    * concurrent committers can never write the same manifest version (the
    * Iceberg-catalog CAS, filesystem edition). Claims are separate from
    * manifests, so a half-done commit is invisible to readers and time
    * travel; [[commitSnapshot]] deletes the claim once its manifest lands,
    * keeping the directory O(in-flight commits), not O(history).
    */
  private def claimSnapshotId(table: String): Long = {
    val dir = manifestDir(table)
    fsOf(dir).mkdirs(dir)
    val claimed = listNames(dir).filter(_.startsWith(".claim-v"))
      .map(_.stripPrefix(".claim-v").toLong)
    var snap = (snapshots(table) ++ claimed :+ 0L).max + 1L
    while (!atomicCreateNew(new HPath(dir, s".claim-v$snap"))) snap += 1L
    snap
  }

  /** Iceberg-style TIME TRAVEL: read the table as of a past snapshot.
    * Manifest lists are immutable, so every committed version stays
    * addressable (until expired); equality deletes committed at or before
    * `snap` are applied, later ones are not — a pre-takedown snapshot still
    * reads complete.
    */
  def readSnapshot(spark: SparkSession, table: String, snap: Long): DataFrame =
    scan(spark, table, snapshot = snap)

  /** Iceberg-style INCREMENTAL (changelog) scan: the rows ADDED strictly
    * after `fromSnap`, up to and including `toSnap` (default CURRENT) — the
    * "process only the new crawl drops" read that turns a daily downstream
    * pipeline from O(table) to O(delta). Planning is O(delta) metadata: the
    * two snapshots' manifest-LIST entries diff first and only the delta
    * manifests new to the window expand.
    *
    * Contract (Iceberg's own incremental-scan rule): the window must
    * contain only appends/deletes — a compaction, expiry or rollback
    * REWRITES the entry list, which would make old rows reappear as "new";
    * such windows are detected (an entry of `fromSnap` missing at `toSnap`)
    * and refused loudly. Equality deletes committed at or before `toSnap`
    * are applied with the same sequence rule as a full read, so a takedown
    * never resurfaces through the changelog; a delete-only window yields 0
    * rows. `fromSnap <= 0` bootstraps with the full snapshot. The rows have
    * `toSnap`'s schema.
    */
  def readIncremental(spark: SparkSession, table: String, fromSnap: Long,
                      toSnap: Long = -1L): DataFrame = {
    val to = if (toSnap > 0) toSnap else currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    // planned here as well as in the scan, so a rewrite-crossing window is
    // refused by this call, not by the first action on its result
    if (fromSnap > 0) incrementalFilesWithAddOrder(table, fromSnap, to)
    scan(spark, table, snapshot = to, after = fromSnap)
  }

  /** The DELETE side of the changelog, completing [[readIncremental]]'s
    * insert feed: equality-delete keys committed in (fromSnap, toSnap] as
    * (del_column, del_key) rows — what a downstream mirror applies to its
    * own state (a takedown must propagate; emitting the deleted ROWS would
    * require re-reading data the tombstone exists to avoid touching).
    * O(new tombstones) metadata, zero data files. An upsert window emits
    * its keys here AND its fresh captures through readIncremental — apply
    * deletes first, then inserts, and the mirror converges.
    */
  def deletedInWindow(spark: SparkSession, table: String, fromSnap: Long,
                      toSnap: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val to = if (toSnap > 0) toSnap else currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val fromEntries =
      if (fromSnap <= 0) Set.empty[String]
      else entriesOf(table, fromSnap).toSet
    val winRefs = entriesOf(table, to).filterNot(fromEntries)
      .filter(_.startsWith("!")).map(_.stripPrefix("!"))
    // positional deletes are PHYSICAL (file, ordinal) facts about THIS
    // table's layout — a mirror has its own layout and cannot apply them,
    // so a key feed over such a window would silently under-delete. Refuse
    // (the compaction-crossing refusal precedent): compact the source
    // first, or re-sync the mirror from the full snapshot.
    require(!winRefs.exists(r => r.startsWith("p") || r.startsWith("x")),
      s"delete window ($fromSnap, $to] of '$table' contains positional deletes, " +
      "which have no key representation — compact the source table first")
    val rows = winRefs
      .flatMap { ref =>
        val column = ref.stripPrefix("d").split('.')(1)
        readStr(new HPath(manifestDir(table), ref))
          .split('\n').filter(_.nonEmpty).flatMap(unescStat)
          .map(k => (column, k))
      }
    spark.createDataFrame(
      if (rows.isEmpty) Seq(("", "")) else rows).toDF("del_column", "del_key")
      .where(if (rows.isEmpty) lit(false) else lit(true))
  }

  /** The UNIFIED net-changes CDC read (Iceberg `create_changelog_view`
    * parity) over (fromSnap, toSnap]: one frame with the row's full schema
    * plus an `op` column —
    *
    *   - op='insert': the window's surviving net inserts (exactly
    *     [[readIncremental]]'s feed — a row inserted AND deleted within the
    *     window never appears);
    *   - op='delete': the PRE-IMAGE rows the window's equality deletes
    *     removed — the fromSnap-visible rows matching the window's tombstone
    *     keys. A consumer that needs full deleted rows (audit trail,
    *     downstream index removal, embedding-store eviction) gets them here;
    *     one that only needs keys keeps the cheaper [[deletedInWindow]].
    *
    * A delete keyed on a column dropped since has no values left to match;
    * its pre-images are the fromSnap rows the window removed (by file and
    * ordinal) that no visible key column's delete already emits, without
    * the dropped column.
    *
    * Replay contract: a mirror holding snapshot fromSnap that applies the
    * delete rows (by their key) then the insert rows converges to toSnap —
    * an upsert window emits its old captures as deletes and its fresh ones
    * as inserts. A key tombstoned but absent at fromSnap (inserted and
    * removed inside the window, or never present) correctly emits no
    * pre-image.
    *
    * Cost shape at 100 TB: the insert side is O(delta) planning + O(drop)
    * data; the delete side is a scan of fromSnap filtered on the tombstone
    * key range, which the scan prunes to the files whose zone maps overlap
    * it (when the stats sidecar exists — else all of fromSnap, keys
    * re-filtered either way via the broadcast semi-join, so pruning is
    * never load-bearing). The window's own appends are never read for
    * pre-images.
    */
  def readChangelog(spark: SparkSession, table: String, fromSnap: Long,
                    toSnap: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, lit, col}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import org.apache.spark.unsafe.types.UTF8String
    val to = if (toSnap > 0) toSnap else currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val inserts = readIncremental(spark, table, fromSnap, to)
      .withColumn("op", lit("insert"))
    if (fromSnap <= 0) return inserts // bootstrap: mirror starts empty
    val delKeys = deletedInWindow(spark, table, fromSnap, to)
      .collect().map(r => (r.getString(0), r.getString(1)))
    if (delKeys.isEmpty) return inserts
    val renames = renameHistory(table)
    val base = scan(spark, table, snapshot = fromSnap)
    val types = schemaAt(spark, table, fromSnap, withDropped = true)
    val (shown, hidden) = delKeys.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (column, pairs) => (currentName(renames)(column), pairs.map(_._2).toSeq) }
      .partition { case (c, _) => base.columns.contains(c) }
    val preImages = shown.map { case (c, keys) =>
      // the keys as the column's values, in its order: a numeric column
      // holds only the keys that are its own CAST-to-string spelling
      val sorted: Seq[Any] = types(c).dataType match {
        case LongType => keys.flatMap(k => k.toLongOption.filter(_.toString == k)).sorted
        case IntegerType => keys.flatMap(k => k.toIntOption.filter(_.toString == k)).sorted
        case _ => keys.sortBy(UTF8String.fromString)
      }
      val inRange = if (sorted.isEmpty) lit(false) else col(c).between(sorted.head, sorted.last)
      val keyDf = spark.createDataFrame(keys.map(Tuple1(_))).toDF("__cdc_key")
      base.where(inRange).join(broadcast(keyDf),
          base(c).cast("string") === col("__cdc_key"), "left_semi")
        .withColumn("op", lit("delete"))
    }
    // a key column dropped since has no values left to match: its
    // pre-images are the fromSnap rows gone at `to` (by file and ordinal —
    // the window holds only appends and equality deletes), less the rows a
    // visible key column already emits
    val dropped = if (hidden.isEmpty) Nil else {
      val at = Seq(col("_file"), col("_pos"))
      val gone = base.select(base.columns.map(col) ++ at: _*)
        .join(scan(spark, table, snapshot = to).select(at: _*), Seq("_file", "_pos"), "left_anti")
        .drop("_file", "_pos")
      val shownHit = shown.map { case (c, keys) => col(c).cast("string").isin(keys: _*) }
        .reduceOption(_ || _)
      Seq(shownHit.fold(gone)(h => gone.where(!coalesce(h, lit(false))))
        .withColumn("op", lit("delete")))
    }
    (preImages ++ dropped).foldLeft(inserts)(_.unionByName(_, allowMissingColumns = true))
  }

  /** MERGE-shaped upsert by key (the re-crawl write path): incoming rows
    * REPLACE any existing rows sharing their key, executed the Iceberg way —
    * an equality-delete tombstone for the incoming key set (metadata-only;
    * zero of the table's data rewritten) plus a fast-append of the new
    * rows, committed as ONE ATOMIC SNAPSHOT whose manifest list carries
    * both the `!delete` ref and the `@delta` ref: no reader can ever
    * observe the keys deleted-but-not-yet-replaced. The sequence-aware
    * delete rule keeps the same-snapshot delta alive (a delete at D applies
    * only to files added BEFORE D). Pre-upsert snapshots still time-travel
    * to the old captures; compaction materializes the tombstones.
    *
    * The incoming key set collects to the driver — a crawl drop's keys are
    * MBs against the table's TBs, the same economics as the delete file
    * that stores exactly these values.
    */
  def upsertByKey(df: DataFrame, table: String, keyCol: String): Long = {
    require(!keyCol.contains('.') && !keyCol.contains('/') && !keyCol.contains('\t'),
      s"unsupported upsert key column name: $keyCol")
    val cur = currentSnapshot(table)
    if (cur.isEmpty) return commit(df, table)
    requireDeletable(table, cur.get, keyCol)
    val keys = df.select(keyCol).distinct().collect().map { r =>
      val v = r.get(0)
      require(v != null, s"null $keyCol in upsert batch")
      v.toString
    }
    write(df, table, WriteSpec(WriteMode.Append, upsertKey = Some(keyCol -> keys.toSeq))).get
  }

  /** All committed snapshot ids, ascending. */
  def snapshots(table: String): Seq[Long] =
    listNames(manifestDir(table))
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted

  /** Roll the table back (or forward) to an existing snapshot — a
    * metadata-only atomic pointer swap, like Iceberg's rollback_to_snapshot.
    */
  def rollbackTo(table: String, snap: Long): Unit = {
    require(fsExists(new HPath(manifestDir(table), s"v$snap.json")),
      s"no snapshot $snap for $table")
    val tmp = new HPath(manifestDir(table), s".CURRENT.rb$snap")
    writeStr(tmp, currentWithHistory(table, snap))
    atomicSwap(tmp, new HPath(manifestDir(table), "CURRENT"))
  }

  /** Exactly-once streaming append (the foreachBatch sink contract):
    * micro-batch `batchId`'s data lands in a batch-addressed directory and
    * is committed by the atomic manifest swap, then recorded in an O(1)
    * per-batch marker file — Spark's replay-after-failure semantics (a
    * batch may be re-delivered, never skipped) compose to exactly-once:
    *
    *   - crash AFTER the data write, BEFORE the manifest commit → the
    *     replay overwrites the orphan directory and commits once;
    *   - crash AFTER the commit, BEFORE the marker → the replay finds the
    *     batch via the manifest-scan fallback and backfills the marker;
    *   - crash AFTER the marker → the replay reads ONE file and skips.
    *
    * CONTRACT: batch ids must come from ONE checkpoint lineage per table.
    * A fresh checkpoint re-numbering from 0 against an existing table
    * makes its early batches indistinguishable from replays — they are
    * skipped (loudly, on stderr), never silently merged. Returns true iff
    * this call committed the batch.
    */
  def appendBatch(df: DataFrame, table: String, batchId: Long): Boolean =
    write(df, table, WriteSpec(WriteMode.Batch(batchId))).isDefined

  /** True — and said on stderr — when `batchId` is already committed to
    * `table`: a replay, which is skipped. */
  private def batchReplay(table: String, batchId: Long): Boolean = {
    val done = batchCommitted(table, batchId)
    if (done)
      System.err.println(s"[catalog] batch $batchId already committed to '$table' (replay), " +
        "skipped. Batch ids must come from one checkpoint lineage per table; a new " +
        "checkpoint reusing ids against an existing table is skipped here, not merged.")
    done
  }

  private def batchMarker(table: String, batchId: Long): HPath =
    new HPath(manifestDir(table), s"batch-$batchId.committed")

  /** A batch is committed iff its O(1) marker file exists, the expired-batch
    * ledger records it, or (migration fallback for pre-marker tables) any
    * retained manifest references its batch-addressed directory — data
    * present without any of these is an orphan from a mid-append crash,
    * NOT committed. A fallback hit backfills the marker so the next check
    * reads one file instead of scanning manifests: the long-running-stream
    * steady state is O(1) metadata per micro-batch, independent of table
    * history (the round-3 all-manifest scan was O(n²) over the stream's
    * lifetime).
    */
  def batchCommitted(table: String, batchId: Long): Boolean = {
    if (fsExists(batchMarker(table, batchId))) return true
    if (expiredBatches(table).contains(batchId)) return true
    val marker = s"/batch-$batchId/"
    val hit = snapshots(table).exists(s => manifestFiles(table, s).exists(_.contains(marker)))
    if (hit) writeStr(batchMarker(table, batchId), "") // self-heal to O(1)
    hit
  }

  /** Batch ids whose manifests were expired — the durable legacy half of the
    * exactly-once marker (see [[batchCommitted]]; marker files are never
    * deleted, so post-round-4 batches don't need the ledger, but pre-marker
    * tables migrating through expiry still do).
    */
  def expiredBatches(table: String): Set[Long] = {
    val p = new HPath(manifestDir(table), "batches.expired.tsv")
    if (!fsExists(p)) Set.empty
    else readStr(p).split('\n').filter(_.nonEmpty).map(_.toLong).toSet
  }

  /** Metadata-only commit: a new snapshot whose manifest references data
    * files already on storage (e.g. the chunk outputs of a resumable run) —
    * the Iceberg-style O(files) commit, no data copy. Their footers are
    * read once, here, for the schema the snapshot records.
    */
  def commitFiles(files: Seq[String], table: String): Long =
    commitFiles(files.map(written), table, WriteSpec()).get

  /** [[commitFiles]] as an exactly-once batch append: false (nothing
    * committed) when `batchId` already is. */
  def appendFilesAsBatch(files: Seq[String], table: String, batchId: Long): Boolean =
    !batchReplay(table, batchId) &&
      commitFiles(files.map(written), table, WriteSpec(WriteMode.Batch(batchId))).isDefined

  /** A data file written outside the catalog, as its footer records it. */
  private def written(f: String): WrittenFile =
    WrittenFile(f, footerSchema(f).getOrElse(throw new java.io.FileNotFoundException(f)))

  /** Metadata-only `COUNT(*)`: the sum of per-file `__count` sidecar lines,
    * answerable only when EVERY file of the current snapshot is counted and
    * no delete tombstone is pending (same refusal rule as [[statsAgg]] —
    * never a silently-wrong overcount).
    */
  def countStar(table: String): Option[Long] = currentSnapshot(table).flatMap { snap =>
    if (deleteRefsOf(table, snap).nonEmpty) None
    else {
      val all = manifestFiles(table, snap)
      val counts = fileRowCounts(table, snap)
      if (all.nonEmpty && all.forall(counts.contains)) Some(all.map(counts(_)).sum)
      else None
    }
  }

  /** The `__count` sidecar lines visible at `snap`: data file → rows
    * written (pending deletes not subtracted). Files without a line are
    * absent. */
  def fileRowCounts(table: String, snap: Long): Map[String, Long] =
    statsLinesAt(table, snap).collect { case Array(f, "__count", n, _) => f -> n.toLong }.toMap

  /** Iceberg-style equality delete (row-level takedown — DMCA/GDPR "remove
    * these urls everywhere"): commits a tombstone file of `column` values as
    * a NEW snapshot whose manifest list carries the same data files plus a
    * `!` delete ref — ZERO data rewritten at 100 TB. The scan drops the
    * matching rows from each decoded batch; [[compact]] materializes them
    * (its rewrite reads through the scan, and the rewritten snapshot
    * carries no tombstones). Time travel to a pre-delete snapshot still
    * reads complete — takedowns are snapshots, not mutations.
    *
    * Values are matched against `CAST(column AS STRING)`, so the column
    * must be a string, long or int column of the current schema (the casts
    * the scan's reader replays); the per-snapshot HLL sidecar chain is
    * intentionally NOT carried forward (HLL cannot unlearn — the
    * chain-integrity gate refuses rather than overcounting).
    */
  def deleteWhere(table: String, column: String, values: Seq[String]): Long = {
    require(!column.contains('.') && !column.contains('/') && !column.contains('\t'),
      s"unsupported delete column name: $column")
    requireDeletable(table, currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table")), column)
    withCommitLock(table) {
      val cur = currentSnapshot(table).getOrElse(
        throw new IllegalStateException(s"no committed snapshot for $table"))
      val prev = entriesOf(table, cur)
      val snap = claimSnapshotId(table)
      val del = s"d$snap.$column.tsv"
      writeStr(new HPath(manifestDir(table), del),
        values.map(escStat).mkString("", "\n", "\n"))
      commitSnapshot(table, snap, prev :+ ("!" + del))
      snap
    }
  }

  /** Refuse an equality delete keyed on `column` unless the scan can apply
    * it: the column is in the schema at `snap`, typed string, long or int.
    * A key of any other type would leave a snapshot no read can open. */
  private def requireDeletable(table: String, snap: Long, column: String): Unit = {
    val f = schemaAt(SparkSession.active, table, snap).find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"delete column '$column' is not in the schema of '$table'"))
    require(graft.sources.CatalogSource.deletableType(f.dataType),
      s"delete column '$column' of '$table' has type ${f.dataType.simpleString}; " +
      "equality deletes key on string, long or int columns")
  }

  // ------------------------------------------------------------------
  // POSITIONAL deletes (Iceberg v2's second delete-file type): tombstones
  // of (data file, row ordinal) pairs — the row-level delete for
  // predicates that do NOT reduce to key values. Metadata-only like
  // equality deletes (zero data rewritten at 100 TB); the scan drops the
  // named ordinals from each file's decoded batches; compaction
  // materializes them. A positional tombstone names its files
  // explicitly, so the sequence rule holds by construction: rows appended
  // AFTER the delete live in new files the tombstone cannot name —
  // re-adding a deleted row survives, exactly like equality deletes'
  // add-order rule.
  // ------------------------------------------------------------------

  /** The snapshot's positional-delete (normalized file path, row ordinal)
    * pairs from the TSV tombstones only (`p*.tsv` — takedown-sized by the
    * commit contract). Deletion VECTORS are excluded: callers that can
    * stream bitmaps task-side ([[deletionVectorIndex]]) must not pay a
    * driver-side expansion. [[positionalDeletes]] is the fully-expanded
    * union.
    */
  def positionalTsvPairs(table: String, snap: Long): Seq[(String, Long)] =
    deleteRefsOf(table, snap).filter(_.startsWith("p")).flatMap { ref =>
      readStr(new HPath(manifestDir(table), ref))
        .split('\n').filter(_.nonEmpty).map { l =>
          val i = l.lastIndexOf('\t')
          (unescStat(l.take(i)).getOrElse(
             throw new IllegalStateException(s"null path in $ref")),
           l.drop(i + 1).toLong)
        }
    }

  /** ALL of the snapshot's positional deletes as (normalized file path, row
    * ordinal) pairs — TSV tombstones plus fully-EXPANDED deletion vectors.
    * The validation and rewrite surface (emptiness checks,
    * [[rewritePositionDeletes]]); the scan never calls this for vectors —
    * it ships each file's bitmap coordinates to the task instead.
    */
  def positionalDeletes(table: String, snap: Long): Seq[(String, Long)] =
    positionalTsvPairs(table, snap) ++
      deletionVectorIndex(table, snap).flatMap { e =>
        val bm = DeletionVectors.load(e.dvPath, e.offset, e.length, conf)
        val out = new Array[(String, Long)](bm.getCardinality)
        var i = 0
        val it = bm.iterator()
        while (it.hasNext) { out(i) = (e.file, it.next().toLong & 0xffffffffL); i += 1 }
        out.toSeq
      }

  /** Commit a positional-delete tombstone as a NEW snapshot (metadata-only;
    * time travel to the pre-delete snapshot stays complete). `positions`
    * are (file path as the scan reports or the manifest stores it — both
    * normalize, row ordinal within that file). The pairs are takedown-sized
    * by contract: they ARE the tombstone file's contents.
    */
  def deleteAtPositions(table: String, positions: Seq[(String, Long)]): Long = {
    require(positions.nonEmpty, "empty positional delete")
    withCommitLock(table) {
      val cur = currentSnapshot(table).getOrElse(
        throw new IllegalStateException(s"no committed snapshot for $table"))
      val prev = entriesOf(table, cur)
      val snap = claimSnapshotId(table)
      val del = s"p$snap.tsv"
      writeStr(new HPath(manifestDir(table), del),
        positions.map { case (f, p) => (normFile(f), p) }.distinct.sorted
          .map { case (f, p) => posTombstoneLine(f, p) }.mkString("", "\n", "\n"))
      commitSnapshot(table, snap, prev :+ ("!" + del))
      snap
    }
  }

  /** Row-level delete by ARBITRARY predicate — the takedown shape equality
    * keys cannot express ("remove every row whose text matches this
    * pattern"): one scan of the current snapshot finds the matching rows'
    * `_file`/`_pos` coordinates, committed as a positional tombstone. Zero
    * data rewritten; the scan decodes only the predicate's columns and
    * prunes files on its pushable parts. Matched positions collect to the
    * driver — takedown-sized, the same economics as [[upsertByKey]]'s key
    * collect (the tombstone file stores exactly these pairs). Returns
    * (snapshotId, rows tombstoned); rows an earlier delete already removed
    * do not match, so they are not tombstoned again.
    */
  def deleteMatching(spark: SparkSession, table: String,
                     predicate: String): (Long, Long) = {
    import org.apache.spark.sql.functions.expr
    val cur = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val matched = scan(spark, table, snapshot = cur).where(expr(predicate))
      .select("_file", "_pos")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    if (matched.isEmpty) (cur, 0L)
    else (deleteAtPositions(table, matched), matched.size.toLong)
  }

  /** One-snapshot ROW-LEVEL DELTA commit — the SQL `UPDATE` / `MERGE INTO` /
    * row-level `DELETE` write path (Iceberg's merge-on-read position-delta
    * commit). `deleteFiles` are TASK-STAGED positional tombstone files
    * (escaped-normalized-path \t ordinal lines, written by the DSv2 delta
    * writers with O(1) task memory); they are RENAMED into the manifest dir
    * as this snapshot's `p<snap>-<k>.tsv` refs — the pairs never pass
    * through the driver, unlike [[deleteMatching]]'s collect. `dataFiles`
    * (replacement/inserted rows, with their `__count`s and schema)
    * ride the same snapshot as one delta manifest, so no reader can observe
    * rows deleted-but-not-yet-replaced ([[upsertByKey]]'s atomicity, the
    * positional edition). The sequence rule holds by construction: the
    * tombstones name OLD files explicitly and the delta's files are new
    * paths they cannot name.
    *
    * `touchedFiles` — the distinct data files the tombstones name,
    * task-collected (O(files), not O(rows)) — is validated against the
    * CURRENT snapshot under the commit lock: a concurrent compaction or
    * rewrite that dropped a touched file fails this commit loudly
    * (Iceberg's `validateDataFilesExist` serializable-isolation check)
    * instead of committing tombstones whose coordinates now point at
    * nothing and which every reader would refuse as corruption.
    */
  def commitRowDelta(table: String, deleteFiles: Seq[String],
                     touchedFiles: Seq[String], dataFiles: Seq[WrittenFile]): Long = {
    require(deleteFiles.nonEmpty || dataFiles.nonEmpty, "empty row-level delta commit")
    withCommitLock(table) {
      val curO = currentSnapshot(table)
      require(curO.nonEmpty || deleteFiles.isEmpty,
        s"row-level delta: positional deletes against uncommitted table '$table'")
      val prev = curO.map(entriesOf(table, _)).getOrElse(Seq.empty)
      if (touchedFiles.nonEmpty) {
        val live = manifestFiles(table, curO.get).map(normFile).toSet
        val gone = touchedFiles.map(normFile).distinct.filterNot(live)
        require(gone.isEmpty,
          s"row-level delta conflict on '$table': tombstoned data files are no longer " +
          s"in the current snapshot (concurrent rewrite/expire?) — retry the statement: " +
          gone.take(3).mkString(", "))
      }
      val snap = claimSnapshotId(table)
      val delRefs = deleteFiles.sorted.zipWithIndex.map { case (f, k) =>
        val ref = s"p$snap-$k.tsv"
        fsRename(new HPath(f), new HPath(manifestDir(table), ref))
        "!" + ref
      }
      val dataEntry =
        if (dataFiles.isEmpty) Nil
        else Seq(writeDelta(table, snap.toString, dataFiles, WriteSpec(stats = Some(Nil))))
      commitSnapshot(table, snap, prev ++ delRefs ++ dataEntry)
      snap
    }
  }

  // ------------------------------------------------------------------
  // DELETION VECTORS (the Iceberg-v3 / Delta form of positional deletes):
  // one roaring bitmap of deleted row ordinals PER DATA FILE, packed into a
  // single `x<snap>.dv` blob with a bounded header index. Where a TSV
  // tombstone costs O(deleted rows) driver text on every plan, a DV table
  // plans from the index alone — O(touched files) lines — and each scan
  // task range-reads only ITS file's bitmap. At 100 TB this is the
  // difference between a takedown the driver can plan and one it cannot:
  // a billion-row UPDATE's tombstones become ~files × (bitmap bytes), and
  // no (file, pos) pair ever crosses the driver after the rewrite.
  //
  // Blob layout (all offsets relative to the data section that follows the
  // index; [[deletionVectorIndex]] returns them absolute):
  //   "DV1 <idxBytes>\n"                       -- bounded first line
  //   idx: "<escaped file>\t<card>\t<off>\t<len>\n" per data file
  //   data: concatenated RoaringBitmap.serialize() bytes
  //
  // DVs enter via [[rewritePositionDeletes]] (the Iceberg
  // `rewrite_position_delete_files` maintenance shape: TSV tombstones
  // accumulate from UPDATE/MERGE/DELETE commits, maintenance compacts them
  // into one vector file and drops the TSV refs — data files untouched).
  // The ref rides the manifest as `!x<snap>.dv`, so GC ref-counting,
  // cherry-pick's paired-tombstone refusal and the changelog's positional
  // refusal all hold with no special casing. Sequence rule: a DV names its
  // files explicitly, exactly like a TSV tombstone — rows appended later
  // live in paths it cannot name.
  // ------------------------------------------------------------------

  /** One deletion-vector index entry: `file` is the normalized DATA file
    * the bitmap applies to; (`dvPath`, `offset`, `length`) locate its
    * serialized bitmap for a task-side range read; `cardinality` is the
    * deleted-row count (planning statistics).
    */
  final case class DvEntry(file: String, dvPath: String, offset: Long,
                           length: Int, cardinality: Long)

  /** The snapshot's deletion-vector index — O(index bytes) driver read;
    * bitmap bytes are never touched here.
    */
  def deletionVectorIndex(table: String, snap: Long): Seq[DvEntry] =
    deleteRefsOf(table, snap).filter(_.startsWith("x")).flatMap { ref =>
      val p = new HPath(manifestDir(table), ref)
      val in = fsOf(p).open(p)
      try {
        val fl = new StringBuilder
        var c = in.read()
        while (c != '\n') {
          require(c != -1 && fl.length < 64, s"corrupt deletion vector $ref: no header")
          fl.append(c.toChar); c = in.read()
        }
        val head = fl.toString.split(' ')
        require(head.length == 2 && head(0) == "DV1",
          s"corrupt deletion vector $ref: bad magic '${fl.toString}'")
        val idxLen = head(1).toInt
        val idxB = new Array[Byte](idxLen)
        in.readFully(idxB)
        val dataStart = fl.length + 1 + idxLen.toLong
        new String(idxB, UTF_8).split('\n').filter(_.nonEmpty).map { l =>
          val Array(f, card, off, len) = l.split('\t')
          DvEntry(unescStat(f).getOrElse(
              throw new IllegalStateException(s"null path in $ref")),
            pathStr(p), dataStart + off.toLong, len.toInt, card.toLong)
        }.toSeq
      } finally in.close()
    }

  /** Compact the snapshot's positional TSV tombstones (and any existing
    * deletion vectors) into ONE new deletion-vector file, committed as a
    * metadata-only snapshot with the old `p*`/`x*` refs dropped and the
    * data entries byte-identical — Iceberg's `rewrite_position_delete_files`.
    * Returns the new snapshot id. Refuses when the snapshot carries no
    * positional deletes (nothing to rewrite; committing an empty vector
    * would be pure metadata noise).
    */
  def rewritePositionDeletes(table: String): Long = withCommitLock(table) {
    val cur = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val prev = entriesOf(table, cur)
    val posRefs = prev.filter(e => e.startsWith("!p") || e.startsWith("!x"))
    require(posRefs.nonEmpty,
      s"rewrite_position_deletes on '$table': snapshot $cur has no positional deletes")
    val byFile = new scala.collection.mutable.LinkedHashMap[String, org.roaringbitmap.RoaringBitmap]()
    positionalDeletes(table, cur).foreach { case (f, pos) =>
      require(pos >= 0 && pos <= Int.MaxValue,
        s"rewrite_position_deletes on '$table': ordinal $pos exceeds the 32-bit " +
        "bitmap range (file row counts are bounded by write.target-file-size)")
      byFile.getOrElseUpdate(f, new org.roaringbitmap.RoaringBitmap()).add(pos.toInt)
    }
    val snap = claimSnapshotId(table)
    val ref = s"x$snap.dv"
    val bufs = byFile.toSeq.sortBy(_._1).map { case (f, bm) =>
      bm.runOptimize()
      val b = new Array[Byte](bm.serializedSizeInBytes())
      bm.serialize(java.nio.ByteBuffer.wrap(b))
      (f, bm.getLongCardinality, b)
    }
    val idx = new StringBuilder
    var off = 0L
    bufs.foreach { case (f, card, b) =>
      idx.append(s"${escStat(f)}\t$card\t$off\t${b.length}\n"); off += b.length
    }
    val idxB = idx.toString.getBytes(UTF_8)
    val p = new HPath(manifestDir(table), ref)
    val out = fsOf(p).create(p, true)
    try {
      out.write(s"DV1 ${idxB.length}\n".getBytes(UTF_8))
      out.write(idxB)
      bufs.foreach(b => out.write(b._3))
    } finally out.close()
    commitSnapshot(table, snap, prev.filterNot(posRefs.contains) :+ ("!" + ref))
    snap
  }

  // ------------------------------------------------------------------
  // Schema evolution beyond ADD: RENAME and DROP as metadata-only ops
  // (Iceberg does this with field ids; the parquet-name emulation keeps a
  // rename HISTORY in the table metadata and maps old file columns forward
  // at read). Zero data rewritten at 100 TB for either op.
  // ------------------------------------------------------------------

  /** Rename a column — metadata-only. Files written before the rename keep
    * their old parquet column name on disk; every read maps it forward
    * (renames chain: a→b then b→c resolves transitively, in commit order).
    * Like Iceberg, the CURRENT schema applies to time travel too — a
    * pre-rename snapshot reads with the new name. Zone-map/bloom sidecar
    * rows of pre-rename files stay under the old name, so pruning on the
    * new name conservatively keeps those files (pruning is never
    * load-bearing); post-rename writes index under the new name.
    */
  def renameColumn(table: String, oldName: String, newName: String): Unit = {
    require(oldName != newName && newName.nonEmpty &&
      !Seq(oldName, newName).exists(n => n.contains('\t') || n.contains('\n')),
      s"bad rename: '$oldName' -> '$newName'")
    val hist = getMeta(table, "schema.renames").getOrElse("")
    putMeta(table, "schema.renames", hist + s"$oldName\t$newName\n")
  }

  /** Drop a column — metadata-only; reads project it away for files old
    * and new. Equality deletes keyed on a dropped column STILL APPLY (the
    * scan decodes the key from the data files, typed by their footers), so
    * a takedown is never undone by schema cleanup.
    */
  def dropColumn(table: String, name: String): Unit = {
    require(name.nonEmpty && !name.contains('\t') && !name.contains('\n'))
    val ds = getMeta(table, "schema.drops").getOrElse("")
    putMeta(table, "schema.drops", ds + name + "\n")
  }

  private[graft] def renameHistory(table: String): Seq[(String, String)] =
    getMeta(table, "schema.renames").toSeq
      .flatMap(_.split('\n')).filter(_.nonEmpty)
      .map { l => val p = l.split('\t'); (p(0), p(1)) }

  private def droppedColumns(table: String): Seq[String] =
    getMeta(table, "schema.drops").toSeq
      .flatMap(_.split('\n')).filter(_.nonEmpty)

  /** A historical column name's CURRENT name (follows the rename chain). */
  private[graft] def currentName(renames: Seq[(String, String)])(n: String): String =
    renames.foldLeft(n) { case (c, (o, nw)) => if (c == o) nw else c }

  /** The table's schema at `snap`, from the schemas its deltas recorded at
    * commit — no scan is planned and no data file is opened; the one schema
    * rule every read of the snapshot uses. Deltas group by how many
    * equality deletes precede them (the order the table's columns have
    * always had). Within a group the schemas merge by name as `mergeSchema`
    * does; the group's columns then map forward through the rename history
    * (a group holding both generations of a renamed column keeps the new
    * one's position); the groups merge in add order, and dropped columns
    * leave last — unless `withDropped`, which is how the scan types an
    * equality delete keyed on a dropped column. Every level reads
    * nullable, as from any file source; columns of incompatible types fail
    * the schema, and with it every read. A delta committed before schemas
    * were recorded folds its files' footers instead.
    */
  def schemaAt(spark: SparkSession, table: String, snap: Long,
               withDropped: Boolean = false): StructType = {
    require(fsExists(new HPath(manifestDir(table), s"v$snap.json")),
      s"no snapshot $snap for $table")
    def nullable(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    val merge = mergeTypes(table) _
    val renames = renameHistory(table)
    def renamed(s: StructType): StructType = renames.foldLeft(s) { case (st, (o, n)) =>
      st.find(_.name == o) match {
        case None => st
        case Some(old) if st.fieldNames.contains(n) =>
          StructType(st.fields.collect {
            case f if f.name == n => f.copy(dataType = merge(f.dataType, old.dataType))
            case f if f.name != o => f
          })
        case Some(_) => StructType(st.fields.map(f => if (f.name == o) f.copy(name = n) else f))
      }
    }
    val deleteSnaps = deleteRefsOf(table, snap).filter(_.startsWith("d"))
      .map(_.stripPrefix("d").split('.')(0).toLong)
    val perEntry: Seq[(Long, Option[DataType])] = entriesOf(table, snap).collect {
      case e if e.startsWith("@") =>
        val id = e.stripPrefix("@m").stripSuffix(".json")
        addOrderOfId(id) -> recordedSchema(table, id).orElse(
          parseJsonArray(readStr(new HPath(manifestDir(table), e.stripPrefix("@"))))
            .flatMap(footerSchema).reduceOption(merge))
      case e if !e.startsWith("!") => 0L -> footerSchema(e) // legacy raw-path entry
    }
    val merged = perEntry
      .groupBy { case (k, _) => deleteSnaps.count(_ <= k) }.toSeq.sortBy(_._1)
      .flatMap { case (_, group) =>
        group.flatMap(_._2).reduceOption(merge).map(s => renamed(s.asInstanceOf[StructType]))
      }.reduceOption(merge(_, _).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(s"snapshot $snap of $table has no readable data file"))
    val drops = if (withDropped) Set.empty[String] else droppedColumns(table).map(currentName(renames)).toSet
    nullable(StructType(merged.fields.filterNot(f => drops(f.name)))).asInstanceOf[StructType]
  }

  /** `mergeSchema`'s merge: by name, left order first, nested structs
    * merged; columns of incompatible types fail. */
  private def mergeTypes(table: String)(l: DataType, r: DataType): DataType = (l, r) match {
    case (a: StructType, b: StructType) =>
      StructType(a.fields.map(f => b.find(_.name == f.name)
        .fold(f)(g => f.copy(dataType = mergeTypes(table)(f.dataType, g.dataType)))) ++
        b.fields.filterNot(g => a.fieldNames.contains(g.name)))
    case (a: ArrayType, b: ArrayType) => ArrayType(mergeTypes(table)(a.elementType, b.elementType))
    case (a: MapType, b: MapType) =>
      MapType(mergeTypes(table)(a.keyType, b.keyType), mergeTypes(table)(a.valueType, b.valueType))
    case _ if l == r => l
    case _ => throw new IllegalStateException(s"$table: incompatible column types $l and $r")
  }

  /** The schema delta manifest `m<id>.json` recorded at commit, if any. */
  private def recordedSchema(table: String, id: String): Option[DataType] = {
    val p = new HPath(manifestDir(table), s"m$id.schema")
    if (fsExists(p)) Some(DataType.fromJson(readStr(p))) else None
  }

  /** A data file's schema from its parquet footer. A file that no longer
    * exists has none: a read that needs it fails when it opens it, and one
    * its filters prune never does. */
  private def footerSchema(f: String): Option[StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val p = new HPath(f)
    try Some(ParquetFileFormat.readSchemaFromFooter(
      new Footer(p, ParquetFileReader.readFooter(HadoopInputFile.fromPath(p, conf), NO_FILTER)),
      new ParquetToSparkSchemaConverter(org.apache.spark.sql.internal.SQLConf.get)))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Iceberg-style rewrite_data_files (bin-packing compaction): coalesce
    * the current snapshot's rows into ~targetBytes outputs, committed as a
    * NEW snapshot — old versions stay time-travelable, CURRENT advances
    * atomically. `coalesce` (not `repartition`) keeps the rewrite a
    * shuffle-free narrow pass: adjacent scan splits merge into one writer
    * task each. Reads through [[readSnapshot]], so pending equality deletes
    * are MATERIALIZED here (the rewritten snapshot carries no tombstones).
    * At 100 TB this is the maintenance op that keeps scan task counts
    * bounded after many incremental/streaming commits.
    */
  def compact(spark: SparkSession, table: String, targetBytes: Long = 128L << 20): Long = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val files = manifestFiles(table, snap)
    val totalBytes = files.map { f =>
      val p = new HPath(f); fsOf(p).getFileStatus(p).getLen
    }.sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    commit(readSnapshot(spark, table, snap).coalesce(nOut), table)
  }

  /** INCREMENTAL compaction (Iceberg rewrite_data_files BIN-PACK mode, the
    * only compaction that exists at 100 TB): merge ONLY undersized files —
    * the streaming-append tail — and leave every properly-sized file
    * byte-identical on disk. [[compact]]/[[compactSorted]] rewrite the
    * whole table; on a 100 TB table that is a non-operation, while the
    * thing actually accumulating is the last day's micro-batch files.
    *
    * Mechanics: files under `targetBytes` first-fit-decreasing-pack into
    * bins; bins with ≥ `minInput` members rewrite (singletons stay — a
    * lone small file is not worth a snapshot). Rewritten rows are read
    * with their deletes MATERIALIZED, so the merged files enter as a fresh
    * delta (new add order, exempt from every existing tombstone — correct,
    * their deletes are already applied). Each delta manifest that loses
    * files is re-written under a new name `m<effK>-<snap>.json` that KEEPS
    * its effective add order (the digits prefix — the
    * [[rewriteManifests]] convention), so every equality tombstone keeps
    * applying to every kept file exactly as before; stats/bloom sidecar
    * lines for kept files carry forward under the new manifest id.
    * Untouched manifests and tombstone refs pass through verbatim. Old
    * manifests/files stay addressable from prior snapshots until
    * [[expireSnapshots]]' ref-counted GC.
    *
    * Refusals (degrade-never-wrong): positional/vector tombstones name
    * (file, ordinal) coordinates that cannot survive a partial rewrite —
    * run `rewrite_position_deletes` + [[compact]] first. A concurrent
    * commit between planning and the metadata section aborts (optimistic
    * validation; retry). No-op (returns the current snapshot) when fewer
    * than `minInput` small files exist.
    */
  def compactSmallFiles(spark: SparkSession, table: String,
      targetBytes: Long = 128L << 20, minInput: Int = 2): Long = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    require(deleteRefsOf(table, snap).forall(_.startsWith("d")),
      s"compactSmallFiles on '$table': positional delete tombstones present — " +
      "their (file, ordinal) refs cannot survive a partial rewrite; run " +
      "rewrite_position_deletes and compact() first")
    val sized = manifestFiles(table, snap).map { f =>
      val p = new HPath(f); f -> fsOf(p).getFileStatus(p).getLen
    }
    val small = sized.filter(_._2 < targetBytes).sortBy(-_._2)
    if (small.size < minInput) return snap
    // first-fit-decreasing pack into targetBytes bins
    val bins = scala.collection.mutable.ArrayBuffer.empty[(scala.collection.mutable.ArrayBuffer[String], Long)]
    small.foreach { case (f, sz) =>
      bins.indexWhere(_._2 + sz <= targetBytes) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(f), sz))
        case i => bins(i) = ((bins(i)._1 += f, bins(i)._2 + sz))
      }
    }
    val rewriteBins = bins.filter(_._1.size >= minInput)
    if (rewriteBins.isEmpty) return snap
    val rewriteSet = rewriteBins.flatMap(_._1).toSet
    val newSnap = claimSnapshotId(table)
    try {
      // merged rows carry their applied deletes; one output file per bin.
      // The `_file` filter reaches the scan, which opens only the rewrite set
      val merged = scan(spark, table, snapshot = snap)
        .where(org.apache.spark.sql.functions.col("_file").isin(rewriteSet.toSeq: _*))
        .coalesce(rewriteBins.size)
      val newFiles = writeFiles(merged, new HPath(root, s"$table/data/snap-$newSnap"), WriteSpec())
      withCommitLock(table) {
        if (!currentSnapshot(table).contains(snap))
          throw new IllegalStateException(
            s"compactSmallFiles on '$table': concurrent commit during the rewrite — retry")
        val dir = manifestDir(table)
        val newEntries = entriesOf(table, snap).flatMap { e =>
          if (e.startsWith("!")) Some(e) // tombstones pass through
          else if (!e.startsWith("@")) { // legacy raw-path entry
            if (rewriteSet(e)) None else Some(e)
          } else {
            val id = e.stripPrefix("@m").stripSuffix(".json")
            val listed = parseJsonArray(readStr(new HPath(dir, s"m$id.json")))
            val kept = listed.filterNot(rewriteSet)
            if (kept.size == listed.size) Some(e)
            else if (kept.isEmpty) None
            else {
              val newId = s"${addOrderOfId(id)}-$newSnap"
              writeStr(new HPath(dir, s"m$newId.json"),
                kept.map(f => "\"" + f + "\"").mkString("[\n", ",\n", "\n]"))
              // sidecars follow the manifest id; only kept files' lines ride
              deltaSidecars(listNames(dir), id).foreach { n =>
                val to = new HPath(dir, n.replaceFirst(s"^m$id\\.", s"m$newId."))
                if (n.endsWith(".schema")) writeStr(to, readStr(new HPath(dir, n)))
                else {
                  val filtered = readStr(new HPath(dir, n)).split('\n')
                    .filter(l => l.nonEmpty && kept.contains(l.split('\t')(0)))
                  if (filtered.nonEmpty) writeStr(to, filtered.mkString("", "\n", "\n"))
                }
              }
              Some(s"@m$newId.json")
            }
          }
        }
        commitSnapshot(table, newSnap,
          newEntries :+ writeDelta(table, newSnap.toString, newFiles, WriteSpec()))
      }
      newSnap
    } catch {
      case e: Throwable => fsDelete(new HPath(manifestDir(table), s".claim-v$newSnap")); throw e
    }
  }

  /** Sorted/partitioned rewrite_data_files: compaction that PRESERVES (or
    * establishes) the table's physical organization instead of silently
    * degrading it — plain [[compact]] coalesces rows arbitrarily and writes
    * no sidecars, so a compacted table loses its zone maps, partition
    * bounds and blooms until the next stats-bearing write. This variant
    * re-clusters the rewritten rows by the table's declared partition
    * transform (or by explicit sort columns), rewrites the transform/stats
    * sidecar for the new files, and rebuilds blooms for every column that
    * had one — maintenance that leaves the read path as fast as it found
    * it. Pending equality deletes are materialized as in [[compact]].
    */
  def compactSorted(spark: SparkSession, table: String,
                    sortCols: Seq[String] = Nil, nFiles: Int = 0): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val specO = partitionSpec(table)
    val bloomCols = bloomColumnsAt(table, snap)
    val bloomBits: Map[String, Int] = bloomCols.map { c =>
      c -> bloomLinesAt(table, snap, c).headOption
        .map(_(1).toInt).getOrElse(1 << 17)
    }.toMap
    val cur = readSnapshot(spark, table, snap)
    val n = if (nFiles > 0) nFiles else spark.sessionState.conf.numShufflePartitions
    // explicit sort columns win; otherwise the write.sort-order TBLPROPERTY
    // (Iceberg's table-level sort order) supplies the default
    val effCols: Seq[String] =
      if (sortCols.nonEmpty) sortCols
      else getMeta(table, "prop.write.sort-order").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val clusterExprs: Seq[String] = specO.map(s => Seq(s.sparkExprSql))
      .getOrElse(effCols.map(c => s"`$c`"))
    require(clusterExprs.nonEmpty,
      s"compactSorted on '$table': no partition spec, no sort columns, " +
      "and no write.sort-order property")
    val clustered = cur.repartitionByRange(n, clusterExprs.map(expr): _*)
      .sortWithinPartitions(clusterExprs.map(expr): _*)
    val statNamed: Seq[(String, String)] =
      specO.map(s => (s.statName, s.sparkExprSql)).toSeq ++
        effCols.map(c => (c, s"`$c`"))
    write(clustered, table, WriteSpec(stats = Some(statNamed),
      blooms = bloomCols.map(c => c -> bloomBits(c)))).get
  }

  /** Z-ORDER clustering rewrite (the Delta `OPTIMIZE ZORDER BY` / Iceberg
    * multi-dimensional sort-order rewrite): [[compactSorted]] makes ONE
    * column prunable — files cover disjoint ranges of the sort key, and any
    * OTHER column's values scatter across every file, so its zone maps all
    * span the full domain and prune nothing. Z-ordering interleaves the
    * bits of several columns' RANK-bucket ids into one Morton key and
    * range-clusters on that, so each file covers a small hyper-rectangle
    * in (col1 × col2 × …) space and zone-map pruning works on EVERY
    * z-ordered column at once — the "point lookups by url AND range scans
    * by timestamp on the same 100 TB table" shape.
    *
    * Buckets are RANK-based (per-column quantile boundaries from
    * `approxQuantile`, the sample-derived range boundaries Delta's
    * `range_partition_id` uses), not linear min/max scaling: a skewed
    * dimension (web-scale host frequencies, long-tail doc lengths) under
    * linear scaling collapses most rows into a few buckets and its bits
    * stop partitioning the space. Boundary lookup per row is a
    * `size(filter(boundsArray, b -> v >= b))` HOF — interpreted, not
    * codegen'd, which is acceptable ONLY because this is a one-time
    * maintenance rewrite, never a query-path expression.
    *
    * Numeric (castable-to-double) columns only — string clustering goes
    * through [[compactSorted]] / a partition transform. Stats sidecars are
    * written for every z column (that is the entire point), blooms are
    * rebuilt, and pending equality deletes are materialized as in
    * [[compact]]. Scale shape: one quantile pass + one range shuffle of
    * the data — identical cost to compactSorted plus the O(cols) quantile
    * sketch pass.
    */
  def compactZOrder(spark: SparkSession, table: String, cols: Seq[String],
                    bitsPerCol: Int = 8, nFiles: Int = 0): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    require(cols.size >= 2 && cols.size <= 4,
      s"compactZOrder on '$table': need 2..4 columns, got ${cols.size}")
    require(bitsPerCol >= 1 && bitsPerCol * cols.size <= 60,
      s"compactZOrder on '$table': ${bitsPerCol * cols.size} interleaved bits exceed a long")
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val bloomCols = bloomColumnsAt(table, snap)
    val bloomBits: Map[String, Int] = bloomCols.map { c =>
      c -> bloomLinesAt(table, snap, c).headOption
        .map(_(1).toInt).getOrElse(1 << 17)
    }.toMap
    val cur = readSnapshot(spark, table, snap)
    val buckets = 1 << bitsPerCol
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // ONE GK-sketch pass for ALL columns (multi-column approxQuantile);
    // boundaries are MBs at most and ride into the bucket expression as
    // literals (driver state, not a shuffle)
    val bounds: Seq[Array[Double]] =
      cur.stat.approxQuantile(cols.toArray, probs, 0.001).toSeq
    cols.zip(bounds).foreach { case (c, b) =>
      require(b.nonEmpty, s"compactZOrder: no quantiles for '$c' (all null?)")
    }
    // rank bucket = upper_bound(boundaries, x): power-of-two binary search
    // over the constant-folded boundary array — bitsPerCol element_at
    // probes per row, not a 2^bits-element filter scan. Each refinement
    // step is its OWN withColumn (a Project referencing the previous step
    // as an attribute): building one nested Column would copy the partial-
    // position subtree twice per level — an exponentially-sized expression
    // tree that stalls every analysis pass — while the Project chain stays
    // linear (CollapseProject's multiply-referenced-non-cheap guard) and
    // whole-stage codegen fuses it into straight-line code.
    // boundaries.length = 2^b - 1, so pos + step never exceeds the array
    // (no bounds guard); a NULL x fails every <= probe and lands in bucket
    // 0, exactly like the filter-scan form this replaces.
    val withBuckets = cols.zip(bounds).zipWithIndex.foldLeft(cur) {
      case (d, ((c, bs), i)) =>
        import org.apache.spark.sql.functions.{element_at, lit, when}
        val arr = expr(bs.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ",", ")"))
        def x = expr(s"CAST(`$c` AS DOUBLE)")
        val zb = s"_zb$i"
        var d2 = d.withColumn(zb,
          when(element_at(arr, lit(buckets / 2)) <= x, lit(buckets / 2)).otherwise(lit(0)))
        var step = buckets / 4
        while (step >= 1) {
          d2 = d2.withColumn(zb,
            col(zb) + when(element_at(arr, col(zb) + lit(step)) <= x, lit(step)).otherwise(lit(0)))
          step /= 2
        }
        d2
    }
    // Morton interleave: bit j of column i lands at position j*ncols + i
    val zTerms = for (i <- cols.indices; j <- 0 until bitsPerCol)
      yield s"shiftleft(CAST(shiftright(_zb$i, $j) & 1 AS BIGINT), ${j * cols.size + i})"
    val n = if (nFiles > 0) nFiles else spark.sessionState.conf.numShufflePartitions
    // Range-partition on the z-value's TOP bits (one Morton tile-group per
    // key), not the raw z-value: the range partitioner's sampled boundaries
    // would otherwise cut mid-tile and widen every file's per-column bounds
    // past its tile. Equal keys never split across range partitions, so
    // files hold WHOLE tiles and their zone maps stay hyper-rectangles.
    val totalBits = bitsPerCol * cols.size
    val fileBits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(n - 1L).toInt)
    val shift0 = math.max(0, totalBits - fileBits)
    val withZv = withBuckets.withColumn("_zv", expr(zTerms.mkString(" + ")))
    // Skew adaptation: a low-cardinality/skewed column contributes near-zero
    // information in its high bits, collapsing the naive top-bit grouping to
    // far fewer than n groups (few fat files, no pruning). Pick the COARSEST
    // shift that still yields >= n tile-groups. Up to 2^20 interleaved bits
    // the z-value's distinct set itself is small: one EXACT partial-agged
    // distinct (tiny shuffle of <= 2^totalBits longs) reaches the driver and
    // every candidate shift's group count is a driver-side fold — one cheap
    // pass instead of one HLL sketch per candidate. Wider bit spaces fall
    // back to the simultaneous approx_count_distinct pass (no Expand —
    // approximate distincts share the scan).
    import org.apache.spark.sql.functions.approx_count_distinct
    val candShifts = (0 to shift0).reverse
    val shift =
      if (shift0 == 0) 0
      else if (totalBits <= 20) {
        val zv = withZv.select(col("_zv")).distinct().collect().map(_.getLong(0))
        candShifts.collectFirst {
          case s if zv.iterator.map(_ >> s).toSet.size >= n => s
        }.getOrElse(0)
      } else {
        val row = withZv.agg(
          approx_count_distinct(expr(s"shiftright(_zv, ${candShifts.head})")).as("d0"),
          candShifts.tail.map(s =>
            approx_count_distinct(expr(s"shiftright(_zv, $s)")).as(s"d$s")): _*).head()
        candShifts.zipWithIndex.collectFirst {
          case (s, i) if row.getLong(i) >= n => s
        }.getOrElse(0)
      }
    val withZ = withZv.withColumn("_zf", expr(s"shiftright(_zv, $shift)"))
    val helper = Seq("_zv", "_zf") ++ cols.indices.map(i => s"_zb$i")
    val clustered = withZ.repartitionByRange(n, col("_zf"))
      .sortWithinPartitions("_zv")
      .drop(helper: _*)
    val newSnap = write(clustered, table, WriteSpec(stats = Some(cols.map(c => (c, s"`$c`"))),
      blooms = bloomCols.map(c => c -> bloomBits(c)))).get
    putMeta(table, "zorder.cols", cols.mkString(","))
    newSnap
  }

  /** Iceberg-style remove_orphan_files — the third maintenance op (next to
    * compaction and snapshot expiry): data files on storage that NO
    * retained manifest references are crash debris (a mid-append death
    * after the data write, before the manifest commit — exactly the
    * at-least-once replay case [[appendBatch]] documents) and accumulate
    * forever unless collected. Deletes unreferenced files under the
    * table's data/ directory older than `graceMs` (a writer may have
    * landed data and not yet committed — the claim-file window; Iceberg's
    * own default is 3 days), returning the deleted paths. Files referenced
    * by ANY retained snapshot (not just CURRENT) survive — time travel is
    * never broken.
    */
  def removeOrphanFiles(table: String, graceMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = {
    val dataRoot = new HPath(root, s"$table/data")
    val fs = fsOf(dataRoot)
    if (!fs.exists(dataRoot)) return Nil
    val referenced: Set[String] =
      snapshots(table).flatMap(s => manifestFiles(table, s)).toSet
    val cutoff = System.currentTimeMillis - graceMs
    val it = fs.listFiles(dataRoot, true)
    val orphans = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val p = pathStr(st.getPath)
      val name = st.getPath.getName
      // writer bookkeeping (_SUCCESS, .crc, _temporary) is not data — a
      // committed snapshot's manifest lists only its parquet files
      val bookkeeping = name.startsWith("_") || name.startsWith(".")
      if (st.isFile && !bookkeeping && !referenced.contains(p) && st.getModificationTime < cutoff)
        orphans += p
    }
    orphans.foreach(f => fsDelete(new HPath(f)))
    orphans.toSeq
  }

  /** The `table$files` metadata table: one row per CURRENT data file —
    * (file, add_snapshot, bytes, n_rows) with n_rows from the stats sidecar
    * when one exists (null otherwise). O(files) driver metadata, zero data
    * opened; what a maintenance dashboard joins against.
    */
  def filesDF(spark: SparkSession, table: String): DataFrame = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val counts = fileRowCounts(table, snap)
    val rows = filesWithAddOrder(table, snap).map { case (f, add) =>
      val p = new HPath(f)
      (f, add, fsOf(p).getFileStatus(p).getLen,
        counts.get(f).map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(rows).toDF("file", "add_snapshot", "bytes", "n_rows")
  }

  /** The `table$snapshots` metadata table: one row per retained snapshot —
    * (snapshot, committed_at, n_data_files, n_delete_files, is_current)
    * ascending, committed_at from the manifest list's filesystem timestamp.
    */
  def snapshotsDF(spark: SparkSession, table: String): DataFrame = {
    val cur = currentSnapshot(table)
    val rows = snapshots(table).map { s =>
      val mp = new HPath(manifestDir(table), s"v$s.json")
      (s, new java.sql.Timestamp(fsOf(mp).getFileStatus(mp).getModificationTime),
        filesWithAddOrder(table, s).size.toLong,
        entriesOf(table, s).count(_.startsWith("!")).toLong,
        cur.contains(s))
    }
    spark.createDataFrame(rows)
      .toDF("snapshot", "committed_at", "n_data_files", "n_delete_files", "is_current")
  }

  /** `cat.t.properties`: the user TBLPROPERTIES as (key, value) rows. */
  def propertiesDF(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    listMeta(table, "prop.").map { case (k, v) => (k.stripPrefix("prop."), v) }
      .toDF("key", "value")
  }

  /** `cat.t.partitions` (Iceberg's partitions inspection table): per
    * partition-value file and row counts of the CURRENT snapshot, from the
    * pins + `__count` sidecars — zero data files opened. Answers only on
    * the exact-clustered layout with complete counts and no pending
    * tombstone (the [[partitionGroupCounts]] refusal rules; a mixed-spec
    * or unpinned table reports zero rows rather than a wrong census).
    */
  def partitionsDF(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, Long, Long)] = (for {
      snap <- currentSnapshot(table)
      if deleteRefsOf(table, snap).isEmpty
      vals <- partitionValuesAt(table, snap).map(_.toMap)
      counts = fileRowCounts(table, snap)
      all = manifestFiles(table, snap)
      if all.forall(f => counts.contains(f) && vals.contains(f))
    } yield all.groupBy(vals).toSeq.map { case (v, fs) =>
      (v.orNull, fs.size.toLong, fs.map(counts).sum)
    }.sortBy(r => Option(r._1).getOrElse(""))).getOrElse(Nil)
    rows.toDF("value", "n_files", "n_rows")
  }

  /** The `table$refs` metadata table: CURRENT plus every tag and branch —
    * (name, kind, snapshot). */
  def refsDF(spark: SparkSession, table: String): DataFrame = {
    val rows = currentSnapshot(table).map(s => ("CURRENT", "current", s)).toSeq ++
      tags(table).toSeq.sortBy(_._1).map { case (n, s) => (n, "tag", s) } ++
      branches(table).toSeq.sortBy(_._1).map { case (n, s) => (n, "branch", s) }
    spark.createDataFrame(rows).toDF("name", "kind", "snapshot")
  }

  /** Iceberg-style named refs (tags): a durable human-named pointer to a
    * snapshot — "prod" keeps serving while experiments append on top,
    * an audit pins "q3-release" for as long as the tag lives. Tags are
    * LOAD-BEARING against maintenance: [[expireSnapshots]] keeps every
    * tagged snapshot (and, by reference counting, its metadata and data
    * files) alive regardless of keepLast. Retargeting a tag is the same
    * atomic pointer swap as CURRENT; dropping it releases the snapshot to
    * the next expiry.
    */
  def tagSnapshot(table: String, name: String, snap: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"unsupported tag name: $name")
    require(fsExists(new HPath(manifestDir(table), s"v$snap.json")),
      s"no snapshot $snap for $table")
    putMeta(table, s"tag.$name", snap.toString)
  }

  def dropTag(table: String, name: String): Unit =
    fsDelete(new HPath(manifestDir(table), s"meta.tag.$name"))

  def tags(table: String): Map[String, Long] =
    listNames(manifestDir(table)).filter(_.startsWith("meta.tag."))
      .map(n => n.stripPrefix("meta.tag.") ->
        readStr(new HPath(manifestDir(table), n)).trim.toLong)
      .toMap

  def readTag(spark: SparkSession, table: String, name: String): DataFrame =
    readSnapshot(spark, table, tags(table).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on $table")))

  // ------------------------------------------------------------------
  // Branches: WRITABLE named refs — the WRITE-AUDIT-PUBLISH pattern
  // (Iceberg's flagship staging flow). A crawl drop lands on a branch,
  // quality audits run against the branch head while production readers
  // keep seeing CURRENT untouched, and a passing audit PUBLISHES by
  // fast-forwarding CURRENT to the branch head — one atomic pointer swap,
  // zero data movement. A failing audit just drops the branch; the staged
  // snapshots expire with the next maintenance pass.
  // ------------------------------------------------------------------

  /** Create (or retarget) a branch at `snap` (default: CURRENT). */
  def createBranch(table: String, name: String, snap: Long = -1L): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"unsupported branch name: $name")
    val at = if (snap > 0) snap else currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    require(fsExists(new HPath(manifestDir(table), s"v$at.json")),
      s"no snapshot $at for $table")
    putMeta(table, s"branch.$name", at.toString)
  }

  def branchHead(table: String, name: String): Option[Long] =
    getMeta(table, s"branch.$name").map(_.trim.toLong)

  def branches(table: String): Map[String, Long] =
    listNames(manifestDir(table)).filter(_.startsWith("meta.branch."))
      .map(n => n.stripPrefix("meta.branch.") ->
        readStr(new HPath(manifestDir(table), n)).trim.toLong)
      .toMap

  def dropBranch(table: String, name: String): Unit =
    fsDelete(new HPath(manifestDir(table), s"meta.branch.$name"))

  def readBranch(spark: SparkSession, table: String, name: String): DataFrame =
    readSnapshot(spark, table, branchHead(table, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $table")))

  /** Fast-append to a BRANCH head: identical commit mechanics to [[append]]
    * (data before the lock, O(delta) manifest list, global snapshot ids)
    * except the pointer that moves is the branch's, never CURRENT —
    * production readers cannot observe staged data.
    */
  def appendToBranch(df: DataFrame, table: String, name: String): Long = {
    require(branchHead(table, name).isDefined, s"no branch '$name' on $table")
    write(df, table, WriteSpec(WriteMode.Branch(name))).get
  }

  /** PUBLISH: fast-forward CURRENT to the branch head — allowed only when
    * CURRENT is an ANCESTOR of the head (its manifest-list entries are a
    * subset of the head's, the same content-lineage criterion the
    * incremental scan uses to detect rewrites), so publishing can never
    * silently discard commits that landed on main after the branch forked;
    * a diverged main refuses loudly (Iceberg's fast_forward fails the same
    * way — the resolution is a fresh branch off the new main).
    */
  def fastForward(table: String, name: String): Long = {
    val head = branchHead(table, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $table"))
    withCommitLock(table) {
      val cur = currentSnapshot(table).getOrElse(
        throw new IllegalStateException(s"no committed snapshot for $table"))
      if (cur != head) {
        val missing = entriesOf(table, cur).toSet -- entriesOf(table, head).toSet
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"cannot fast-forward '$table' to branch '$name': CURRENT ($cur) has " +
            s"${missing.size} entries the branch head ($head) lacks — main diverged " +
            "after the fork; re-branch from the new main and re-stage")
        rollbackTo(table, head)
      }
      head
    }
  }

  /** Iceberg's `cherrypick_snapshot`: apply ONE staged fast-append's delta
    * onto CURRENT as a new commit — the WAP publish that still works after
    * main DIVERGED (where [[fastForward]] correctly refuses). Metadata-only:
    * the staged data files are referenced in place (zero bytes copied); the
    * delta manifest and its stats/bloom sidecars are re-written under the
    * NEW snapshot id so the picked files take the new commit's position in
    * the delete-sequence rule — an equality takedown that landed on main
    * BEFORE the pick does not apply to the freshly published rows, exactly
    * the re-append-after-takedown rule the rest of the catalog follows.
    *
    * Only fast-appends are pickable (the snapshot's last manifest-list
    * entry is its own delta and a parent entry exists): a replace/compact
    * snapshot's single manifest is the whole table, and picking it would
    * silently duplicate every row. Files already present in CURRENT refuse
    * (double-publish guard).
    */
  def cherryPick(table: String, snap: Long): Long = {
    val dir = manifestDir(table)
    require(fsExists(new HPath(dir, s"v$snap.json")),
      s"cherry-pick on '$table': no snapshot $snap (expired?)")
    val picked = entriesOf(table, snap)
    require(picked.size >= 2 && picked.last == s"@m$snap.json",
      s"cherry-pick on '$table': snapshot $snap is not a parented fast-append — " +
      "only append deltas can be cherry-picked (a replace manifest would " +
      "duplicate the whole table)")
    // an upsert/delete snapshot carries its OWN tombstone ref alongside the
    // delta — picking only the delta would silently apply half the commit
    require(!picked.exists(e => e.startsWith("!") &&
        e.drop(2).takeWhile(_.isDigit) == snap.toString),
      s"cherry-pick on '$table': snapshot $snap pairs its delta with a delete " +
      "tombstone (upsert/takedown shape) — picking the delta alone would apply " +
      "half the commit; re-run the upsert against CURRENT instead")
    val files = parseJsonArray(readStr(new HPath(dir, s"m$snap.json")))
    val newSnap = claimSnapshotId(table)
    withCommitLock(table) {
      val cur = currentSnapshot(table).getOrElse(throw new IllegalStateException(
        s"cherry-pick on '$table': no committed snapshot"))
      val curFiles = manifestFiles(table, cur).toSet
      val dup = files.filter(curFiles)
      require(dup.isEmpty,
        s"cherry-pick on '$table': ${dup.size} of snapshot $snap's data files are " +
        s"already in CURRENT ($cur) — already published?")
      // the delta + sidecars under the NEW id (new add order in the
      // sequence rule); content is copied verbatim — sidecar lines are
      // keyed by file path, not by snapshot
      val entry = writeDeltaManifest(table, newSnap.toString, files)
      deltaSidecars(listNames(dir), snap.toString)
        .foreach { n =>
          writeStr(new HPath(dir, s"m$newSnap" + n.stripPrefix(s"m$snap")),
            readStr(new HPath(dir, n)))
        }
      commitSnapshot(table, newSnap, entriesOf(table, cur) :+ entry)
    }
    newSnap
  }

  /** Iceberg-style expire_snapshots: drop all but the last `keepLast`
    * snapshots (CURRENT, every TAGGED snapshot and every BRANCH HEAD always
    * survive) and delete the data files, delta manifests and delete files
    * referenced ONLY by expired manifest lists — snapshots sharing metadata
    * with a live version keep it on disk. Returns the expired snapshot ids.
    */
  /** Iceberg-style rewrite_manifests: METADATA-ONLY consolidation of the
    * current snapshot's delta-manifest chain. After n streaming appends a
    * read parses n small manifest files — O(appends) metadata per read,
    * the read-side twin of the append-time carry-forward this catalog
    * already killed. Delta manifests merge WITHIN each equality-delete gap
    * into one consolidated manifest named `m<effK>-<snap>.json` (effK =
    * the group's smallest add order, snap = the rewriting snapshot — the
    * digits-prefix convention [[addOrderOfId]] reads back). The sequence
    * rule is preserved EXACTLY: a delete at D applies to a file iff
    * D > addOrder, and no delete snapshot lies strictly inside a group's
    * add-order interval by construction, so collapsing the interval to its
    * minimum changes no file's applicable-delete set. Consolidated
    * manifests are bounded by the DELETE count + 1, never the append
    * count. Data files untouched; stats/bloom sidecars merge by
    * concatenation under the consolidated id (files without coverage stay
    * uncovered — pruning keeps them conservatively, same as pre-rewrite);
    * tombstones and legacy raw-path entries pass through; older snapshots
    * keep their original manifests (time travel intact) until expired,
    * when ref-counted GC collects the superseded deltas and their
    * sidecars. Incremental windows crossing the rewrite refuse, like
    * compaction. Returns the new snapshot id, or the current one when no
    * group has two manifests to merge.
    */
  def rewriteManifests(table: String): Long = withCommitLock(table) {
    val cur = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    val entries = entriesOf(table, cur)
    // only EQUALITY deletes constrain consolidation (their applicability
    // depends on file add order); positional refs name files explicitly,
    // are immune to add-order changes, and pass through with the other
    // non-@ entries below
    val delSnaps = entries.filter(_.startsWith("!d"))
      .map(_.stripPrefix("!d").split('.')(0).toLong).sorted
    val groups = entries.filter(_.startsWith("@")).groupBy { e =>
      delSnaps.count(_ <= addOrderOfId(e.stripPrefix("@m").stripSuffix(".json")))
    }
    if (!groups.values.exists(_.size > 1)) cur
    else {
      val snap = claimSnapshotId(table)
      val dir = manifestDir(table)
      val names = listNames(dir)
      val merged = groups.toSeq.sortBy(_._1).map { case (_, refs) =>
        if (refs.size == 1) refs.head
        else {
          val ids = refs.map(_.stripPrefix("@m").stripSuffix(".json"))
          val newId = s"${ids.map(addOrderOfId).min}-$snap"
          val files = refs.flatMap(e =>
            parseJsonArray(readStr(new HPath(dir, e.stripPrefix("@")))))
            .distinct.sorted
          writeStr(new HPath(dir, s"m$newId.json"),
            files.map(f => "\"" + f + "\"").mkString("[\n", ",\n", "\n]"))
          def mergeSidecar(suffix: String): Unit = {
            val parts = ids.map(i => new HPath(dir, s"m$i$suffix"))
              .filter(fsExists).map(readStr)
            if (parts.nonEmpty)
              writeStr(new HPath(dir, s"m$newId$suffix"),
                parts.map(_.stripSuffix("\n")).mkString("", "\n", "\n"))
          }
          mergeSidecar(".stats.tsv")
          // the consolidated delta records its members' merged schema —
          // when every member recorded one
          val schemas = ids.map(recordedSchema(table, _))
          if (schemas.forall(_.isDefined))
            writeStr(new HPath(dir, s"m$newId.schema"),
              schemas.flatten.reduce(mergeTypes(table)(_, _)).json)
          ids.flatMap { i =>
            names.filter(n => n.startsWith(s"m$i.bloom.") && n.endsWith(".tsv"))
              .map(_.stripPrefix(s"m$i.bloom.").stripSuffix(".tsv"))
          }.distinct.foreach(c => mergeSidecar(s".bloom.$c.tsv"))
          s"@m$newId.json"
        }
      }
      commitSnapshot(table, snap, merged ++ entries.filterNot(_.startsWith("@")))
      snap
    }
  }

  def expireSnapshots(table: String, keepLast: Int): Seq[Long] = {
    val snaps = snapshots(table)
    val keep: Set[Long] = snaps.takeRight(math.max(keepLast, 1)).toSet ++
      currentSnapshot(table) ++ tags(table).values ++ branches(table).values
    val expired = snaps.filterNot(keep)
    // preserve the exactly-once markers of pre-marker streaming batches
    // whose manifests are about to disappear (see batchCommitted)
    val batchRe = "/batch-(\\d+)/".r
    val expiredIds = expired.flatMap(s => manifestFiles(table, s))
      .flatMap(f => batchRe.findFirstMatchIn(f).map(_.group(1).toLong)).toSet
    if (expiredIds.nonEmpty) {
      val ledger = expiredBatches(table) ++ expiredIds
      val tmp = new HPath(manifestDir(table), ".batches.expired.tmp")
      writeStr(tmp, ledger.toSeq.sorted.mkString("", "\n", "\n"))
      atomicSwap(tmp, new HPath(manifestDir(table), "batches.expired.tsv"))
    }
    // reference-counted GC at both levels: data files, then metadata refs
    val liveFiles = keep.flatMap(s => manifestFiles(table, s))
    expired.flatMap(s => manifestFiles(table, s)).distinct
      .filterNot(liveFiles)
      .foreach(f => fsDelete(new HPath(f)))
    val liveRefs = keep.flatMap(s => entriesOf(table, s)).filter(e =>
      e.startsWith("@") || e.startsWith("!"))
    val allNames = listNames(manifestDir(table))
    expired.flatMap(s => entriesOf(table, s)).distinct
      .filter(e => e.startsWith("@") || e.startsWith("!"))
      .filterNot(liveRefs)
      .foreach { e =>
        fsDelete(new HPath(manifestDir(table), e.drop(1)))
        // a dead delta manifest takes its sidecars with it
        if (e.startsWith("@"))
          deltaSidecars(allNames, e.stripPrefix("@m").stripSuffix(".json"))
            .foreach(n => fsDelete(new HPath(manifestDir(table), n)))
      }
    expired.foreach { s =>
      fsDelete(new HPath(manifestDir(table), s"v$s.json"))
      // legacy whole-table sidecars and the cumulative sketch sidecars are
      // snapshot-keyed — expire with it
      allNames.filter(n => n == s"v$s.stats.tsv" ||
          (n.startsWith(s"v$s.bloom.") && n.endsWith(".tsv")) ||
          (n.startsWith(s"v$s.hll.") && n.endsWith(".bin")) ||
          (n.startsWith(s"v$s.dd.") && n.endsWith(".tsv")))
        .foreach(n => fsDelete(new HPath(manifestDir(table), n)))
    }
    expired
  }

  /** Commit + per-FILE column stats (Iceberg manifest zone maps): the
    * writer folds each file's (min, max) per stats column as it writes the
    * rows, and the commit records them in the delta's `m<N>.stats.tsv`
    * sidecar beside each file's row count — the bounds of exactly the rows
    * written, with no second pass over the data. At 100 TB these zone maps
    * are what lets a warc_ts- or doc_id-ranged query open 0.1% of the
    * files instead of all of them (the writer-side stats Iceberg collects
    * in its manifests).
    */
  def commitWithStats(df: DataFrame, table: String, statsCols: Seq[String]): Long =
    write(df, table, WriteSpec(stats = Some(statsCols.map(c => (c, s"`$c`"))))).get

  /** All per-file stats lines visible at `snap`: the snapshot's legacy
    * whole-table `v<N>.stats.tsv` (pre-two-level tables keep reading) plus
    * every delta manifest's OWN `m<K>.stats.tsv` — the sidecar mirror of
    * the two-level manifest metadata. An append writes O(delta) stats
    * bytes; the old carry-forward copy was O(table) per append, i.e.
    * O(drops²) cumulative — the same quadratic-metadata shape the round-3
    * manifest fix killed, eliminated here the same way.
    */
  private def statsLinesAt(table: String, snap: Long): Seq[Array[String]] = {
    val dir = manifestDir(table)
    val legacy = {
      val p = new HPath(dir, s"v$snap.stats.tsv")
      if (fsExists(p)) Seq(readStr(p)) else Nil
    }
    val deltas = entriesOf(table, snap).filter(_.startsWith("@")).flatMap { e =>
      val k = e.stripPrefix("@m").stripSuffix(".json")
      val p = new HPath(dir, s"m$k.stats.tsv")
      if (fsExists(p)) Some(readStr(p)) else None
    }
    (legacy ++ deltas).flatMap(_.split('\n')).filter(_.nonEmpty).map(_.split('\t'))
  }

  /** Columns the DSv2 scan can prune FILES on at runtime (dynamic file
    * pruning): every column carrying a zone-map stat line at `snap`, every
    * bloom-sidecar column, and the partition transform's source column.
    * The `__count` bookkeeping pseudo-column and `part:`-prefixed transform
    * stats are metadata names, not filterable columns, and are excluded —
    * transform stats are still CONSULTED when the spec's source column is
    * filtered (the scan translates the literal through the transform).
    */
  def runtimePrunableColumns(table: String, snap: Long): Seq[String] = {
    val statCols = statsLinesAt(table, snap).collect {
      case l if l.length >= 2 && l(1) != "__count" && !l(1).startsWith("part:") => l(1)
    }
    (statCols ++ bloomColumnsAt(table, snap) ++ partitionSpec(table).map(_.col)).distinct
  }

  /** [[statsLinesAt]] for bloom sidecars of one column. */
  private def bloomLinesAt(table: String, snap: Long, col: String): Seq[Array[String]] = {
    val dir = manifestDir(table)
    val legacy = {
      val p = new HPath(dir, s"v$snap.bloom.$col.tsv")
      if (fsExists(p)) Seq(readStr(p)) else Nil
    }
    val deltas = entriesOf(table, snap).filter(_.startsWith("@")).flatMap { e =>
      val k = e.stripPrefix("@m").stripSuffix(".json")
      val p = new HPath(dir, s"m$k.bloom.$col.tsv")
      if (fsExists(p)) Some(readStr(p)) else None
    }
    (legacy ++ deltas).flatMap(_.split('\n')).filter(_.nonEmpty).map(_.split('\t'))
  }

  /** Columns with a bloom sidecar anywhere in `snap`'s metadata. */
  private def bloomColumnsAt(table: String, snap: Long): Seq[String] = {
    val names = listNames(manifestDir(table))
    val legacy = names.filter(n => n.startsWith(s"v$snap.bloom.") && n.endsWith(".tsv"))
      .map(_.stripPrefix(s"v$snap.bloom.").stripSuffix(".tsv"))
    val deltaIds = entriesOf(table, snap).filter(_.startsWith("@"))
      .map(_.stripPrefix("@m").stripSuffix(".json")).toSet
    val deltas = names.filter(n => n.startsWith("m") && n.contains(".bloom.") && n.endsWith(".tsv"))
      .flatMap { n =>
        val id = n.substring(1, n.indexOf(".bloom."))
        if (deltaIds(id)) Some(n.substring(n.indexOf(".bloom.") + 7).stripSuffix(".tsv"))
        else None
      }
    (legacy ++ deltas).distinct
  }

  // ------------------------------------------------------------------
  // Hidden partitioning (Iceberg partition transforms — see
  // [[PartTransform]]). The table declares one transform; writers cluster
  // files by it; equality/range reads on the RAW column prune through the
  // per-file transform bounds in the stats sidecar. The schema never grows
  // a partition column.
  // ------------------------------------------------------------------

  /** The table's declared partition transform, if any. */
  def partitionSpec(table: String): Option[PartTransform] =
    getMeta(table, "partition.spec").map(PartTransform.parse)

  /** PARTITION SPEC EVOLUTION (Iceberg's spec-evolution contract): change
    * the table's transform WITHOUT rewriting a byte — old files keep the
    * pruning metadata of the spec they were written under (their stats
    * rows carry the OLD spec's statName), new appends cluster and stat
    * under the new spec, and the read path prunes each era's files by its
    * own spec (the DSv2 scan's pruner intersects the per-spec keep-sets —
    * a per-file "prunable by ANY era's bounds" OR, since a file without a
    * given spec's stats is conservatively kept by that spec). Surfaces
    * that REQUIRE a single pinned layout (storage-partitioned joins, the
    * metadata group census) refuse automatically on
    * a mixed table — old files lack the new statName, so
    * [[partitionValuesAt]] answers None — and come back after
    * [[compactSorted]] rewrites every file under the current spec. At
    * 100 TB this is the "we bucketed by url, we need days(warc_ts) now"
    * move: a metadata-only flip instead of a table rewrite.
    */
  def evolveSpec(table: String, next: PartTransform): Unit = {
    val cur = partitionSpec(table).getOrElse(throw new IllegalStateException(
      s"evolveSpec on '$table': no partition spec — commitPartitioned first"))
    require(cur.render != next.render,
      s"evolveSpec on '$table': already partitioned by ${next.render}")
    val hist = (specHistory(table) :+ cur).map(_.render).mkString(";")
    putMeta(table, "partition.spec.history", hist)
    putMeta(table, "partition.spec", next.render)
  }

  /** Retired partition specs, oldest first (empty if never evolved). */
  def specHistory(table: String): Seq[PartTransform] =
    getMeta(table, "partition.spec.history").toSeq
      .flatMap(_.split(";")).filter(_.nonEmpty).map(PartTransform.parse)

  /** Current + retired specs filtering on `column` — the specs whose
    * per-era bounds a point/range read on that column may prune with.
    */
  private[graft] def specsForCol(table: String, column: String): Seq[PartTransform] =
    (partitionSpec(table).toSeq ++ specHistory(table)).filter(_.col == column)

  /** Initial partitioned write: cluster rows into `nFiles` outputs by the
    * transform value (range-partitioned, so each file covers a DISJOINT
    * transform range — pruning then opens ~1/n of the files for a point
    * lookup), record the spec in table metadata and the per-file transform
    * bounds (plus any extra stats columns) in the sidecar. `nFiles <= 0`
    * defaults to the bucket count for bucket transforms, else the session's
    * shuffle parallelism.
    */
  def commitPartitioned(df: DataFrame, table: String, spec: PartTransform,
                        statsCols: Seq[String] = Nil, nFiles: Int = 0): Long =
    write(df, table, partitioned(df, spec, statsCols, nFiles)).get

  /** The spec of a partitioned write: `nFiles` (default: the bucket count
    * for bucket transforms, else the session's shuffle parallelism) tasks
    * clustered by the transform, its bounds leading the stats. */
  private def partitioned(df: DataFrame, spec: PartTransform, statsCols: Seq[String],
                          nFiles: Int, mode: WriteMode = WriteMode.Overwrite): WriteSpec =
    WriteSpec(mode, stats = Some(statsCols.map(c => (c, s"`$c`"))), part = Some(spec),
      nFiles = if (nFiles > 0) nFiles else spec match {
        case BucketTransform(b, _) => b
        case _ => df.sparkSession.sessionState.conf.numShufflePartitions
      })

  /** EXACT-clustered partitioned commit: ONE transform value per data file —
    * the layout storage-partitioned joins need ([[partitionValuesAt]] /
    * the DSv2 scan's `SupportsReportPartitioning`). [[commitPartitioned]]'s
    * range clustering BOUNDS each file's values but does not pin them; this
    * path hash-clusters the rows into `nTasks` tasks and sorts each by the
    * transform, and the writer starts a new file at every value change —
    * so a task emits one file per transform value it holds. The value
    * lives ONLY in the stats sidecar (the writer's bounds, lo == hi); the
    * layout stays hidden.
    */
  def commitPartitionedExact(df: DataFrame, table: String, spec: PartTransform,
                             statsCols: Seq[String] = Nil, nTasks: Int = 0): Long =
    write(df, table, partitioned(df, spec, statsCols, nTasks).copy(exact = true)).get

  /** Per-file SINGLE transform values at `snap` — Some only when EVERY data
    * file's transform bounds satisfy lo == hi (the exact-clustered layout).
    * A `None` value entry is a file whose rows all transform to NULL. This
    * is the storage-partitioned-join planning surface: when it answers, the
    * scan can report `KeyGroupedPartitioning` and equal-keyed tables join
    * with ZERO shuffle.
    */
  def partitionValuesAt(table: String, snap: Long): Option[Seq[(String, Option[String])]] =
    partitionSpec(table).flatMap { spec =>
      val all = manifestFiles(table, snap)
      val bounds = statsLinesAt(table, snap)
        .collect { case Array(f, c, mn, mx) if c == spec.statName =>
          (f, (unescStat(mn), unescStat(mx))) }.toMap
      val ok = all.nonEmpty &&
        all.forall(f => bounds.get(f).exists { case (mn, mx) => mn == mx })
      if (ok) Some(all.map(f => (f, bounds(f)._1))) else None
    }

  /** Partitioned fast-append (the incremental crawl-drop write): the drop
    * clusters by the table's declared transform and appends as one delta
    * carrying its OWN `m<K>.stats.tsv` — O(delta) stats bytes per append
    * (readers merge the chain via [[statsLinesAt]]); pruning stays exact
    * across any number of drops.
    */
  def appendPartitioned(df: DataFrame, table: String,
                        statsCols: Seq[String] = Nil, nFiles: Int = 0): Long = {
    val spec = partitionSpec(table).getOrElse(throw new IllegalStateException(
      s"table '$table' has no partition spec — commitPartitioned first"))
    currentSnapshot(table).getOrElse(throw new IllegalStateException(
      s"table '$table' has no committed snapshot — commitPartitioned first"))
    write(df, table, partitioned(df, spec, statsCols, nFiles, WriteMode.Append)).get
  }

  /** Iceberg's partition overwrite (`INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`, or an explicit
    * static `PARTITION (col=v)` clause): atomically REPLACE exactly the
    * partitions the new data touches and keep every other file — the
    * "re-land today's recrawl of these languages" write, with zero bytes of
    * the untouched 100 TB rewritten and one metadata-only snapshot swap.
    *
    * `explicit` carries the static PARTITION clause's value set when
    * present: rows falling outside the named partitions are refused (never
    * silently dropped — Spark's static contract), and a named partition
    * with NO new rows is cleared. `None` is the dynamic mode: touched
    * partitions = the distinct transform values the new files pin.
    *
    * Refusal-never-wrong preconditions (the pinned-only-surface
    * convention): every current file must be pinned to one transform value
    * (mixed layouts — plain `commit`/spec evolution eras — can't prove
    * which rows a partition swap replaces; `compactSorted` re-unifies) and
    * no delete tombstone may be pending (a tombstone's applicable-file set
    * would silently change under the swap; `compact` materializes them
    * first). Kept files carry their stats/bloom sidecar lines into the new
    * snapshot verbatim, so pruning and metadata-only aggregation survive
    * the overwrite. The new snapshot is a REPLACE (fresh single manifest) —
    * incremental reads across it refuse as a rewrite, exactly like
    * `compact`; time travel to the pre-overwrite snapshot stays complete.
    */
  def overwritePartitionValues(files: Seq[WrittenFile], table: String,
      explicit: Option[Set[String]] = None): Long = {
    val spec = partitionSpec(table).getOrElse(throw new IllegalStateException(
      s"partition overwrite of '$table': table declares no partition transform " +
      "(plain INSERT OVERWRITE replaces the whole table)"))
    val newPins: Map[String, String] = files.flatMap(f => f.bounds.collect {
      case (c, Some(lo), hi) if c == spec.statName && hi.contains(lo) => f.path -> lo
    }).toMap
    files.foreach { f => require(newPins.contains(f.path),
      s"partition overwrite of '$table': new file ${f.path} is not pinned to one " +
      s"${spec.statName} value") }
    explicit.foreach { allowed =>
      val stray = files.flatMap(f => newPins.get(f.path)).filterNot(allowed).distinct
      require(stray.isEmpty,
        s"overwrite of '$table' PARTITION (${spec.col}=...): rows fall outside the " +
        s"named partition(s): ${stray.mkString(", ")}")
    }
    val touched: Set[String] = explicit.getOrElse(files.map(f => newPins(f.path)).toSet)
    val snap = claimSnapshotId(table)
    withCommitLock(table) {
      val (kept, keptStats, keptBlooms, keptSchemas) = currentSnapshot(table) match {
        case None => (Seq.empty[String], Seq.empty[String], Map.empty[String, Seq[String]], Nil)
        case Some(cur) =>
          require(deleteRefsOf(table, cur).isEmpty,
            s"partition overwrite of '$table': pending delete tombstones — compact() " +
            "materializes them first (a tombstone's file set can't survive the swap)")
          val pins = partitionValuesAt(table, cur).getOrElse(throw new IllegalStateException(
            s"partition overwrite of '$table': not every file is pinned to one " +
            s"${spec.statName} value — compactSorted() re-unifies the layout"))
          pins.foreach { case (f, v) => require(v.isDefined,
            s"partition overwrite of '$table': unreadable pin for $f") }
          val kept = pins.collect { case (f, Some(v)) if !touched(v) => f }
          val keptSet = kept.toSet
          val keptStats = statsLinesAt(table, cur)
            .collect { case l if keptSet(l(0)) => l.mkString("\t") }
          val blooms = bloomColumnsAt(table, cur).map { c =>
            c -> bloomLinesAt(table, cur, c)
              .collect { case l if keptSet(l(0)) => l.mkString("\t") }
          }.toMap.filter(_._2.nonEmpty)
          // the schemas of the deltas the kept files come from
          val schemas = entriesOf(table, cur).filter(_.startsWith("@")).flatMap { e =>
            val id = e.stripPrefix("@m").stripSuffix(".json")
            val mine = parseJsonArray(readStr(new HPath(manifestDir(table), e.stripPrefix("@"))))
              .filter(keptSet)
            if (mine.isEmpty) None
            else recordedSchema(table, id).orElse(
              mine.flatMap(footerSchema).reduceOption[DataType](mergeTypes(table)(_, _)))
          }
          (kept, keptStats, blooms, schemas)
      }
      val allFiles = kept ++ files.map(_.path)
      require(allFiles.nonEmpty,
        s"partition overwrite of '$table': the result would be an empty table — " +
        "every snapshot owns >= 1 data file (DROP TABLE is the empty-the-table op)")
      val dir = manifestDir(table)
      writeStr(new HPath(dir, s"m$snap.stats.tsv"),
        statsBody(files) + keptStats.mkString("", "\n", "\n"))
      keptBlooms.foreach { case (c, lines) =>
        writeStr(new HPath(dir, s"m$snap.bloom.$c.tsv"), lines.mkString("", "\n", "\n"))
      }
      (keptSchemas ++ files.map(_.schema).distinct).reduceOption(mergeTypes(table)(_, _))
        .foreach(sc => writeStr(new HPath(dir, s"m$snap.schema"), sc.json))
      commitSnapshot(table, snap, Seq(writeDeltaManifest(table, snap.toString, allFiles)))
    }
    snap
  }

  /** Comparator tier for stringified stats bounds: exact longs, then exact
    * doubles, then parsed TIMESTAMPs, then byte-wise strings. Shared by
    * [[statsAgg]] and [[pruneFiles]] — a DOUBLE column must never fall back
    * to lexicographic order ("10.2" < "9.5" byte-wise), and a TIMESTAMP
    * column must compare as time, not bytes: Spark's canonical
    * "yyyy-MM-dd HH:mm:ss[.f]" happens to sort byte-wise, but a caller
    * passing ISO-8601 'T'-separated query bounds against space-separated
    * sidecar bounds would mis-sort at byte 10 (' ' < 'T') and silently
    * prune overlapping files — the warc_ts-ranged scan is THE zone-map use
    * case, so it gets its own tier.
    */
  private def parseTs(v: String): Option[java.sql.Timestamp] =
    scala.util.Try(java.sql.Timestamp.valueOf(v.replace('T', ' '))).toOption
  private def statCmp(vals: Seq[String]): (String, String) => Int = {
    def longs = vals.forall(v => scala.util.Try(v.toLong).isSuccess)
    def doubles = vals.forall(v =>
      scala.util.Try(v.toDouble).toOption.exists(d => !d.isNaN))
    def timestamps = vals.forall(v => parseTs(v).isDefined)
    if (longs) (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
    else if (doubles) (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
    else if (timestamps) (a, b) => parseTs(a).get.compareTo(parseTs(b).get)
    else (a, b) => a.compareTo(b)
  }

  /** Metadata-only aggregation (Iceberg's manifest-stats answer path):
    * global (min, max, count) of `column` for the CURRENT snapshot computed
    * purely from the `v<N>.stats.tsv` sidecar — O(files) driver work, ZERO
    * data files opened. At 100 TB this turns `SELECT min(ts), max(ts),
    * count(*)` — the first query every pipeline dashboard runs — from a
    * full scan into a metadata lookup.
    *
    * Soundness contract: answers ONLY when the sidecar is complete — every
    * manifest file must carry a `__count` row, and every file with rows
    * must carry a stats row for `column` (a fast-append / compaction /
    * plain-commit / delete snapshot has no sidecar → None; callers fall
    * back to the real scan). min/max skip all-null files (per SQL
    * semantics) while count(*) still includes their rows; a column whose
    * every file is all-null yields (None, None, count).
    */
  /** Metadata-only `GROUP BY <partition column> COUNT(*)`: per-group row
    * counts summed from the `__count` sidecar over files PINNED to one
    * identity-transform value each — the per-language corpus census over
    * 100 TB without opening a data file. Answerable (Some) only under the
    * same refusal rules as [[statsAgg]] (no tombstone of either kind, every
    * file counted) AND the exact-clustered layout (every file pinned to one
    * value — [[partitionValuesAt]]); anything else → None and the scan
    * falls back to the row path, never a wrong answer.
    */
  def partitionGroupCounts(table: String): Option[Seq[(Option[String], Long)]] = {
    val snap = currentSnapshot(table).getOrElse(return None)
    if (deleteRefsOf(table, snap).nonEmpty) return None
    if (!partitionSpec(table).exists(_.isInstanceOf[IdentityTransform])) return None
    val vals = partitionValuesAt(table, snap).getOrElse(return None).toMap
    val all = manifestFiles(table, snap)
    val counts = fileRowCounts(table, snap)
    if (!all.forall(f => counts.contains(f) && vals.contains(f))) return None
    Some(all.groupBy(vals).view.mapValues(_.map(counts).sum).toSeq
      .sortBy(_._1.getOrElse("")))
  }

  def statsAgg(table: String, column: String): Option[(Option[String], Option[String], Long)] = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    // a snapshot carrying delete tombstones (equality OR positional) cannot
    // answer from file-level stats: the sidecars count rows the deletes
    // remove, so the metadata path would silently overcount after a
    // takedown. Refuse instead (Iceberg disables metadata aggregates under
    // delete files the same way); compaction materializes the deletes and
    // compactSorted restores the sidecar, re-enabling this path.
    if (deleteRefsOf(table, snap).nonEmpty) return None
    val all = manifestFiles(table, snap)
    val lines = statsLinesAt(table, snap)
    if (lines.isEmpty) return None
    val counts = lines.collect { case Array(f, "__count", n, _) => f -> n.toLong }.toMap
    val stats = lines.collect { case Array(f, c, mn, mx) if c == column =>
      f -> ((unescStat(mn), unescStat(mx))) }.toMap
    // completeness: every file counted; every file WITH rows has column stats
    if (!all.forall(counts.contains)) return None
    if (!all.forall(f => counts(f) == 0L || stats.contains(f))) return None
    // all-null files (escaped-null bounds) are skipped for min/max per SQL
    // semantics; their rows still count
    val present = all.filter(f => counts(f) > 0L).map(stats)
      .collect { case (Some(mn), Some(mx)) => (mn, mx) }
    val cmp = statCmp(present.flatMap(p => Seq(p._1, p._2)))
    val mins = present.map(_._1)
    val maxs = present.map(_._2)
    Some((
      mins.reduceOption((a, b) => if (cmp(a, b) < 0) a else b),
      maxs.reduceOption((a, b) => if (cmp(a, b) < 0) b else a),
      all.map(counts).sum))
  }

  /** `statsAgg` as a 1-row DataFrame (min_v, max_v, n_rows — strings so any
    * column type round-trips; cast at the call site). Throws if the sidecar
    * cannot answer — the contract surface wants the metadata path PROVEN,
    * not silently degraded to a scan.
    */
  def statsAggDF(spark: SparkSession, table: String, column: String): DataFrame = {
    val (mn, mx, n) = statsAgg(table, column).getOrElse(
      throw new IllegalStateException(s"stats sidecar cannot answer for $table.$column"))
    spark.createDataFrame(Seq((mn.orNull, mx.orNull, n))).toDF("min_v", "max_v", "n_rows")
  }

  /** File-level zone-map pruning: the current snapshot's files whose
    * [min, max] range for `column` overlaps [lo, hi] (compared at the
    * numeric tier the bounds support — long, then double, then byte-wise
    * string). Files without stats — no sidecar, or a null min/max from an
    * all-null file — are conservatively KEPT: pruning is an optimization;
    * the reader still applies the real filter, so correctness never
    * depends on the zone maps.
    */
  def pruneFiles(table: String, column: String, lo: String, hi: String): Seq[String] = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    pruneFilesAt(table, snap, column, lo, hi)
  }

  /** [[pruneFiles]] against an explicit snapshot — the changelog's pre-image
    * side prunes the FROM snapshot, not CURRENT.
    */
  def pruneFilesAt(table: String, snap: Long, column: String,
                           lo: String, hi: String): Seq[String] =
    pruneFilesAtBounds(table, snap, column, Some(lo), Some(hi))

  /** One- or two-sided zone-map pruning (None = unbounded side) — what the
    * DSv2 scan's pushed `<`/`>` ranges need; an unbounded side must NOT be
    * faked with a sentinel string (it would force the byte-wise compare
    * tier and mis-prune numeric columns).
    *
    * `stringOrder` pins the comparison to the byte-wise string tier — for
    * bounds that are substrings of column values rather than values (a
    * `LIKE 'prefix%'` range): a prefix like `'123'` can accidentally parse
    * at a numeric tier where comparing it against string-ordered stats
    * would OVER-prune (a wrong answer, not a missed optimization). Only
    * sound for columns whose stats were written under string ordering —
    * i.e. string columns, which is what `StringStartsWith` guarantees at
    * the call site.
    */
  def pruneFilesAtBounds(table: String, snap: Long, column: String,
                         lo: Option[String], hi: Option[String],
                         stringOrder: Boolean = false): Seq[String] = {
    val all = manifestFiles(table, snap)
    val lines = statsLinesAt(table, snap)
    if (lines.isEmpty) return all
    val stats = lines
      .collect { case Array(f, c, mn, mx) if c == column =>
        f -> ((unescStat(mn), unescStat(mx))) }.toMap
    def overlaps(mnO: Option[String], mxO: Option[String]): Boolean = (mnO, mxO) match {
      case (Some(mn), Some(mx)) =>
        val cmp: (String, String) => Int =
          if (stringOrder) _ compareTo _ else statCmp(Seq(mn, mx) ++ lo ++ hi)
        lo.forall(l => cmp(mx, l) >= 0) && hi.forall(h => cmp(mn, h) <= 0)
      case _ => true // all-null stats: conservatively keep
    }
    all.filter(f => stats.get(f).forall { case (mn, mx) => overlaps(mn, mx) })
  }

  /** Append a crawl drop AND roll the table's cumulative HyperLogLog
    * registers for `col` forward into a snapshot sidecar — incremental
    * distinct counting at 100 TB: each drop pays one small register pass
    * over ITS rows only, the merge is element-wise max (HLL's exact union,
    * duplicate-insensitive), and "distinct values across ALL drops"
    * becomes a 2 KB sidecar read ([[hllDistinctStat]]) instead of a
    * table-wide COUNT(DISTINCT) shuffle.
    *
    * The delta registers are folded by the writer from the rows it ACTUALLY
    * WRITES, not from a second evaluation of the input plan: a
    * non-deterministic input (rand()-derived columns, fresh sampling)
    * re-evaluated for a register pass would silently diverge the sidecar
    * from the data. No extra pass over the delta, no divergence window.
    *
    * Chain integrity: the cumulative state is only written when the table
    * is empty OR the previous snapshot carries the sidecar — an append
    * that bypassed this method poisons the chain, later snapshots get no
    * sidecar, and the estimate path refuses (None) rather than
    * understating. (A compaction/delete snapshot rewrites table state, not
    * drop content — carry the sidecar forward by re-appending through this
    * method or recommitting; the refusal is the safe default.)
    */
  // ------------------------------------------------------------------
  // Per-file BLOOM FILTER sidecars: point lookups on a NON-clustered
  // column. Zone maps answer ranges on clustered columns and the partition
  // transform answers its own column — but "find this digest/url in a
  // time-partitioned table" has its key scattered across every file, and
  // min/max bounds cover everything. A per-file Bloom filter (the parquet/
  // Iceberg bloom the emulation keeps at the catalog layer) turns that
  // lookup into opening ~1 file + false positives instead of the table.
  //
  // Scale shape: the build is ONE distinct shuffle of (file, bit-index)
  // pairs — bounded by files × m bits, never by rows — and the driver only
  // ever sees set bits. Sizing: fp ≈ (1 − e^(−k·n/m))^k with k=4; m ≈ 10×
  // expected distinct values per file gives ~1% — size `bits` to the
  // table's file row counts (default 2^17 = 16 KB/file).
  // ------------------------------------------------------------------

  private def bloomIdxLiteral(value: String, bits: Int): Seq[Int] = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def hex(from: Int) = java.lang.Long.parseLong(d.slice(from, from + 4).map(b => f"$b%02x").mkString, 16)
    val h1 = hex(0); val h2 = hex(4) | 1L
    (0 until ParquetSnapshotCatalog.bloomK).map(i => (((h1 + i * h2) % bits) + bits).toInt % bits)
  }

  /** Commit with a per-file bloom sidecar on `col`: the writer sets each
    * file's bits from the rows it writes (`bits` per file, a power of two). */
  def commitWithBloom(df: DataFrame, table: String, col: String,
                      bits: Int = 1 << 17): Long = {
    require(bits >= 64 && (bits & (bits - 1)) == 0, s"bloom bits must be a power of two >= 64: $bits")
    write(df, table, WriteSpec(blooms = Seq(col -> bits))).get
  }

  /** Fast-append with bloom: the drop's files carry their own bits, written
    * as the delta's own `m<K>.bloom.<col>.tsv` — O(delta) sidecar bytes per
    * append (readers merge the chain). */
  def appendWithBloom(df: DataFrame, table: String, col: String,
                      bits: Int = 1 << 17): Long = {
    require(bits >= 64 && (bits & (bits - 1)) == 0, s"bloom bits must be a power of two >= 64: $bits")
    currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table — commitWithBloom first"))
    write(df, table, WriteSpec(WriteMode.Append, blooms = Seq(col -> bits))).get
  }

  /** Files that MAY contain `value` in `col`: a file is kept iff all k of
    * the value's bits are set in its filter (or it has no filter —
    * conservative, pruning is never load-bearing).
    */
  def pruneFilesByBloom(table: String, col: String, value: String): Seq[String] =
    pruneFilesByBloomAt(table, currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table")), col, value)

  /** [[pruneFilesByBloom]] against an explicit snapshot — a `VERSION AS OF`
    * scan must test the files and filters of ITS snapshot, not CURRENT's.
    */
  def pruneFilesByBloomAt(table: String, snap: Long, col: String,
                          value: String): Seq[String] = {
    val all = manifestFiles(table, snap)
    val lines = bloomLinesAt(table, snap, col)
    if (lines.isEmpty) return all
    val dec = java.util.Base64.getDecoder
    val blooms = lines
      .collect { case Array(f, b, bs) => f -> ((b.toInt, dec.decode(bs))) }.toMap
    all.filter { f =>
      blooms.get(f).forall { case (bits, bs) =>
        bloomIdxLiteral(value, bits).forall(i => (bs(i >> 3) & (1 << (i & 7))) != 0)
      }
    }
  }

  def appendWithHll(df: DataFrame, table: String, col: String): Long =
    write(df, table, WriteSpec(WriteMode.Append, hll = Some(col))).get

  private def readHllSidecar(table: String, snap: Long, col: String): Option[Array[Long]] = {
    val p = new HPath(manifestDir(table), s"v$snap.hll.$col.bin")
    if (!fsExists(p)) None
    else {
      val in = fsOf(p).open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val out = new Array[Long](bytes.length / 8)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
      Some(out)
    }
  }

  /** (raw_est, n_zero) for `col` across every drop of the CURRENT
    * snapshot, from the cumulative register sidecar alone — zero data
    * files opened; None when the chain is broken (see [[appendWithHll]]).
    */
  def hllDistinctStat(table: String, col: String): Option[(Long, Int)] = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    readHllSidecar(table, snap, col).map(graft.operators.Sketch.hllEstimate)
  }

  /** Append a crawl drop AND roll the table's cumulative DDSketch-style
    * base-2 histogram for non-negative BIGINT column `col` forward into a
    * snapshot sidecar — incremental QUANTILES at 100 TB, the order-
    * statistics companion to [[appendWithHll]]: each drop pays one
    * histogram pass over ITS OWN rows only (TextOps.ddQuantiles' bucket
    * collapse — rep keeps the value's top 4 significant bits, ≤ ~480
    * buckets over all of BIGINT), the merge ADDS counts (exact, since every
    * row contributes exactly once), and "p50/p90/p99 across ALL drops"
    * becomes a KB-sized sidecar read with zero data files opened.
    *
    * The delta histogram is folded by the writer from the rows it ACTUALLY
    * writes (the appendWithHll non-determinism rule), and the chain-
    * integrity contract is identical: an append that bypassed this method
    * poisons the chain and [[ddQuantileStat]] refuses (None) rather than
    * undercounting.
    */
  def appendWithDd(df: DataFrame, table: String, col: String): Long =
    write(df, table, WriteSpec(WriteMode.Append, dd = Some(col))).get

  private def readDdSidecar(table: String, snap: Long, col: String): Option[Seq[(Long, Long)]] = {
    val p = new HPath(manifestDir(table), s"v$snap.dd.$col.tsv")
    if (!fsExists(p)) None
    else Some(readStr(p).split('\n').filter(_.nonEmpty).map { l =>
      val a = l.split('\t'); (a(0).toLong, a(1).toLong)
    }.toSeq.sortBy(_._1))
  }

  /** Quantiles of `col` across every drop of the CURRENT snapshot from the
    * cumulative histogram sidecar alone — zero data files opened. Each
    * answer is the first bucket lower bound whose cumulative count reaches
    * rank ceil(q·n) (the ddQuantiles rule: an underestimate by at most one
    * bucket width, integer-exact and oracle-replayable). None when the
    * chain is broken (see [[appendWithDd]]) or no drop so far held a
    * non-NULL value of `col`.
    */
  def ddQuantileStat(table: String, col: String, qMillis: Seq[Int]): Option[Seq[Long]] = {
    val snap = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
    readDdSidecar(table, snap, col).filter(_.nonEmpty).map { hist =>
      val n = hist.map(_._2).sum
      qMillis.map { q =>
        val rank = (q.toLong * n + 999L) / 1000L
        var cum = 0L
        var ans = hist.last._1
        var i = 0
        var found = false
        while (i < hist.length && !found) {
          cum += hist(i)._2
          if (cum >= rank) { ans = hist(i)._1; found = true }
          i += 1
        }
        ans
      }
    }
  }

  /** Tiny atomic metadata KV beside a table's manifests — pipeline state
    * (e.g. a downstream consumer's processed-up-to watermark). Last write
    * wins through the same atomic pointer swap as CURRENT, so readers never
    * observe a torn value.
    */
  def putMeta(table: String, key: String, value: String): Unit = {
    require(key.matches("[A-Za-z0-9._-]+"), s"unsupported meta key: $key")
    val dir = manifestDir(table)
    fsOf(dir).mkdirs(dir)
    val tmp = new HPath(dir, s".meta.$key.tmp")
    writeStr(tmp, value)
    atomicSwap(tmp, new HPath(dir, s"meta.$key"))
  }

  /** Remove a metadata key (idempotent — absent keys are a no-op). */
  def removeMeta(table: String, key: String): Unit = {
    val p = new HPath(manifestDir(table), s"meta.$key")
    val fs = fsOf(p)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** All metadata keys under `prefix` with their values, key-sorted —
    * O(dir listing) driver work (the same listing every commit pays).
    */
  def listMeta(table: String, prefix: String): Seq[(String, String)] = {
    val dir = manifestDir(table)
    val fs = fsOf(dir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(s"meta.$prefix") => n.stripPrefix("meta.") }
      .sorted
      .flatMap(k => getMeta(table, k).map(v => k -> v))
  }

  def getMeta(table: String, key: String): Option[String] = {
    val p = new HPath(manifestDir(table), s"meta.$key")
    if (fsExists(p)) Some(readStr(p)) else None
  }

  // ------------------------------------------------------------------
  // SQL-catalog support surface (graft.sources.GraftCatalog — the Spark
  // TableCatalog plugin that exposes these tables to pure SQL)
  // ------------------------------------------------------------------

  /** Tables under this catalog root: any directory owning a `_manifests`
    * metadata dir — committed tables AND merely-CREATEd ones (a SQL
    * `CREATE TABLE` records only a schema via [[putMeta]], which makes the
    * dir). One listStatus of the root; O(tables) driver metadata.
    */
  def tableNames: Seq[String] =
    listNames(new HPath(root)).filter(n => fsExists(manifestDir(n))).sorted

  /** Newest snapshot whose commit time is <= `millis` — the `TIMESTAMP AS
    * OF` resolution rule. Commit time = the manifest list's filesystem
    * mtime, the same clock [[snapshotsDF]] reports as `committed_at`.
    */
  def snapshotAsOfTimestamp(table: String, millis: Long): Option[Long] =
    snapshots(table).filter { s =>
      val mp = new HPath(manifestDir(table), s"v$s.json")
      fsOf(mp).getFileStatus(mp).getModificationTime <= millis
    }.lastOption

  /** DROP TABLE: recursively removes `<root>/<table>` — every write path
    * lands data files under the table dir, so this collects data AND
    * metadata in one delete. Files referenced from OUTSIDE the table dir
    * ([[commitFiles]] of foreign paths) are deliberately not chased: the
    * catalog never claimed ownership of them.
    */
  def dropTableDir(table: String): Boolean = {
    require(table.nonEmpty && !table.contains('/') && !table.contains(".."),
      s"unsupported table name: $table")
    val p = new HPath(root, table)
    val f = fsOf(p)
    f.exists(p) && f.delete(p, true)
  }

  /** Sidecar value escaping: SQL NULL → `\N` (distinct from the 4-char
    * string "null"), and backslash/tab/newline/CR escaped so the TSV parse
    * can never be corrupted by data values.
    */
  private def unescStat(v: String): Option[String] = {
    if (v == "\\N") return None
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case '\\' => sb.append('\\')
          case o => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    Some(sb.toString)
  }
}

object ParquetSnapshotCatalog {
  /** Bounded metadata-log depth carried in the CURRENT pointer (Iceberg's
    * `write.metadata.previous-versions-max` shape). */
  val HistoryMax = 100

  /** Bloom hash count and the per-row bit indices of `col` (md5 double
    * hashing, the SQL the writer evaluates per row and
    * `bloomIdxLiteral` replays for a lookup value). */
  private[graft] val bloomK = 4
  private[graft] def bloomIdxSql(col: String, bits: Int): Seq[String] = {
    val h1 = s"CAST(conv(substr(md5(CAST(`$col` AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    val h2 = s"(CAST(conv(substr(md5(CAST(`$col` AS STRING)), 9, 8), 16, 10) AS BIGINT) | 1)"
    (0 until bloomK).map(i => s"pmod($h1 + $i * $h2, $bits)")
  }

  /** The DDSketch-style bucket of non-negative BIGINT `col`: the value with
    * all but its top 4 significant bits cleared (TextOps.ddQuantiles'
    * collapse). */
  private[graft] def ddRepSql(col: String): String = {
    val shift = s"greatest(length(bin($col)) - 4, 0)"
    s"shiftleft(shiftright($col, $shift), $shift)"
  }

  /** Manifests store plain absolute paths for local roots (byte-compatible
    * with pre-round-4 tables) and full URIs for remote schemes. */
  private[graft] def pathOf(p: String): String = {
    val u = new HPath(p).toUri
    val s = u.getScheme
    if (s == null || s == "file") u.getPath else p
  }

  /** A sidecar/tombstone value, escaped for one TSV field (`\N` = null). */
  private[spark] def escStat(v: String): String =
    if (v == null) "\\N"
    else v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")

  /** Scheme/authority-normalization for tombstoned file paths: the manifest
    * stores `/data/x` (local) or `s3a://b/x` (remote) while a caller may
    * hold qualified URIs (`file:///data/x`) — both sides reduce to the bare
    * path.
    */
  private[graft] def normFile(s: String): String =
    s.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")

  /** One positional-tombstone line as the task-staged delete files store it
    * — shared between [[ParquetSnapshotCatalog.commitRowDelta]]'s writers
    * and the tombstone commit paths so the escape/normalization rules can
    * never diverge. */
  private[graft] def posTombstoneLine(file: String, pos: Long): String =
    s"${escStat(normFile(file))}\t$pos"
}

/** Task-side deletion-vector access: a scan task range-reads ONLY its data
  * file's serialized bitmap out of the snapshot's `x<snap>.dv` blob —
  * coordinates arrive via the planned partition, no catalog instance and no
  * driver round-trip involved.
  */
object DeletionVectors {
  def load(dvPath: String, offset: Long, length: Int,
           conf: Configuration): org.roaringbitmap.RoaringBitmap = {
    val p = new HPath(dvPath)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      in.seek(offset)
      val b = new Array[Byte](length)
      in.readFully(b)
      val bm = new org.roaringbitmap.RoaringBitmap()
      bm.deserialize(java.nio.ByteBuffer.wrap(b))
      bm
    } finally in.close()
  }
}
