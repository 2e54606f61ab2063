package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

import graft.spark.ParquetSnapshotCatalog

/** DataSourceV2 STREAMING read of the snapshot catalog — the Iceberg
  * streaming-read shape (`spark.readStream.format("iceberg")`) for the
  * filesystem catalog emulation:
  *
  *   spark.readStream.format("graft-catalog")
  *     .option("root", root).option("table", "pages").load()
  *
  * Offsets ARE snapshot ids: each micro-batch is the incremental window
  * (lastSnap, nextSnap] planned with the catalog's own O(delta) metadata
  * rules (manifest-LIST entry diff; only the window's delta manifests
  * expand), so a downstream pipeline — curation, indexing, CDC mirroring —
  * becomes a real Structured Streaming query with checkpointed exactly-once
  * progress instead of a hand-rolled watermark loop. The first batch
  * bootstraps with the full current snapshot (offset 0), matching
  * `readIncremental(fromSnap <= 0)`.
  *
  * Semantics (the Iceberg incremental-scan contract, enforced not assumed):
  *   - INSERT feed: a batch carries the rows ADDED in its window. Equality
  *     deletes committed in-window are applied to in-window files by the
  *     sequence rule (a delete at D hits only files added before D), so an
  *     upsert's fresh captures flow through while a row inserted AND
  *     taken down inside one window never appears. Takedowns of rows
  *     emitted by EARLIER batches are not retracted here — that is the
  *     changelog's delete side (`deletedInWindow` / `readChangelog`),
  *     deliberately not a streaming source concern (Iceberg's streaming
  *     read skips overwrite snapshots the same way).
  *   - a window crossing a REWRITE (compaction/expire/rollback) fails the
  *     stream loudly instead of re-emitting old rows as new — restart from
  *     a fresh checkpoint after maintenance, exactly like Iceberg's
  *     streaming read refuses replace snapshots.
  *   - `maxSnapshotsPerBatch` (default: all available) rate-limits how many
  *     snapshots one micro-batch may advance — admission control for a
  *     backlogged stream, so catch-up after downtime is N bounded batches,
  *     not one giant one.
  *
  * Scale shape at 100 TB: planning is driver-side O(delta) manifest I/O per
  * batch; each data file is one input partition decoded by Spark's
  * vectorized parquet reader with COLUMN PRUNING pushed down (a query that
  * only needs `url` never decodes the html pages), and per-file equality
  * deletes ride the partition as broadcast-sized key sets (takedown-sized
  * by construction — they are the contents of delete FILES), applied to
  * each decoded batch with the file's positional tombstones and deletion
  * vector ([[CatalogPartitionReader]]).
  *
  * The same scan is the catalog's one batch read
  * (`ParquetSnapshotCatalog.scan`): the current snapshot, a `snapshot`
  * option pinning a retained one (time travel), and with `startSnapshot`
  * the files added after it (the incremental read), all through the
  * identical reader.
  */
class CatalogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-catalog"
  override def supportsExternalMetadata(): Boolean = false

  /** The snapshot's schema (`ParquetSnapshotCatalog.schemaAt`): rename
    * history applied and ADD-column evolution unioned by name, folded from
    * the data files' footers, no scan planned. A snapshot whose schema
    * cannot be derived fails the read.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (root, table) = CatalogSource.rootTable(options)
    val cat = new ParquetSnapshotCatalog(root)
    val snap = CatalogSource.pinnedSnapshot(options).orElse(cat.currentSnapshot(table))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-catalog source: table '$table' under '$root' has no committed snapshot"))
    cat.schemaAt(SparkSession.active, table, snap)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new CatalogTable(schema, opts.get("root"), opts.get("table"),
      Option(opts.get("maxSnapshotsPerBatch")).map(_.toInt).getOrElse(Int.MaxValue),
      Option(opts.get("startSnapshot")).map(_.toLong).getOrElse(0L),
      CatalogSource.pinnedSnapshot(opts))
  }
}

object CatalogTable {
  private[sources] def metaCol(colName: String, dt: DataType)
      : org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = colName
      override def dataType(): DataType = dt
      override def isNullable: Boolean = false
    }
}

object CatalogSource {
  private[sources] def rootTable(options: CaseInsensitiveStringMap): (String, String) = {
    val root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException("graft-catalog source needs option 'root'"))
    val table = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("graft-catalog source needs option 'table'"))
    (root, table)
  }

  /** The `snapshot` reader option: the retained snapshot a batch read pins. */
  private[sources] def pinnedSnapshot(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("snapshot")).map(_.toLong)

  /** Delete keys match `CAST(column AS STRING)`; the scan's reader replays
    * that cast faithfully only for these types (they are what
    * takedown/upsert key on: urls, digests, ids), so equality deletes may
    * key on no other.
    */
  private[graft] def deletableType(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType => true
    case _ => false
  }
}

class CatalogTable(tableSchema: StructType, root: String, table: String,
                   maxSnaps: Int, startSnap: Long, asOf: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft-catalog:$root/$table"
  override def schema(): StructType = tableSchema

  /** Iceberg-shape metadata columns: `_file` (the data file path as the
    * manifest stores it) and `_pos` (the row's PHYSICAL ordinal within that
    * file — rows suppressed by pending tombstones still advance it, so it
    * is exactly the coordinate a positional tombstone names). They are what
    * row-level SQL DML keys on (`SupportsDelta.rowId`) and are directly
    * SELECTable for lineage queries. A data column with the same name wins
    * (Spark omits the conflicting metadata column).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    CatalogTable.metaCol("_file", StringType),
    CatalogTable.metaCol("_pos", LongType))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CatalogScanBuilder(tableSchema, root, table, maxSnaps, startSnap, asOf)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new CatalogWriteBuilder(info.schema(), root, table)
}

final class CatalogScanBuilder(tableSchema: StructType, root: String, table: String,
                               maxSnaps: Int, startSnap: Long, asOf: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources._
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Array[Array[Any]])] = None
  private lazy val cat = new ParquetSnapshotCatalog(root)
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Global MIN/MAX/COUNT(*) answered from the stats sidecars — zero data
    * files opened (Iceberg's metadata-aggregate optimization). Pushable
    * only when the answer is PROVABLY exact: no WHERE residue (we return
    * every filter as residual, so any filter blocks this), no GROUP BY, no
    * time travel or incremental window, every file of the snapshot counted,
    * no delete tombstone pending ([[ParquetSnapshotCatalog.statsAgg]]'s
    * refusal rule), and the column's stat string round-trips its type
    * exactly (long/int/string — doubles are deliberately excluded: a
    * formatted bound may not be the exact stored double).
    */
  private def tryPushAgg(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (asOf.nonEmpty || startSnap > 0 || pushed.nonEmpty) return None
    if (agg.groupByExpressions().nonEmpty) return tryPushGroupAgg(agg)
    if (cat.currentSnapshot(table).isEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case f: NamedReference if f.fieldNames().length == 1 =>
          tableSchema.fields.find(_.name == f.fieldNames()(0))
        case _ => None
      }
    def statVal(dt: DataType, s: String): Option[Any] = dt match {
      case LongType => s.toLongOption
      case IntegerType => s.toIntOption
      case StringType => Some(UTF8String.fromString(s))
      case _ => None
    }
    val res: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        cat.countStar(table).map(n => (StructField("count_star", LongType, nullable = false), n: Any))
      case m: Min => colOf(m.column).flatMap { f =>
        cat.statsAgg(table, f.name).flatMap(_._1).flatMap(statVal(f.dataType, _))
          .map(v => (StructField(s"min_${f.name}", f.dataType), v))
      }
      case m: Max => colOf(m.column).flatMap { f =>
        cat.statsAgg(table, f.name).flatMap(_._2).flatMap(statVal(f.dataType, _))
          .map(v => (StructField(s"max_${f.name}", f.dataType), v))
      }
      // COUNT(col) / COUNT(DISTINCT col) need null counts, which the stats
      // sidecar does not track — EXCEPT for the identity partition column
      // on an exact-clustered layout: every file is pinned to one value, so
      // a file's rows are null exactly when its pin is null, and the
      // distinct values are the pins themselves. partitionGroupCounts'
      // refusal rules (every file pinned AND counted, no tombstone pending)
      // carry over unchanged, so the answer is provably exact or refused.
      case c: Count => colOf(c.column).flatMap { f =>
        if (!cat.partitionSpec(table).exists(s =>
            s.col == f.name && s.isInstanceOf[graft.spark.IdentityTransform])) None
        else cat.partitionGroupCounts(table).map { groups =>
          val n: Long =
            if (c.isDistinct) groups.count { case (v, cnt) => v.isDefined && cnt > 0L }.toLong
            else groups.collect { case (Some(_), cnt) => cnt }.sum
          val nm = if (c.isDistinct) s"count_distinct_${f.name}" else s"count_${f.name}"
          (StructField(nm, LongType, nullable = false), n: Any)
        }
      }
      case _ => None // other aggregates (SUM/AVG/...) need the row scan
    }
    if (res.isEmpty || res.exists(_.isEmpty)) None
    else Some((StructType(res.map(_.get._1)), Array(res.map(_.get._2).toArray)))
  }

  /** Metadata-only `GROUP BY <partition column> COUNT(*)` — the per-group
    * twin of the global path: pushable only on an exact-clustered identity
    * layout where every file is pinned to one value AND `__count`ed with no
    * tombstone pending ([[ParquetSnapshotCatalog.partitionGroupCounts]]'s
    * refusal rule); the per-language census over 100 TB from O(files)
    * metadata, zero data opened. Complete-pushdown layout: group column
    * first, then one count per aggregate expression.
    */
  private def tryPushGroupAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    val gb = agg.groupByExpressions()
    if (gb.length != 1) return None
    val col = gb(0) match {
      case f: NamedReference if f.fieldNames().length == 1 => f.fieldNames()(0)
      case _ => return None
    }
    // zero aggregate expressions = a group-only aggregate (SELECT DISTINCT
    // <partition col>, or an outer count() collapsing the inner counts) —
    // the distinct partition values are metadata too
    val aggs = agg.aggregateExpressions().toSeq
    if (!aggs.forall(_.isInstanceOf[CountStar])) return None
    if (!cat.partitionSpec(table).exists(s =>
        s.col == col && s.isInstanceOf[graft.spark.IdentityTransform])) return None
    val field = tableSchema.fields.find(_.name == col).getOrElse(return None)
    def internal(v: Option[String]): Option[Any] = v match {
      case None => Some(null)
      case Some(s) => field.dataType match {
        case LongType => s.toLongOption
        case IntegerType => s.toIntOption
        case StringType => Some(UTF8String.fromString(s))
        case _ => None
      }
    }
    val groups = cat.partitionGroupCounts(table).getOrElse(return None)
    val conv = groups.map { case (v, n) => internal(v).map(iv => (iv, n)) }
    if (conv.exists(_.isEmpty)) return None
    val rows = conv.map(_.get).map { case (iv, n) =>
      (iv +: aggs.map(_ => n: Any)).toArray[Any]
    }
    val schema = StructType(
      StructField(col, field.dataType) +:
        aggs.indices.map(i => StructField(s"count_star_$i", LongType, nullable = false)))
    Some((schema, rows.toArray))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryPushAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = tryPushAgg(agg)
    pushedAgg.isDefined
  }

  /** Accept equality/range filters on atomic columns for FILE PRUNING
    * (zone maps + blooms + the partition transform consulted at planning);
    * every filter is also RETURNED as residual so Spark re-applies it row-
    * level — pruning is an optimization, never load-bearing, exactly like
    * the catalog's own pruned-read contract.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def prunable(f: Filter): Boolean = f match {
      case EqualTo(_, v) => v != null && CatalogScan.literalOk(v)
      case GreaterThan(_, v) => v != null && CatalogScan.literalOk(v)
      case GreaterThanOrEqual(_, v) => v != null && CatalogScan.literalOk(v)
      case LessThan(_, v) => v != null && CatalogScan.literalOk(v)
      case LessThanOrEqual(_, v) => v != null && CatalogScan.literalOk(v)
      // LIKE 'prefix%' — the url-slice access pattern on a url-sorted table
      case StringStartsWith(_, p) => p != null && p.nonEmpty
      // planning-time IN: union of per-value equality prunes, capped; an
      // IN on `_file` is a plain set intersection, so any size prunes
      case In(c, vs) => vs != null && vs.nonEmpty &&
        (vs.length <= CatalogScan.MaxInValues || CatalogScan.isFileCol(c, tableSchema)) &&
        vs.forall(v => v != null && CatalogScan.literalOk(v))
      // boolean composition: Or prunes iff BOTH branches do (union);
      // And prunes if EITHER does (intersection / one-sided)
      case Or(l, r) => prunable(l) && prunable(r)
      case And(l, r) => prunable(l) || prunable(r)
      case _ => false
    }
    pushed = filters.filter(prunable)
    filters // all residual: the scan prunes FILES, Spark keeps the row filter
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = pushedAgg match {
    case Some((schema, values)) => new CatalogAggScan(table, schema, values)
    case None =>
      new CatalogScan(tableSchema, required, root, table, maxSnaps, startSnap, pushed, asOf)
  }
}

/** The metadata-only aggregate result — one row for the global path, one
  * row per group for the partition-column GROUP BY path — computed at
  * PLANNING time from the stats sidecars; the executor task only
  * materializes it.
  */
final case class CatalogAggPartition(rows: Array[Array[Any]]) extends InputPartition

final class CatalogAggScan(table: String, out: StructType, rows: Array[Array[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCatalogAggScan(table=$table, metadata-only: ${out.fieldNames.mkString(",")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(CatalogAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rs = partition.asInstanceOf[CatalogAggPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < rs.length }
          override def get(): InternalRow = new GenericInternalRow(rs(i).clone())
          override def close(): Unit = ()
        }
    }
}

/** One data file + the deletes that apply to it, both kinds resolved at
  * planning: equality tombstones as (key column, keys) pairs in commit
  * order (sequence rule already applied), positional tombstones as the
  * file's sorted row ordinals.
  */
final case class CatalogFilePartition(file: String,
                                      deletes: Seq[(StructField, Seq[String])],
                                      posDeletes: Seq[Long] = Nil,
                                      dv: Option[(String, Long, Int)] = None)
    extends InputPartition

/** Several small data files bin-packed into ONE scan partition (Spark's
  * `FilePartition` behavior for the connector): a streaming-append table
  * accumulates many sub-target files between compactions, and one task per
  * tiny file is pure scheduling overhead at 100 TB. Each file keeps its own
  * delete state; the reader chains per file.
  */
final case class CatalogFileGroupPartition(files: Seq[CatalogFilePartition])
    extends InputPartition

object CatalogScan {
  /** The smallest string strictly greater than every string with prefix
    * `p` (last non-maximal char incremented, maximal tail dropped); None
    * when `p` is all `Char.MaxValue` — then the prefix range has no upper
    * bound. Used as an INCLUSIVE upper bound: over-keeps the single exact
    * boundary value, which is the safe direction for pruning.
    */
  private[sources] def nextPrefix(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == Char.MaxValue) i -= 1
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** Largest planning-time IN list the scan prunes with: per value the
    * driver reads zone, bloom and every spec era's partition stats, so the
    * cap keeps that work bounded; it covers an IVF probe list (nQueries ×
    * nprobe clusters, at most Ann's largest nlist of 1024). A longer list
    * scans every file — never a wrong answer.
    */
  private[sources] val MaxInValues = 1024

  /** A filter on `_file` names data files outright (unless a data column
    * of that name shadows the metadata column). */
  private[sources] def isFileCol(c: String, tableSchema: StructType): Boolean =
    c == "_file" && !tableSchema.fieldNames.contains("_file")

  private[sources] def literalOk(v: Any): Boolean = v match {
    case _: String | _: Long | _: Int | _: java.lang.Long | _: java.lang.Integer |
         _: Double | _: java.lang.Double | _: java.sql.Timestamp | _: java.time.Instant => true
    case _ => false
  }
  private[sources] def lit(v: Any): String = v match {
    // render in the SESSION time zone (planning-time, driver-side), the
    // same zone the stats pass's CAST/date_format rendered the sidecar
    // bounds and the partitioned writer rendered the pins — a JVM-default
    // rendering (java.sql.Timestamp.toString) would silently mis-prune
    // day-boundary rows whenever the JVM and session zones differ
    case t: java.time.Instant =>
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        .withZone(java.time.ZoneId.of(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        .format(t)
    case t: java.sql.Timestamp => lit(t.toInstant)
    case other => other.toString
  }

  /** First-fit-decreasing bin packing of per-file partitions into
    * `spark.sql.files.maxPartitionBytes` bins, each file padded by
    * `spark.sql.files.openCostInBytes` — Spark's own `FilePartition`
    * coalescing rule, applied to the connector so a between-compactions
    * small-file table doesn't pay one task per file. Singleton bins stay
    * plain [[CatalogFilePartition]]s; per-file delete state rides along
    * untouched. Driver cost: one `getFileStatus` per file (the same listing
    * [[CatalogScan.estimateStatistics]] already pays).
    */
  private[sources] def binPack(parts: Array[InputPartition], hconf: Configuration,
                               targetOverride: Option[Long] = None): Array[InputPartition] = {
    if (parts.length <= 1) return parts
    val (confBytes, openCost) = scala.util.Try {
      val c = SparkSession.active.conf
      def bytes(k: String, dflt: Long): Long =
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          c.get(k, dflt.toString))
      (bytes("spark.sql.files.maxPartitionBytes", 128L << 20),
       bytes("spark.sql.files.openCostInBytes", 4L << 20))
    }.getOrElse((128L << 20, 4L << 20))
    // per-TABLE split override (the read.split.target-size TBLPROPERTY,
    // Iceberg's table-level read knob) beats the session-wide conf
    val maxBytes = targetOverride.getOrElse(confBytes)
    val sized = parts.map { p =>
      val f = p.asInstanceOf[CatalogFilePartition]
      val hp = new org.apache.hadoop.fs.Path(f.file)
      val len = scala.util.Try(hp.getFileSystem(hconf).getFileStatus(hp).getLen).getOrElse(0L)
      (f, len + openCost)
    }.sortBy(-_._2)
    val bins = scala.collection.mutable.ArrayBuffer[
      (scala.collection.mutable.ArrayBuffer[CatalogFilePartition], Long)]()
    sized.foreach { case (f, sz) =>
      bins.indexWhere(_._2 + sz <= maxBytes) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(f), sz))
        case i => bins(i) = (bins(i)._1 += f, bins(i)._2 + sz)
      }
    }
    bins.map { case (fs, _) =>
      if (fs.length == 1) fs.head: InputPartition
      else CatalogFileGroupPartition(fs.sortBy(_.file).toSeq): InputPartition
    }.toArray
  }
}

final class CatalogScan(tableSchema: StructType, required: StructType,
                        root: String, table: String, maxSnaps: Int, startSnap: Long,
                        pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                        asOf: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeV2Filtering {
  // one catalog handle per scan: a fresh one per metadata read would build
  // a Hadoop Configuration and FileSystem instance each time, several
  // times the cost of the pruning itself
  @transient private lazy val cat = new ParquetSnapshotCatalog(root)
  // the session's Hadoop conf, captured once: planning's file sizes and
  // every task's data-file and deletion-vector opens go through it
  @transient private lazy val hadoopConf = SessionHadoopConf.broadcast(SparkSession.active)

  // ------------------------------------------------------------------
  // RUNTIME file pruning (Iceberg's dynamic file filtering shape): Spark's
  // dynamic-partition-pruning rule sees `filterAttributes`, runs the join's
  // build side first, and hands the collected key values to `filter` as an
  // IN predicate — the scan then drops every data file whose zone map /
  // bloom sidecar / partition transform PROVES it cannot hold any of the
  // values, before a single fact byte is read. At 100 TB this is the
  // difference between scanning the table and scanning the join's actual
  // footprint. Pruning is never load-bearing: a file without stats is
  // kept, and Spark re-applies the join itself row-level.
  // ------------------------------------------------------------------
  private var runtimeKeep: Option[Set[String]] = None // surviving data files
  // allowed partition-column values, EXTERNALIZED strings — both the runtime
  // literals and the group keys normalize through [[externalize]], so the
  // internal-vs-external literal representation can never mis-drop a group
  private var runtimeKeyVals: Option[Set[String]] = None

  /** Columns a runtime IN can prune files on: stats/bloom/partition-spec
    * columns that exist in the schema at a literal type the stat strings
    * can replay (string/long/int — mirrors [[pruneByFilters]]'s tiers).
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val snapO = asOf.orElse(cat.currentSnapshot(table))
    snapO match {
      case None => Array.empty
      case Some(snap) =>
        cat.runtimePrunableColumns(table, snap)
          .filter(c => tableSchema.fields.exists(f => f.name == c && (f.dataType match {
            case StringType | LongType | IntegerType => true
            case _ => false
          })))
          .map(org.apache.spark.sql.connector.expressions.Expressions.column)
          .toArray
    }
  }

  /** The one equality pruner: the files of `snap` that may hold `c = v`
    * for SOME `v` in `lits` (a file serves an IN iff it serves one of its
    * values). Per value, zone maps ∩ bloom sidecars ∩ the partition
    * transform under EVERY spec era on `c` — current and retired: each era's
    * files prune by the bounds of the spec they were written under, and a
    * file lacking a spec's stats is kept by that spec. Every structure is
    * conservative on missing metadata. Shared by the planning-time
    * EqualTo/IN path and the runtime IN path.
    */
  private def eqCandidates(snap: Long, c: String, lits: Seq[String]): Set[String] = {
    val specs = cat.specsForCol(table, c)
    lits.map { v =>
      specs.foldLeft(cat.pruneFilesAt(table, snap, c, v, v).toSet &
          cat.pruneFilesByBloomAt(table, snap, c, v).toSet) { (keep, spec) =>
        val t = spec.literal(v)
        keep & cat.pruneFilesAt(table, snap, spec.statName, t, t).toSet
      }
    }.foldLeft(Set.empty[String])(_ | _)
  }

  private def externalize(v: Any): Option[String] = v match {
    case u: UTF8String => Some(u.toString) // runtime IN values arrive internal
    case s: String => Some(s)
    case l: java.lang.Long => Some(l.toString)
    case i: java.lang.Integer => Some(i.toString)
    case _ => None
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    predicates.foreach { p =>
      val kids = p.children()
      if ((p.name() == "IN" || p.name() == "=") && kids.length >= 2) kids.head match {
        case ref: NamedReference if ref.fieldNames().length == 1 &&
            kids.tail.forall(_.isInstanceOf[Literal[_]]) =>
          val c = ref.fieldNames()(0)
          val vals: Seq[Any] = kids.tail.map(_.asInstanceOf[Literal[_]].value: Any).toSeq
          val lits = vals.flatMap(externalize(_))
          // every value replayable AND the list small enough that per-value
          // sidecar consultation stays cheap driver work — a huge runtime IN
          // (low-selectivity build side) skips pruning, conservatively
          if (lits.length == vals.length && lits.length <= 256) {
            val cand = eqCandidates(batchSnap, c, lits)
            runtimeKeep = Some(runtimeKeep.fold(cand)(_ & cand))
            if (cat.partitionSpec(table).exists(s => s.col == c &&
                s.isInstanceOf[graft.spark.IdentityTransform]))
              runtimeKeyVals = Some(runtimeKeyVals.fold(lits.toSet)(_ & lits.toSet))
          }
        case _ => ()
      }
    }
  }

  // ------------------------------------------------------------------
  // STORAGE-PARTITIONED JOIN surface (Iceberg's SPJ shape): when the table
  // was written exact-clustered on an identity transform
  // (commitPartitionedExact — ONE transform value per file), the scan
  // reports KeyGroupedPartitioning and returns one keyed multi-file
  // partition per value, so two tables partitioned on the same key join
  // with ZERO shuffle (spark.sql.sources.v2.bucketing.enabled=true).
  // Snapshot and file set are PINNED per scan so outputPartitioning and
  // planInputPartitions can never disagree under a concurrent commit.
  // ------------------------------------------------------------------
  private lazy val batchSnap: Long = effSnap
  private lazy val batchFiles: Seq[(String, Long)] =
    pruneByFilters(windowFiles(startSnap, batchSnap), batchSnap)

  /** The (file, add order) pairs of `to`, or with `from` > 0 those added in
    * (from, to] — the incremental window, refused when it crosses a
    * rewrite. Shared by the batch read and the micro-batch stream. */
  private[sources] def windowFiles(from: Long, to: Long): Seq[(String, Long)] =
    if (from <= 0) cat.filesWithAddOrder(table, to)
    else cat.incrementalFilesWithAddOrder(table, from, to)

  /** One keyed file-group per partition value, or None when the layout
    * cannot guarantee it (no spec, a file with unpinned value, unsupported
    * key type, time travel, an incremental window). Identity groups key on
    * the raw column value; BUCKET groups key on the bucket id, reported as
    * the `bucket(n, col)` transform that Spark resolves through the
    * catalog's FunctionCatalog ([[GraftBucketFunction]]) — which is what
    * lets two same-bucketed tables compare partitionings and join with zero
    * exchange. Days stays out (session-tz rendering); truncate stays out
    * (ranges, not pins, is its usual write shape — and its SQL path pins
    * too, but a truncate prefix is rarely a join key).
    */
  private lazy val keyGroups: Option[(graft.spark.PartTransform, Array[InputPartition])] = {
    if (asOf.nonEmpty || startSnap > 0) None
    else cat.partitionSpec(table) match {
      case Some(spec @ (_: graft.spark.IdentityTransform | _: graft.spark.BucketTransform)) =>
        tableSchema.fields.find(_.name == spec.col).flatMap { field =>
          def internal(v: Option[String]): Option[Any] = (spec, v) match {
            // a bucket pin is the bucket id (INT result of the V2 function);
            // null raw keys cannot exist under a bucket write (writer gate)
            case (_: graft.spark.BucketTransform, Some(s)) =>
              s.toIntOption.map(java.lang.Integer.valueOf)
            case (_: graft.spark.BucketTransform, None) => None
            case (_, None) => Some(null)
            case (_, Some(s)) => field.dataType match {
              case LongType => s.toLongOption
              case IntegerType => s.toIntOption
              case StringType => Some(UTF8String.fromString(s))
              case _ => None
            }
          }
          cat.partitionValuesAt(table, batchSnap).flatMap { vals =>
            val byFile = vals.toMap
            val conv = byFile.values.toSeq.distinct.map(v => v -> internal(v)).toMap
            if (conv.values.exists(_.isEmpty)) None
            else {
              val parts = withDeletes(batchFiles, batchSnap)
                .map(_.asInstanceOf[CatalogFilePartition])
              val grouped = parts.groupBy(p => byFile(p.file))
                .toSeq.sortBy { case (v, _) => v.getOrElse("") }
                .map { case (v, fs) =>
                  CatalogKeyGroupPartition(fs, conv(v).get): InputPartition
                }
              Some((spec, grouped.toArray))
            }
          }
        }
      case _ => None
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = keyGroups match {
    case Some((spec, groups)) =>
      val expr = spec match {
        case graft.spark.BucketTransform(n, c) =>
          org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
        case s =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(s.col)
      }
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(expr), groups.length)
    case None =>
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  /** The snapshot this batch scan reads: a pinned `VERSION AS OF` id (must
    * still be retained), or CURRENT.
    */
  private def effSnap: Long = asOf match {
    case Some(s) =>
      require(cat.snapshots(table).contains(s),
        s"graft-catalog: no retained snapshot $s for '$table' (VERSION AS OF)")
      s
    case None => cat.currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot for $table"))
  }

  /** Planner statistics from METADATA only: bytes = the pruned file set's
    * on-disk sizes, rows = the scan snapshot's `__count` sidecar lines when
    * every planned file has one (rows written; pending deletes are not
    * subtracted) — what lets Catalyst broadcast a small catalog table in a
    * join without scanning it first. O(files) driver work, zero data opened.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val (bytes, rows) = {
      import org.apache.hadoop.fs.Path
      val conf = hadoopConf.value.value
      val counts = cat.fileRowCounts(table, batchSnap)
      // pruned once, pinned with the batch
      val (sz, n) = batchFiles.foldLeft((0L, Option(0L))) { case ((sz, n), (f, _)) =>
        val p = new Path(f)
        (sz + scala.util.Try(p.getFileSystem(conf).getFileStatus(p).getLen).getOrElse(0L),
          for (a <- n; c <- counts.get(f)) yield a + c)
      }
      (sz, n.filter(_ => batchFiles.nonEmpty))
    }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCatalogScan(root=$root, table=$table, columns=${required.fieldNames.mkString(",")}" +
      (if (pushed.nonEmpty) s", prunedBy=${pushed.mkString(";")}" else "") + ")"

  /** File pruning from the pushed filters — the one place a predicate
    * becomes a file set: every applicable metadata structure is consulted
    * and the candidate sets INTERSECT — zone maps (range + equality), bloom
    * sidecars (equality), and the partition transform of every spec era on
    * the column (equality always; range only for order-preserving eras). A
    * file without stats is conservatively kept by each pruner, and Spark
    * re-applies the row-level filter on top. Equality or `IN` on `_file`
    * keeps exactly the named files (what compaction reads its rewrite set
    * with).
    */
  private[sources] def pruneByFilters(files: Seq[(String, Long)], snap: Long): Seq[(String, Long)] = {
    import org.apache.spark.sql.sources._
    import CatalogScan.lit
    var keep = files.map(_._1).toSet
    // recursive candidate set: And = intersection, Or = union (a file can
    // serve an Or iff it can serve SOME branch — both branches must be
    // answerable, else the whole Or is conservatively unanswerable)
    def cand(f: Filter): Option[Set[String]] = f match {
      case EqualTo(c, v) if CatalogScan.isFileCol(c, tableSchema) => Some(Set(v.toString))
      case In(c, vs) if CatalogScan.isFileCol(c, tableSchema) => Some(vs.map(_.toString).toSet)
      case EqualTo(c, v) => Some(eqCandidates(snap, c, Seq(lit(v))))
      case In(c, vs) => Some(eqCandidates(snap, c, vs.toSeq.map(lit)))
      case StringStartsWith(c, p) =>
        // matches occupy [p, nextPrefix(p)] under STRING ordering; the
        // byte-wise-pinned pruner refuses the numeric/timestamp compare
        // tiers a bare prefix could accidentally parse into (tier
        // confusion there would OVER-prune — a wrong answer). Partition-
        // transform pruning is deliberately skipped: a truncated prefix
        // re-enters tier ambiguity, and zone maps already carry the
        // sorted-table case this pushdown exists for.
        Some(cat.pruneFilesAtBounds(table, snap, c,
          Some(p), CatalogScan.nextPrefix(p), stringOrder = true).toSet)
      case GreaterThan(c, v) => Some(rangePrune(snap, c, Some(lit(v)), None))
      case GreaterThanOrEqual(c, v) => Some(rangePrune(snap, c, Some(lit(v)), None))
      case LessThan(c, v) => Some(rangePrune(snap, c, None, Some(lit(v))))
      case LessThanOrEqual(c, v) => Some(rangePrune(snap, c, None, Some(lit(v))))
      case Or(l, r) => for (a <- cand(l); b <- cand(r)) yield a | b
      case And(l, r) => (cand(l), cand(r)) match {
        case (Some(a), Some(b)) => Some(a & b)
        case (a, b) => a.orElse(b) // one answerable side still prunes
      }
      case _ => None
    }
    pushed.foreach(f => cand(f).foreach(s => keep = keep & s))
    files.filter(p => keep(p._1))
  }

  /** Range pruning: zone maps ∩ the transform bounds of every
    * ORDER-PRESERVING spec era on `c` (days/truncate/identity map a value
    * range into a transform range; a bucket era cannot range-prune, so its
    * files are kept).
    */
  private def rangePrune(snap: Long, c: String, lo: Option[String],
                         hi: Option[String]): Set[String] =
    cat.specsForCol(table, c).filter(_.orderPreserving)
      .foldLeft(cat.pruneFilesAtBounds(table, snap, c, lo, hi).toSet) { (keep, spec) =>
        keep & cat.pruneFilesAtBounds(table, snap, spec.statName,
          lo.map(spec.literal), hi.map(spec.literal)).toSet
      }

  /** Attach the sequence-rule-applicable deletes to each planned file and
    * validate that every delete column is readable by this scan (present in
    * the data files at a CAST-replayable type). A tombstone names its
    * column as of the delete; it is resolved to the current name here, and
    * a column dropped since is typed by the snapshot's footers.
    */
  private[sources] def withDeletes(files: Seq[(String, Long)],
                                   snap: Long): Array[InputPartition] = {
    // positional tombstones: (normalized path, row ordinal). The per-file
    // reader streams its file's row groups in order, so the running record
    // count IS `_metadata.row_index` — each file's sorted ordinal set rides
    // its partition and costs untouched files nothing. No add-order
    // grouping needed (tombstones name files; the sequence rule holds by
    // construction). A tombstoned path naming NO file of the snapshot has
    // nowhere to apply — refuse loudly rather than silently resurrect
    // (both sides normalize identically, so this fires only on genuine
    // metadata corruption).
    // TSV tombstones expand at planning (takedown-sized by the commit
    // contract); deletion VECTORS stay coordinates — each file's partition
    // carries (dvPath, offset, length) and the TASK range-reads its bitmap,
    // so a DV table plans from O(index) driver bytes however many rows are
    // tombstoned.
    val posAll = cat.positionalTsvPairs(table, snap)
    val dvIdx = cat.deletionVectorIndex(table, snap)
    require(dvIdx.map(_.file).distinct.size == dvIdx.size,
      s"graft-catalog source: snapshot $snap of '$table' carries MULTIPLE deletion " +
      "vectors for one data file — run rewrite_position_deletes to merge them")
    val posByFile: Map[String, Seq[Long]] =
      if (posAll.isEmpty && dvIdx.isEmpty) Map.empty
      else {
        val snapNorm = cat.filesWithAddOrder(table, snap)
          .map(p => ParquetSnapshotCatalog.normFile(p._1)).toSet
        val orphans = (posAll.collect { case (f, _) if !snapNorm(f) => f } ++
          dvIdx.collect { case e if !snapNorm(e.file) => e.file }).distinct
        require(orphans.isEmpty,
          s"graft-catalog source: positional tombstones of '$table' name files " +
          s"absent from snapshot $snap: ${orphans.take(3).mkString(", ")}")
        posAll.groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).distinct.sorted }
      }
    val dvByFile: Map[String, (String, Long, Int)] =
      dvIdx.map(e => e.file -> ((e.dvPath, e.offset, e.length))).toMap
    val renames = cat.renameHistory(table)
    val deletes = cat.equalityDeletes(table, snap)
      .map { case (s, c, keys) => (s, cat.currentName(renames)(c), keys) }
    lazy val withDropped = cat.schemaAt(SparkSession.active, table, snap, withDropped = true)
    val keyField: Map[String, StructField] = deletes.map(_._2).distinct.map { c =>
      val f = tableSchema.find(_.name == c).orElse(withDropped.find(_.name == c))
        .getOrElse(throw new IllegalStateException(
          s"graft-catalog source: delete column '$c' is in no data file of snapshot $snap"))
      require(CatalogSource.deletableType(f.dataType),
        s"graft-catalog source: delete column '$c' has type ${f.dataType.simpleString}; " +
        "only string/long/int delete keys are replayable by the scan's reader")
      c -> f
    }.toMap
    files.sortBy(_._1).map { case (f, addSnap) =>
      val norm = ParquetSnapshotCatalog.normFile(f)
      CatalogFilePartition(f,
        deletes.filter(_._1 > addSnap).map(d => (keyField(d._2), d._3)),
        posByFile.getOrElse(norm, Nil),
        dvByFile.get(norm))
    }.toArray[InputPartition]
  }

  // batch read: the effective snapshot (VERSION AS OF or CURRENT),
  // file-pruned by the pushed filters
  override def planInputPartitions(): Array[InputPartition] = {
    // a ZERO-column unfiltered scan (`df.count()`, `HashAggregate([])` over
    // the relation after column pruning) only needs the row cardinality —
    // when every file is __count-ed and no tombstone is pending, emit the
    // rows synthetically and never open a data file
    if (required.isEmpty && pushed.isEmpty && asOf.isEmpty && startSnap <= 0 &&
        runtimeKeep.isEmpty) {
      cat.countStar(table) match {
        case Some(n) => return Array(CatalogRowCountPartition(n))
        case None => ()
      }
    }
    keyGroups match {
      case Some((_, groups)) =>
        // runtime pruning keeps the KeyGroupedPartitioning contract: files
        // may drop out of a group and whole groups may disappear (Spark
        // back-fills missing partition values with empty partitions), but a
        // surviving group's key never changes.
        val byKey = runtimeKeyVals match {
          case Some(allowed) => groups.filter { g =>
            // a key that cannot externalize (incl. null) is conservatively
            // KEPT — only a provably-absent value drops its group
            externalize(g.asInstanceOf[CatalogKeyGroupPartition].keyVal)
              .forall(allowed.contains)
          }
          case None => groups
        }
        runtimeKeep match {
          case Some(keep) => byKey.flatMap { gp =>
            val g = gp.asInstanceOf[CatalogKeyGroupPartition]
            val fs = g.files.filter(f => keep(f.file))
            if (fs.isEmpty) None else Some(CatalogKeyGroupPartition(fs, g.keyVal): InputPartition)
          }
          case None => byKey
        }
      case None =>
        val files = runtimeKeep match {
          case Some(keep) => batchFiles.filter(f => keep(f._1))
          case None => batchFiles
        }
        planFiles(files, batchSnap)
    }
  }

  /** The table's `read.split.target-size` property as a bin-pack bound —
    * read once per scan (planning-time metadata, same listing the stats
    * consultation pays).
    */
  private[sources] lazy val splitOverride: Option[Long] =
    cat.getMeta(table, "prop.read.split.target-size").flatMap(_.toLongOption)

  /** Every partition reads columnar ([[CatalogReaderFactory]]), so Spark
    * need not plan the partitions to know it. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.SUPPORTED

  override def createReaderFactory(): PartitionReaderFactory =
    new CatalogReaderFactory(required, cat.renameHistory(table), hadoopConf)

  /** Planned files with their deletes, bin-packed — shared by the batch
    * read and the micro-batch stream. */
  private[sources] def planFiles(files: Seq[(String, Long)], snap: Long): Array[InputPartition] =
    CatalogScan.binPack(withDeletes(files, snap), hadoopConf.value.value, splitOverride)

  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream = {
    require(asOf.isEmpty,
      "graft-catalog: VERSION AS OF is a batch read; streaming starts from startSnapshot")
    new CatalogMicroBatchStream(this, root, table, maxSnaps, startSnap)
  }
}

/** Offset = last fully-emitted snapshot id (0 = nothing emitted yet). */
final case class CatalogOffset(snap: Long) extends streaming.Offset {
  override def json(): String = snap.toString
}

final class CatalogMicroBatchStream(scan: CatalogScan, root: String, table: String,
                                    maxSnaps: Int, startSnap: Long)
    extends streaming.MicroBatchStream with streaming.SupportsTriggerAvailableNow {
  private lazy val cat = new ParquetSnapshotCatalog(root)
  private var availableNowTarget: Long = -1L

  private def currentLatest(): Long =
    cat.currentSnapshot(table).getOrElse(startSnap)

  override def prepareForTriggerAvailableNow(): Unit = availableNowTarget = currentLatest()
  override def initialOffset(): streaming.Offset = CatalogOffset(startSnap)
  override def deserializeOffset(json: String): streaming.Offset = CatalogOffset(json.toLong)

  override def latestOffset(): streaming.Offset = CatalogOffset(currentLatest())

  /** Admission control: advance at most `maxSnapshotsPerBatch` committed
    * snapshots past `start` (and never past the AvailableNow pin) — a
    * backlogged stream catches up in bounded windows.
    */
  override def latestOffset(start: streaming.Offset, limit: streaming.ReadLimit): streaming.Offset = {
    val from = start.asInstanceOf[CatalogOffset].snap
    val cap = if (availableNowTarget >= 0) availableNowTarget else currentLatest()
    val pending = cat.snapshots(table).filter(s => s > from && s <= cap)
    CatalogOffset(if (pending.isEmpty) from else pending.take(maxSnaps).last)
  }

  override def planInputPartitions(start: streaming.Offset, end: streaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CatalogOffset].snap
    val e = end.asInstanceOf[CatalogOffset].snap
    if (e <= s || e <= 0) return Array.empty
    // offset 0 bootstraps with the full snapshot; pushed filters prune the
    // window's files too (sidecars permitting); small streamed drops
    // bin-pack like batch partitions
    scan.planFiles(scan.pruneByFilters(scan.windowFiles(s, e), e), e)
  }

  override def createReaderFactory(): PartitionReaderFactory = scan.createReaderFactory()
  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

// ----------------------------------------------------------------------
// DSv2 WRITE path — the other half of the connector:
//   df.write.format("graft-catalog").mode("append")… and
//   ds.writeStream.format("graft-catalog")… (exactly-once via epoch
// markers). Tasks write parquet part files under a job-scoped staging
// directory through [[CatalogFileWriter]], the catalog's one data-file
// writer, and return each file's row count, stats and schema in their
// commit messages; the JOB-level commit is one metadata-only
// `ParquetSnapshotCatalog.commitFiles`, so a failed job leaves only
// unreferenced staging files (orphan-GC'd) and a committed job is the same
// atomic snapshot every other write path produces. The table must already
// exist (first commit via the catalog API) — DSv2 writes are appends.
// ----------------------------------------------------------------------
import org.apache.spark.sql.connector.write.{Write, WriteBuilder, BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.{streaming => wstreaming}
import graft.spark.{WriteMode, WriteSpec}

/** How the job-level commit lands: fast-append, whole-table replace, or an
  * Iceberg-shape partition overwrite (dynamic = replace the partitions the
  * data touches; `Partitions(values)` = a static `PARTITION (col=v)` clause,
  * clearing the named partitions even when no new rows land in them). */
private[sources] sealed trait CatalogWriteMode
private[sources] object CatalogWriteMode {
  case object Append extends CatalogWriteMode
  case object Truncate extends CatalogWriteMode
  case object DynamicPartitions extends CatalogWriteMode
  final case class Partitions(values: Set[String]) extends CatalogWriteMode
}

final class CatalogWriteBuilder(schema: StructType, root: String, table: String)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
    with org.apache.spark.sql.connector.write.SupportsOverwriteV2 {
  private var mode: CatalogWriteMode = CatalogWriteMode.Append
  private lazy val cat = new ParquetSnapshotCatalog(root)

  /** `INSERT OVERWRITE` (static, no partition clause) /
    * `df.write.mode("overwrite")`: the job commit becomes a REPLACE
    * snapshot instead of a fast-append — still one atomic metadata swap,
    * and time travel to the overwritten snapshot stays complete
    * (overwrites are snapshots, not mutations).
    */
  override def truncate(): WriteBuilder = { mode = CatalogWriteMode.Truncate; this }

  /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic` (and
    * `df.writeTo(t).overwritePartitions()`): replace exactly the transform
    * values the new data pins, keep everything else — Iceberg's dynamic
    * overwrite, metadata-only over the untouched partitions.
    */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(cat.partitionSpec(table).nonEmpty,
      s"graft-catalog: dynamic partition overwrite of '$table' needs a declared " +
      "partition transform (plain INSERT OVERWRITE replaces the whole table)")
    mode = CatalogWriteMode.DynamicPartitions; this
  }

  /** A static `INSERT OVERWRITE t PARTITION (col=v, ...)` arrives as an
    * overwrite-by-filter on the partition column (Spark renders the static
    * value as null-safe equality `<=>`); only identity-partition equality
    * is provably a partition swap — anything else is refused at analysis
    * via [[canOverwrite]] (never a silent whole-table replace).
    */
  private def partitionKeys(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[Set[String]] = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => VLit}
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames().length == 1 => Some(f.fieldNames()(0))
        case _ => None
      }
    def litOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case l: VLit[_] => l.dataType match {
          case StringType | LongType | IntegerType => Option(l.value).map(_.toString)
          case _ => None
        }
        case _ => None
      }
    cat.partitionSpec(table) match {
      case Some(graft.spark.IdentityTransform(col)) if predicates.length == 1 =>
        val p = predicates(0)
        val kv: Option[Set[String]] = p.name() match {
          case "=" | "<=>" if p.children().length == 2 =>
            for (c <- colOf(p.children()(0)) if c == col;
                 v <- litOf(p.children()(1))) yield Set(v)
          case "IN" if p.children().length >= 2 =>
            colOf(p.children()(0)).filter(_ == col).flatMap { _ =>
              val vs = p.children().drop(1).toSeq.map(litOf)
              if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get).toSet)
            }
          case _ => None
        }
        kv
      case _ => None
    }
  }
  override def canOverwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    predicates.forall(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions.filter.AlwaysTrue]) ||
      partitionKeys(predicates).isDefined
  override def overwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : WriteBuilder =
    if (predicates.forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.filter.AlwaysTrue]))
      truncate()
    else {
      mode = CatalogWriteMode.Partitions(partitionKeys(predicates).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-catalog: overwrite of '$table' supports TRUE (full replace) or " +
          "equality on the identity partition column; got " +
          predicates.mkString(", "))))
      this
    }

  override def build(): Write = new CatalogWrite(schema, root, table, mode,
    cat.partitionSpec(table))
}

/** One data file as its writer saw it: the rows it holds, each stat's
  * (name, min, max) cast to string (None = no non-null value), each bloom
  * column's (name, bits, bitset), the HLL registers and DD histogram of the
  * sketch column, and the schema it was written with. */
final case class WrittenFile(path: String, schema: StructType, rows: Long = 0L,
    bounds: Seq[(String, Option[String], Option[String])] = Nil,
    blooms: Seq[(String, Int, Array[Byte])] = Nil,
    hll: Option[Array[Long]] = None,
    dd: Seq[(Long, Long)] = Nil)

/** A writer task's output: every file it wrote, with what it recorded. */
final case class CatalogCommitMessage(files: Seq[WrittenFile]) extends WriterCommitMessage

final class CatalogWrite(schema: StructType, root: String, table: String,
                         mode: CatalogWriteMode = CatalogWriteMode.Append,
                         spec: Option[graft.spark.PartTransform] = None)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  private val stagingId = java.util.UUID.randomUUID().toString.take(8)
  private lazy val cat = new ParquetSnapshotCatalog(root)

  // ------------------------------------------------------------------
  // Write DISTRIBUTION + ORDERING (Iceberg's write-clustered shape): a
  // table declared PARTITIONED BY asks Spark to shuffle same-key rows into
  // the same task and sort within it, so the value-rolling writer emits the
  // FEWEST one-value-per-file outputs. Correctness never depends on it —
  // the writer rolls at every value boundary regardless; clustering only
  // minimizes file count.
  // ------------------------------------------------------------------
  /** The write-side clustering key: the raw column for order-preserving
    * transforms, the bucket TRANSFORM itself for bucket — Spark resolves
    * `bucket(n, col)` through the table catalog's FunctionCatalog
    * ([[GraftBucketFunction]]) and shuffles/sorts by the bucket id, so
    * each task holds whole buckets and the value-rolling writer emits one
    * file per bucket.
    */
  private def clusterExpr(s: graft.spark.PartTransform)
      : org.apache.spark.sql.connector.expressions.Expression = s match {
    case graft.spark.BucketTransform(n, c) =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
    case other => org.apache.spark.sql.connector.expressions.Expressions.column(other.col)
  }

  /** The write.sort-order TBLPROPERTY (unpartitioned tables only — a
    * declared transform's clustering wins): INSERTs RANGE-sort globally on
    * these columns and the writer tracks per-file min/max into the stats
    * sidecar, so a pure-SQL table gets zone-map pruning with zero Scala —
    * Iceberg's table sort order, end to end.
    */
  private lazy val sortOrderCols: Seq[String] =
    if (spec.nonEmpty) Nil
    else cat.getMeta(table, "prop.write.sort-order")
      .toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  private def sortOrderSorts: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    sortOrderCols.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    spec match {
      case Some(s) => org.apache.spark.sql.connector.distributions.Distributions.clustered(
        Array(clusterExpr(s)))
      case None if sortOrderCols.nonEmpty =>
        org.apache.spark.sql.connector.distributions.Distributions.ordered(sortOrderSorts)
      case None => org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    }
  override def distributionStrictlyRequired(): Boolean = false // advisory: rolling stays exact
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    spec match {
      case Some(s) => Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
        clusterExpr(s),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case None => sortOrderSorts
    }

  /** What the job commit records: every file's row count, the sort-order
    * columns' zone maps, and a partitioned table's per-file transform pin
    * (its stats bounds, lo == hi) — exactly what partition pruning, SPJ key
    * grouping and metadata-only `COUNT(*)` consume. */
  private def writeSpec(m: WriteMode): WriteSpec =
    WriteSpec(m, stats = Some(sortOrderCols.map(c => (c, s"`$c`"))), part = spec)

  private def dataDir: String =
    new org.apache.hadoop.fs.Path(root, s"$table/data/dsv2-$stagingId").toString

  private lazy val fileWrite = CatalogFileWrite(SparkSession.active, schema,
    dataDir, writeSpec(WriteMode.Append).statExprs,
    rollOn = spec.isDefined,
    targetBytes = cat.getMeta(table, "prop.write.target-file-size").flatMap(_.toLongOption),
    emptyFilePerTask = true)

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = fileWrite
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val files = CatalogWrite.filesOf(messages)
      // hidden partitioning needs a non-null key on every row: a file
      // pinned to NULL fails the job, and abort drops its files
      spec.foreach { s =>
        val nullPinned = files.filter(f =>
          f.rows > 0 && !f.bounds.exists(b => b._1 == s.statName && b._2.isDefined))
        require(nullPinned.isEmpty,
          s"graft-catalog: NULL partition value in '${s.col}' of table '$table' — " +
          "hidden partitioning needs a non-null key on every row")
      }
      mode match {
        case CatalogWriteMode.Truncate =>
          // every snapshot owns >= 1 data file — an empty overwrite would
          // commit an unreadable snapshot; refuse loudly (DROP TABLE is the
          // empty-the-table operation)
          require(files.nonEmpty,
            s"graft-catalog: refusing empty INSERT OVERWRITE of '$table'")
          cat.commitFiles(files, table, writeSpec(WriteMode.Overwrite))
        case CatalogWriteMode.DynamicPartitions =>
          // zero new rows touch zero partitions: dynamic overwrite of
          // nothing is a no-op, not a truncate
          if (files.nonEmpty) cat.overwritePartitionValues(files, table, None)
        case CatalogWriteMode.Partitions(values) =>
          // empty files still CLEAR the named partitions (static contract)
          cat.overwritePartitionValues(files, table, Some(values))
        case CatalogWriteMode.Append =>
          if (files.nonEmpty) cat.commitFiles(files, table, writeSpec(WriteMode.Append))
      }
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      CatalogWrite.deleteAll(messages, fileWrite.output.hadoopConf)
  }

  override def toStreaming: wstreaming.StreamingWrite = {
    require(mode == CatalogWriteMode.Append,
      "graft-catalog sink: only append output mode is supported (truncate " +
      "per epoch would rewrite the table every micro-batch)")
    val write = CatalogFileWrite(SparkSession.active, schema, dataDir, Nil,
      emptyFilePerTask = true)
    new wstreaming.StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo): wstreaming.StreamingDataWriterFactory =
      write
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val files = CatalogWrite.filesOf(messages)
      if (files.nonEmpty &&
          cat.commitFiles(files, table, WriteSpec(WriteMode.Batch(epochId))).isEmpty)
        CatalogWrite.deleteAll(messages, write.output.hadoopConf) // replayed epoch: drop the duplicate outputs
    }
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      CatalogWrite.deleteAll(messages, write.output.hadoopConf)
    }
  }
}

object CatalogWrite {
  /** Delete the files a writer wrote, where they exist. */
  private[sources] def deleteFiles(files: Iterable[String], conf: Configuration): Unit =
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }

  private[sources] def filesOf(messages: Array[WriterCommitMessage]): Seq[WrittenFile] =
    messages.toSeq.flatMap {
      case CatalogCommitMessage(fs) => fs
      case _ => Nil
    }.sortBy(_.path)

  private[sources] def deleteAll(messages: Array[WriterCommitMessage], conf: Configuration): Unit =
    deleteFiles(filesOf(messages).map(_.path), conf)
}

/** Spark's own parquet writer for one schema: `ParquetFileFormat.prepareWrite`
  * runs once on the driver against the session's Hadoop conf, and every
  * task opens its files from the resulting `OutputWriterFactory` — nested
  * types, timestamps and the session's parquet settings exactly as
  * `df.write.parquet` writes them.
  */
final class ParquetOutput private (val schema: StructType,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: Broadcast[SerializableConfiguration]) extends Serializable {
  def hadoopConf: Configuration = conf.value.value
  def open(path: String): org.apache.spark.sql.execution.datasources.OutputWriter =
    factory.newInstance(path, schema, new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      hadoopConf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
}

object ParquetOutput {
  def apply(spark: SparkSession, schema: StructType): ParquetOutput = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(SessionHadoopConf(spark))
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    new ParquetOutput(schema, factory,
      spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)))
  }

  // Spark's OutputWriter reports no size; parquet's in-progress data size
  // (flushed row groups + the buffered estimate, what ParquetWriter
  // .getDataSize reports) sits on its record writer
  private lazy val recordWriterField = {
    val f = classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter]
      .getDeclaredField("recordWriter")
    f.setAccessible(true); f
  }
  private lazy val internalWriterField = {
    val f = classOf[org.apache.parquet.hadoop.ParquetRecordWriter[_]].getDeclaredField("internalWriter")
    f.setAccessible(true); f
  }
  private lazy val dataSizeMethod = {
    val m = Class.forName("org.apache.parquet.hadoop.InternalParquetRecordWriter").getMethod("getDataSize")
    m.setAccessible(true); m
  }

  private[sources] def dataSize(w: org.apache.spark.sql.execution.datasources.OutputWriter): Long =
    dataSizeMethod.invoke(internalWriterField.get(recordWriterField.get(w))).asInstanceOf[Long]
}

/** The catalog's one data-file writer, configured once on the driver: the
  * parquet output, the data directory, and the per-row expressions whose
  * values every file folds — each stats expression's min/max (`statExprs`,
  * (sidecar name, SQL) pairs evaluated as the Catalyst expressions the
  * session resolves, bounds cast to string in the session time zone), the
  * bloom bit indices of each bloom column, and the HLL value and DD bucket
  * of the sketch columns. With `rollOn` the writer starts a new file
  * whenever the first stat's value changes (the partition transform's pin),
  * and with `targetBytes` whenever the file reaches that size.
  *
  * A task that writes no row writes no file — except with
  * `emptyFilePerTask` (the DSv2 contract: every task commits one file), or
  * for partition 0 of an unrolled write (the `df.write.parquet` contract,
  * so an empty frame still commits a readable snapshot).
  */
final case class CatalogFileWrite(output: ParquetOutput, dir: String,
    exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    statNames: Seq[String], blooms: Seq[(String, Int)], hll: Boolean, dd: Boolean,
    rollOn: Boolean, targetBytes: Option[Long], emptyFilePerTask: Boolean, timeZone: String)
    extends DataWriterFactory with wstreaming.StreamingDataWriterFactory {
  def statTypes: Seq[DataType] = exprs.take(statNames.length).map(_.dataType)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CatalogFileWriter(this, dir, f"part-$partitionId%05d-$taskId",
      !rollOn && (emptyFilePerTask || partitionId == 0))

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new CatalogFileWriter(this, s"$dir-e$epochId", f"part-$partitionId%05d-$taskId", true)

  /** Write one partition's rows — the catalog's own (non-DSv2) write task. */
  def run(partitionId: Int, rows: Iterator[InternalRow]): CatalogCommitMessage = {
    val w = createWriter(partitionId,
      Option(org.apache.spark.TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L))
    try {
      rows.foreach(w.write)
      w.commit().asInstanceOf[CatalogCommitMessage]
    } catch { case t: Throwable => w.abort(); throw t }
  }
}

object CatalogFileWrite {
  /** Resolve the writer's expressions against `schema` with the session's
    * analyzer (so `days`' date_format renders in the session time zone) and
    * bind them to the written row's ordinals. */
  def apply(spark: SparkSession, schema: StructType, dir: String,
            statExprs: Seq[(String, String)], blooms: Seq[(String, Int)] = Nil,
            hll: Option[String] = None, dd: Option[String] = None,
            rollOn: Boolean = false, targetBytes: Option[Long] = None,
            emptyFilePerTask: Boolean = false): CatalogFileWrite = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val sqls = statExprs.map(_._2) ++
      blooms.flatMap { case (c, bits) => ParquetSnapshotCatalog.bloomIdxSql(c, bits) } ++
      hll.map(c => s"CAST($c AS STRING)") ++ dd.map(ParquetSnapshotCatalog.ddRepSql)
    val exprs =
      if (sqls.isEmpty) Nil
      else {
        val base = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        val Project(list, _) = base.selectExpr(sqls: _*).queryExecution.analyzed
        BindReferences.bindReferences(list.map { case a: Alias => a.child; case e => e },
          AttributeSeq(base.queryExecution.analyzed.output))
      }
    // bloom indices and DD buckets are read as longs
    require(exprs.drop(statExprs.length).zipWithIndex.forall { case (e, i) =>
        e.dataType == LongType || (hll.isDefined && i == 4 * blooms.length) },
      s"graft-catalog writer: bloom/dd expressions must be BIGINT: ${sqls.drop(statExprs.length)}")
    CatalogFileWrite(ParquetOutput(spark, schema), dir, exprs, statExprs.map(_._1), blooms,
      hll.isDefined, dd.isDefined, rollOn, targetBytes, emptyFilePerTask,
      spark.sessionState.conf.sessionLocalTimeZone)
  }
}

/** One task's writer (see [[CatalogFileWrite]]): rows go straight to the
  * parquet output while one projection evaluates every stats, bloom and
  * sketch expression; each finished file becomes one [[WrittenFile]] of the
  * task's [[CatalogCommitMessage]]. A NULL transform value is a pin like
  * any other — the DSv2 job commit refuses it.
  */
final class CatalogFileWriter(w: CatalogFileWrite, dir: String, tag: String, keepEmpty: Boolean)
    extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}

  private val proj = if (w.exprs.isEmpty) null else UnsafeProjection.create(w.exprs)
  private val statTypes = w.statTypes.toArray
  private val nStats = statTypes.length
  private val ords = statTypes.map(org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering)
  private val toStr = statTypes.map(dt =>
    Cast(BoundReference(0, dt, nullable = true), StringType, Some(w.timeZone)))
  private val bloomAt = nStats
  private val hllAt = bloomAt + 4 * w.blooms.length
  private val ddAt = hllAt + (if (w.hll) 1 else 0)

  private var out: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var path: String = _
  private var fileNo = 0
  private var rows = 0L
  private var pin: UTF8String = _
  private val mins = new Array[Any](nStats)
  private val maxs = new Array[Any](nStats)
  private var bits: Array[Array[Byte]] = _
  private var regs: Array[Long] = _
  private val hist = scala.collection.mutable.HashMap.empty[Long, Long]
  private val done = scala.collection.mutable.ArrayBuffer.empty[WrittenFile]

  private def open(): Unit = {
    path = f"$dir/$tag-$fileNo%04d.parquet"
    fileNo += 1
    out = w.output.open(path)
    rows = 0L
    java.util.Arrays.fill(mins.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(maxs.asInstanceOf[Array[AnyRef]], null)
    bits = w.blooms.map(b => new Array[Byte](b._2 / 8)).toArray
    regs = if (w.hll) new Array[Long](graft.operators.Sketch.hllM) else null
    hist.clear()
  }

  private def bound(i: Int, v: Any): Option[String] =
    Option(v).map(x => toStr(i).eval(new GenericInternalRow(Array[Any](x))).toString)

  private def finish(): Unit = if (out != null) {
    out.close()
    out = null
    done += WrittenFile(ParquetSnapshotCatalog.pathOf(path), w.output.schema, rows,
      (0 until nStats).map(i => (w.statNames(i), bound(i, mins(i)), bound(i, maxs(i)))),
      w.blooms.zip(bits).map { case ((c, n), b) => (c, n, b) },
      Option(regs), hist.toSeq.sorted)
  }

  override def write(record: InternalRow): Unit = {
    val p = if (proj == null) null else proj(record)
    if (w.rollOn && out != null) {
      val v = if (p.isNullAt(0)) null else p.getUTF8String(0)
      if (v != pin) finish()
    }
    if (out == null) {
      open()
      if (w.rollOn) pin = if (p.isNullAt(0)) null else p.getUTF8String(0).clone()
    }
    out.write(record)
    rows += 1
    var i = 0
    while (i < nStats) {
      if (!p.isNullAt(i)) {
        val v = p.get(i, statTypes(i))
        if (mins(i) == null || ords(i).lt(v, mins(i))) mins(i) = copyOf(v)
        if (maxs(i) == null || ords(i).gt(v, maxs(i))) maxs(i) = copyOf(v)
      }
      i += 1
    }
    var b = 0
    while (b < bits.length) {
      var k = 0
      while (k < 4) {
        val at = bloomAt + 4 * b + k
        if (!p.isNullAt(at)) {
          val ix = p.getLong(at).toInt
          bits(b)(ix >> 3) = (bits(b)(ix >> 3) | (1 << (ix & 7))).toByte
        }
        k += 1
      }
      b += 1
    }
    if (regs != null && !p.isNullAt(hllAt))
      graft.operators.Sketch.hllAdd(regs, p.getUTF8String(hllAt).toString)
    if (w.dd && !p.isNullAt(ddAt)) {
      val rep = p.getLong(ddAt)
      hist(rep) = hist.getOrElse(rep, 0L) + 1L
    }
    if (w.targetBytes.exists(t => ParquetOutput.dataSize(out) >= t)) finish()
  }

  private def copyOf(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case o => o
  }

  override def commit(): WriterCommitMessage = {
    if (done.isEmpty && out == null && keepEmpty) open()
    finish()
    CatalogCommitMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (out != null) { out.close(); out = null; done += WrittenFile(path, w.output.schema) }
    CatalogWrite.deleteFiles(done.map(_.path), w.output.hadoopConf)
  }

  override def close(): Unit = ()
}

// ----------------------------------------------------------------------
// ROW-LEVEL SQL DML (SupportsDelta) — UPDATE / MERGE INTO / arbitrary-
// predicate DELETE as Iceberg-style MERGE-ON-READ position deltas: each
// task streams its deleted rows' (file, ordinal) coordinates into a staged
// positional-tombstone file (O(1) task memory — the pairs never pass
// through the driver) and its replacement/inserted rows into a staged
// parquet file; the job commit renames the tombstones into the manifest
// dir and references them + one delta manifest in ONE atomic snapshot
// (ParquetSnapshotCatalog.commitRowDelta). Zero existing data rewritten,
// at any UPDATE/MERGE size.
// ----------------------------------------------------------------------

final case class DeltaCommitMessage(dataFile: Option[WrittenFile],
                                    deleteFile: Option[String],
                                    touched: Seq[String]) extends WriterCommitMessage

final class GraftDeltaWrite(dataSchema: StructType, rowId: StructType,
                            root: String, table: String)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  private val stagingId = java.util.UUID.randomUUID().toString.take(8)
  private lazy val cat = new ParquetSnapshotCatalog(root)
  private lazy val output = ParquetOutput(SparkSession.active, dataSchema)
  override def description(): String = s"GraftCatalogDeltaWrite(table=$table)"

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new org.apache.spark.sql.connector.write.DeltaBatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.DeltaWriterFactory =
        new GraftDeltaWriterFactory(rowId, root, table, stagingId, output)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val ms = messages.collect { case m: DeltaCommitMessage => m }.toSeq
        val dels = ms.flatMap(_.deleteFile).sorted
        val datas = ms.flatMap(_.dataFile).sortBy(_.path)
        val touched = ms.flatMap(_.touched).distinct
        // a statement matching zero rows commits nothing (no empty snapshot)
        if (dels.nonEmpty || datas.nonEmpty)
          cat.commitRowDelta(table, dels, touched, datas)
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        CatalogWrite.deleteFiles(messages.toSeq.collect { case m: DeltaCommitMessage => m }
          .flatMap(m => m.dataFile.map(_.path) ++ m.deleteFile), output.hadoopConf)
    }
}

final class GraftDeltaWriterFactory(rowId: StructType, root: String, table: String,
                                    stagingId: String, output: ParquetOutput)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(rowId, root, table, stagingId, partitionId, taskId, output)
}

/** Per-task delta writer: deletes stream straight to a staged tombstone tsv
  * (normalized + escaped exactly as the tombstone commit paths write them),
  * inserts to a staged parquet part file opened from the same parquet
  * output every catalog data file comes from — both lazily created, so a
  * task that only deletes stages no parquet and vice versa. `touched`
  * collects the DISTINCT files this task tombstoned (O(files), not
  * O(rows)) for the commit-time conflict validation. With
  * `representUpdateAsDeleteAndInsert` the update path is split upstream;
  * the direct `update` is kept correct anyway (delete + insert).
  */
final class GraftDeltaWriter(rowId: StructType, root: String, table: String, stagingId: String,
                             partitionId: Int, taskId: Long, output: ParquetOutput)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  import org.apache.hadoop.fs.Path

  private val fileIdx = rowId.fieldIndex("_file")
  private val posIdx = rowId.fieldIndex("_pos")

  private val dataPath = new Path(root,
    f"$table/data/dsv2-$stagingId/part-$partitionId%05d-$taskId.parquet")
  private var dataWriter: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var rows = 0L

  private val delPath = new Path(root,
    f"$table/data/dsv2-$stagingId/del-$partitionId%05d-$taskId.tsv")
  private var delOut: java.io.Writer = _
  private val touched = scala.collection.mutable.LinkedHashSet.empty[String]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (delOut == null)
      delOut = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        delPath.getFileSystem(output.hadoopConf).create(delPath, true),
        java.nio.charset.StandardCharsets.UTF_8))
    val f = id.getUTF8String(fileIdx).toString
    delOut.write(ParquetSnapshotCatalog.posTombstoneLine(f, id.getLong(posIdx)))
    delOut.write('\n')
    touched += f
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id); insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    if (dataWriter == null) dataWriter = output.open(dataPath.toString)
    dataWriter.write(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (dataWriter != null) dataWriter.close()
    if (delOut != null) delOut.close()
    DeltaCommitMessage(
      if (dataWriter != null)
        Some(WrittenFile(ParquetSnapshotCatalog.pathOf(dataPath.toString), output.schema, rows))
      else None,
      if (delOut != null) Some(delPath.toUri.getPath) else None,
      touched.toSeq)
  }

  override def abort(): Unit = {
    if (dataWriter != null) dataWriter.close()
    if (delOut != null) delOut.close()
    CatalogWrite.deleteFiles(Seq(dataPath.toString, delPath.toString), output.hadoopConf)
  }

  override def close(): Unit = ()
}

/** Zero-column cardinality partition: `n` synthetic empty rows from the
  * `__count` sidecar metadata — no data file opened.
  */
final case class CatalogRowCountPartition(n: Long) extends InputPartition

/** One storage-partition: every file pinned to the SAME partition value,
  * read as a sequential chain. `partitionKey` is what lets Spark align two
  * scans' equal-keyed partitions without an exchange.
  */
final case class CatalogKeyGroupPartition(files: Seq[CatalogFilePartition], keyVal: Any)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array(keyVal))
}

/** The scan's one reader factory: every partition reads columnar. File
  * partitions — alone, bin-packed or key-grouped — chain one
  * [[CatalogPartitionReader]] per file; a row-count partition emits
  * zero-column batches.
  */
final class CatalogReaderFactory(required: StructType, renames: Seq[(String, String)],
                                 conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft-catalog partitions read columnar")

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case CatalogRowCountPartition(n) => new PartitionReader[ColumnarBatch] {
        private var left = n
        private var batch: ColumnarBatch = _
        override def next(): Boolean = left > 0 && {
          val k = math.min(left, CatalogPartitionReader.BatchRows.toLong).toInt
          batch = new ColumnarBatch(Array.empty[ColumnVector], k)
          left -= k
          true
        }
        override def get(): ColumnarBatch = batch
        override def close(): Unit = ()
      }
      case p: CatalogFilePartition => chain(Seq(p))
      case g: CatalogFileGroupPartition => chain(g.files)
      case g: CatalogKeyGroupPartition => chain(g.files)
    }

  /** Sequential per-file chain; each file keeps its own delete state and
    * `_pos` ordinals.
    */
  private def chain(files: Seq[CatalogFilePartition]): PartitionReader[ColumnarBatch] =
    new PartitionReader[ColumnarBatch] {
      private val it = files.iterator
      private var cur: CatalogPartitionReader = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            cur = new CatalogPartitionReader(it.next(), required, renames, conf.value.value)
          }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): ColumnarBatch = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }
}

object CatalogPartitionReader {
  /** Data files actually OPENED by this JVM's readers — the observable the
    * runtime-filter and metadata-only specs assert on (a pruned file must
    * never be opened; a metadata-answered query must open zero).
    */
  val opened = new java.util.concurrent.atomic.AtomicLong(0)

  /** Rows per decoded batch (Spark's `columnarReaderBatchSize` default). */
  private[sources] val BatchRows = 4096
}

/** Reads one data file through Spark's `VectorizedParquetRecordReader` —
  * the engine's own parquet decoder, nested columns included — and applies
  * the file's deletes to each decoded batch, as Iceberg's vectorized read
  * does:
  *   - a column resolves to this file's physical name by replaying the
  *     rename chain over the footer's fields; a column the file predates
  *     (ADD-column evolution) reads as nulls;
  *   - the decoded columns are the required ones plus the equality-delete
  *     keys, so a pruned scan still sees the keys it must match;
  *   - a running ordinal counts the file's physical rows, so positional
  *     tombstones, the deletion vector and `_pos` all name the row
  *     `_metadata.row_index` names, whatever was deleted before it;
  *   - a batch with no deleted row passes through as decoded; otherwise its
  *     vectors are remapped to the surviving rows ([[RowIdRemap]]);
  *   - `_file` is a constant vector and `_pos` a long vector, unless the
  *     file has a physical column of that name (a data column wins).
  */
final class CatalogPartitionReader(p: CatalogFilePartition, required: StructType,
                                   renames: Seq[(String, String)], baseConf: Configuration)
    extends PartitionReader[ColumnarBatch] {
  CatalogPartitionReader.opened.incrementAndGet()
  import CatalogPartitionReader.BatchRows
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
  import org.apache.parquet.HadoopReadOptions
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}

  private val path = new Path(p.file)
  // the requested schema is per file, so the session's conf is copied, never
  // rebuilt from the Hadoop resource files
  private val conf = new Configuration(baseConf)
  private val input = HadoopInputFile.fromPath(path, conf)
  private val stream = input.newStream()
  private val footer =
    ParquetFileReader.readFooter(input, HadoopReadOptions.builder(conf, path).build(), stream)

  /** CURRENT name → this file's physical name. */
  private val physicalOf: Map[String, String] = {
    var cur: Map[String, String] = // physical -> current spelling
      footer.getFileMetaData.getSchema.getFields.asScala.map(f => f.getName -> f.getName).toMap
    renames.foreach { case (o, n) =>
      if (!cur.values.exists(_ == n))
        cur = cur.map { case (ph, c) => (ph, if (c == o) n else c) }
    }
    cur.map(_.swap)
  }

  private val keys: Map[StructField, Set[String]] =
    p.deletes.groupMapReduce(_._1)(_._2.toSet)(_ ++ _)
  // the decoded columns, by current name: required ∪ delete keys, those
  // this file has
  private val decoded: Seq[StructField] =
    (required.fields.toSeq ++ keys.keys.toSeq.sortBy(_.name))
      .filter(f => physicalOf.contains(f.name)).distinctBy(_.name)
  private val slot: Map[String, Int] = decoded.map(_.name).zipWithIndex.toMap

  conf.set("org.apache.spark.sql.parquet.row.requested_schema",
    StructType(decoded.map(f => f.copy(name = physicalOf(f.name)))).json)
  conf.set("parquet.read.support.class",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
  // the schema converter / read support read these SQLConf keys from the
  // Hadoop conf WITHOUT defaults (Spark's own scan pre-seeds them the same
  // way); a session that sets one keeps its value
  Seq("spark.sql.parquet.binaryAsString" -> "false",
    "spark.sql.parquet.int96AsTimestamp" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "false",
    "spark.sql.parquet.fieldId.read.enabled" -> "false",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
    "spark.sql.caseSensitive" -> "false",
    "spark.sql.session.timeZone" -> java.util.TimeZone.getDefault.getID)
    .foreach { case (k, v) => conf.setIfUnset(k, v) }
  private val reader =
    new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", /*useOffHeap=*/ false, BatchRows)
  // the base reader casts to the OLD-API split type (which extends the new);
  // the footer read above is handed over, not read twice
  reader.initialize(new org.apache.hadoop.mapred.FileSplit(path, 0, Long.MaxValue, null: Array[String]),
    new TaskAttemptContextImpl(conf, new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)),
    Some(input), Some(stream), Some(footer))
  reader.initBatch(new StructType(), new GenericInternalRow(0))
  reader.enableReturningBatches()

  // per output column: its decoded slot, or -1 for a reader-made vector
  private val slotOf: Array[Int] = required.fields.map(f => slot.getOrElse(f.name, -1))
  private val made: Array[ColumnVector] = required.fields.map { f =>
    if (slot.contains(f.name)) null
    else f.name match {
      case "_file" =>
        val v = new ConstantColumnVector(BatchRows, StringType)
        v.setUtf8String(UTF8String.fromString(p.file))
        v
      case "_pos" => new OnHeapColumnVector(BatchRows, LongType)
      case _ =>
        val v = new ConstantColumnVector(BatchRows, f.dataType)
        v.setNull()
        v
    }
  }
  private val pos: OnHeapColumnVector = made.collectFirst { case v: OnHeapColumnVector => v }.orNull

  /** `CAST(column AS STRING) IN keys` over the decoded key vector
    * (string/long/int, gated at planning). A key column the file predates
    * is NULL in every row and never matches (anti-join semantics).
    */
  private val keyTests: Seq[(ColumnarBatch, Int) => Boolean] = keys.toSeq.flatMap { case (key, ks) =>
    slot.get(key.name).map { i =>
      def canonical(k: String): Option[Long] = k.toLongOption.filter(_.toString == k)
      key.dataType match {
        case StringType =>
          val s = ks.map(UTF8String.fromString)
          (b: ColumnarBatch, r: Int) => !b.column(i).isNullAt(r) && s(b.column(i).getUTF8String(r))
        case LongType =>
          val s = ks.flatMap(canonical)
          (b: ColumnarBatch, r: Int) => !b.column(i).isNullAt(r) && s(b.column(i).getLong(r))
        case IntegerType =>
          val s = ks.flatMap(canonical)
          (b: ColumnarBatch, r: Int) => !b.column(i).isNullAt(r) && s(b.column(i).getInt(r).toLong)
        case other => throw new IllegalStateException(s"undeletable key type $other")
      }
    }
  }
  private val posDeletes: Array[Long] = p.posDeletes.toArray // sorted at planning
  private var posAt = 0
  // THIS file's deletion vector, range-read once per task from the
  // snapshot's dv blob; walked in step with the batches
  private val dv: org.roaringbitmap.PeekableIntIterator = p.dv.map { case (f, off, len) =>
    graft.spark.DeletionVectors.load(f, off, len, conf).getIntIterator
  }.orNull

  private var first = 0L // physical ordinal of the current batch's first row
  private val dead = new Array[Boolean](BatchRows)
  private var batch: ColumnarBatch = _

  /** The batch's surviving row ids, or null when no row is deleted. */
  private def survivors(b: ColumnarBatch, n: Int): Array[Int] = {
    java.util.Arrays.fill(dead, 0, n, false)
    var any = false
    def kill(ord: Long): Unit = if (ord >= first) { dead((ord - first).toInt) = true; any = true }
    val end = first + n
    while (posAt < posDeletes.length && posDeletes(posAt) < end) {
      kill(posDeletes(posAt)); posAt += 1
    }
    while (dv != null && dv.hasNext && Integer.toUnsignedLong(dv.peekNext()) < end)
      kill(Integer.toUnsignedLong(dv.next()))
    if (keyTests.nonEmpty) {
      var r = 0
      while (r < n) {
        if (!dead(r) && keyTests.exists(_(b, r))) { dead(r) = true; any = true }
        r += 1
      }
    }
    if (!any) null
    else {
      val ids = new Array[Int](n)
      var k = 0
      var r = 0
      while (r < n) { if (!dead(r)) { ids(k) = r; k += 1 }; r += 1 }
      java.util.Arrays.copyOf(ids, k)
    }
  }

  override def next(): Boolean = {
    while (reader.nextBatch()) {
      val raw = reader.resultBatch()
      val n = raw.numRows
      val keep = survivors(raw, n)
      if (pos != null) {
        var r = 0
        while (r < n) { pos.putLong(r, first + r); r += 1 }
      }
      first += n
      if (keep == null || keep.nonEmpty) {
        val cols = Array.tabulate[ColumnVector](required.length) { i =>
          val v = if (slotOf(i) >= 0) raw.column(slotOf(i)) else made(i)
          if (keep == null) v else new RowIdRemap(v, keep)
        }
        batch = new ColumnarBatch(cols, if (keep == null) n else keep.length)
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    reader.close()
    made.foreach(v => if (v != null) v.close())
  }
}

/** The rows `rowIds` of `child`, in order: a batch's surviving rows once
  * its deletes apply (the pattern of Iceberg's `ColumnVectorWithFilter`).
  * Children are remapped too, so a struct's fields stay aligned with its
  * rows; arrays and maps index the child's own element storage.
  */
private[sources] final class RowIdRemap(child: ColumnVector, rowIds: Array[Int])
    extends ColumnVector(child.dataType) {
  private val kids: Array[ColumnVector] = child.dataType match {
    case s: StructType => Array.tabulate(s.length)(i => new RowIdRemap(child.getChild(i), rowIds))
    case _ => Array.empty
  }
  override def getChild(i: Int): ColumnVector =
    if (i < kids.length) kids(i) else new RowIdRemap(child.getChild(i), rowIds)
  override def close(): Unit = () // the child belongs to its file reader
  override def hasNull(): Boolean = child.hasNull
  override def numNulls(): Int = rowIds.count(child.isNullAt)
  override def isNullAt(r: Int): Boolean = child.isNullAt(rowIds(r))
  override def getBoolean(r: Int): Boolean = child.getBoolean(rowIds(r))
  override def getByte(r: Int): Byte = child.getByte(rowIds(r))
  override def getShort(r: Int): Short = child.getShort(rowIds(r))
  override def getInt(r: Int): Int = child.getInt(rowIds(r))
  override def getLong(r: Int): Long = child.getLong(rowIds(r))
  override def getFloat(r: Int): Float = child.getFloat(rowIds(r))
  override def getDouble(r: Int): Double = child.getDouble(rowIds(r))
  override def getArray(r: Int): ColumnarArray = child.getArray(rowIds(r))
  override def getMap(r: Int): ColumnarMap = child.getMap(rowIds(r))
  override def getDecimal(r: Int, precision: Int, scale: Int): Decimal =
    child.getDecimal(rowIds(r), precision, scale)
  override def getUTF8String(r: Int): UTF8String = child.getUTF8String(rowIds(r))
  override def getBinary(r: Int): Array[Byte] = child.getBinary(rowIds(r))
}
