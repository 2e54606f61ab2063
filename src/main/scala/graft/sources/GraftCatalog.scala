package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expression => VExpr, GeneralScalarExpression, Literal => VLiteral, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue, Predicate => VPredicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.spark.ParquetSnapshotCatalog

/** Spark SQL `TableCatalog` plugin over the snapshot catalog — the Iceberg
  * `spark.sql.catalog.<name>` integration shape, so the whole table surface
  * is reachable from PURE SQL with zero Scala:
  *
  *   spark.sql.catalog.gsql      = graft.sources.GraftCatalog
  *   spark.sql.catalog.gsql.root = /warehouse/graft
  *
  *   CREATE TABLE gsql.pages (url STRING, html BINARY, ...)
  *   INSERT INTO gsql.pages SELECT ...          -- metadata-only fast-append
  *   INSERT OVERWRITE gsql.pages SELECT ...     -- atomic replace snapshot
  *   SELECT * FROM gsql.pages                   -- pruned DSv2 scan w/ deletes
  *   SELECT * FROM gsql.pages VERSION AS OF 3   -- time travel (id or tag)
  *   SELECT * FROM gsql.pages TIMESTAMP AS OF '2026-01-01'
  *   DELETE FROM gsql.pages WHERE url = '...'   -- equality tombstone
  *   DELETE FROM gsql.pages WHERE length(text) % 7 = 0
  *                                              -- positional tombstone
  *   ALTER TABLE gsql.pages RENAME COLUMN a TO b -- metadata-only
  *   SHOW TABLES IN gsql / DROP TABLE gsql.pages
  *
  * Reads plan through [[CatalogScan]] (file pruning from zone maps ∩ blooms
  * ∩ partition transform, per-file equality AND positional delete
  * application, rename/add-column evolution resolved per file), writes
  * through [[CatalogWrite]] (task-staged parquet + one atomic metadata
  * commit), and every DML statement is METADATA-ONLY except the actual new
  * data bytes — the property that matters at 100 TB: a SQL `DELETE` never
  * rewrites data, it commits a tombstone snapshot.
  *
  * The catalog is FLAT (tables directly under the root, like a Hive
  * database): the only namespace is the implicit default one.
  */
object GraftCatalog {
  /** Spark's reserved CREATE-time entries — engine bookkeeping, never
    * persisted as user TBLPROPERTIES. */
  private[sources] val reservedProps: Set[String] =
    Set("provider", "location", "owner", "comment", "external", "is_managed_location")
}

class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog {
  private var catName: String = _
  private var root: String = _
  private lazy val cat = new ParquetSnapshotCatalog(root) // root is set by initialize

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"graft catalog '$name' needs spark.sql.catalog.$name.root"))
  }
  override def name(): String = catName

  /** The warehouse root — what `CALL <cat>.<proc>(...)` procedures operate
    * on after resolving this catalog through the session's catalog manager. */
  private[sources] def rootPath: String = root

  private def okNs(ns: Array[String]): Boolean =
    ns.isEmpty || (ns.length == 1 && ns(0) == "default")

  private def flat(ident: Identifier): String = {
    if (!okNs(ident.namespace())) throw new NoSuchTableException(ident)
    ident.name()
  }

  private def existing(t: String): Boolean =
    cat.currentSnapshot(t).isDefined || cat.getMeta(t, "sql.schema").isDefined

  /** The table's CURRENT logical schema: the snapshot's schema as every
    * read sees it (`schemaAt` — the schemas recorded at commit plus the
    * rename/drop history), or for a CREATEd table with no snapshot yet the
    * schema recorded at CREATE time.
    */
  private def schemaOf(t: String): StructType = cat.currentSnapshot(t) match {
    case Some(snap) => cat.schemaAt(SparkSession.active, t, snap)
    case None => DataType.fromJson(cat.getMeta(t, "sql.schema").get).asInstanceOf[StructType]
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!okNs(namespace)) throw new NoSuchNamespaceException(namespace)
    // `__`-prefixed directories are reserved engine metadata (the view
    // store lives at `__views__`) — never user tables
    cat.tableNames.filterNot(_.startsWith("__"))
      .map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    okNs(ident.namespace()) && existing(ident.name())

  // ------------------------------------------------------------------
  // FunctionCatalog: the catalog-resolved V2 functions (Iceberg's shape).
  // `bucket` is the one transforms need — Spark resolves it to plan the
  // bucket-clustered write distribution and to compare the two sides of a
  // bucket storage-partitioned join.
  // ------------------------------------------------------------------
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (!okNs(namespace)) throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (okNs(ident.namespace()) && ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style SQL METADATA TABLES: `SELECT * FROM cat.t.files|
    // snapshots|refs` — the identifier parses as namespace [t] + the meta
    // kind, so intercept before the flat-namespace rule (a real table named
    // "files" at the top level still resolves normally: its namespace is
    // empty)
    val mns = ident.namespace() match {
      case Array("default", t) => Some(t)
      case Array(t) => Some(t)
      case _ => None
    }
    mns match {
      case Some(t) if GraftMetaTable.kinds(ident.name()) && existing(t) =>
        return new GraftMetaTable(root, t, ident.name())
      case _ => ()
    }
    val t = flat(ident)
    if (!existing(t)) throw new NoSuchTableException(ident)
    new GraftSqlTable(schemaOf(t), root, t, None)
  }

  /** `VERSION AS OF x`: a snapshot id, a tag name, or a branch name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = flat(ident)
    if (!existing(t)) throw new NoSuchTableException(ident)
    val snap = version.toLongOption
      .orElse(cat.tags(t).get(version))
      .orElse(cat.branches(t).get(version))
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: '$version' is not a snapshot id, tag, or branch of '$t'"))
    new GraftSqlTable(cat.schemaAt(SparkSession.active, t, snap), root, t, Some(snap))
  }

  /** `TIMESTAMP AS OF x`: Spark hands MICROseconds; resolved against the
    * manifest lists' commit mtimes (newest snapshot at-or-before).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = flat(ident)
    if (!existing(t)) throw new NoSuchTableException(ident)
    val snap = cat.snapshotAsOfTimestamp(t, timestamp / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: no snapshot of '$t' at or before timestamp $timestamp"))
    new GraftSqlTable(cat.schemaAt(SparkSession.active, t, snap), root, t, Some(snap))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val t = flat(ident)
    require(!t.startsWith("__"),
      s"graft catalog: '$t' — the '__' name prefix is reserved for engine metadata")
    if (existing(t)) throw new TableAlreadyExistsException(ident)
    if (cat.getMeta(GraftViews.Dir, GraftViews.key(t)).isDefined)
      throw new TableAlreadyExistsException(ident) // a VIEW holds this name
    val writable = Set[DataType](StringType, BinaryType, LongType, IntegerType,
      DoubleType, FloatType, BooleanType, TimestampType, DateType)
    schema.fields.foreach(f => require(writable(f.dataType),
      s"graft catalog: unsupported column type ${f.dataType.simpleString} for '${f.name}' " +
      "(atomic parquet types only)"))
    // `PARTITIONED BY (col)` / `(truncate(w, col))` — Iceberg-style hidden
    // partitioning from pure SQL: INSERTs cluster+sort on the source column
    // and roll one data file per transform value, so the table is SPJ- and
    // prune-ready with no Scala. Transforms whose ROW-side replay needs more
    // machinery (bucket: a FunctionCatalog-resolved sort; days: session-tz
    // timestamp rendering) stay on the commitPartitioned API, loudly.
    val spec: Option[graft.spark.PartTransform] = partitions.toSeq match {
      case Nil => None
      case Seq(p) =>
        def colOf(e: org.apache.spark.sql.connector.expressions.Expression): String = e match {
          case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames()(0)
          case other => throw new IllegalArgumentException(
            s"graft catalog: unsupported partition reference $other")
        }
        val s = p.name() match {
          case "identity" => graft.spark.IdentityTransform(colOf(p.references()(0)))
          case "truncate" =>
            val args = p.arguments()
            val w = args.collectFirst { case l: VLiteral[_] => l.value.toString.toInt }
            val c = args.collectFirst { case r: NamedReference => colOf(r) }
            require(w.nonEmpty && c.nonEmpty,
              s"graft catalog: cannot parse truncate transform $p")
            graft.spark.TruncateTransform(w.get, c.get)
          case "bucket" =>
            // first-class via the catalog's FunctionCatalog: the write
            // declares its distribution/ordering AS bucket(n, col) (Spark
            // resolves it to GraftBucketFunction), the value-rolling writer
            // pins one bucket id per file, and same-bucketed tables SPJ
            val args = p.arguments()
            val n = args.collectFirst { case l: VLiteral[_] => l.value.toString.toInt }
            val c = args.collectFirst { case r: NamedReference => colOf(r) }
            require(n.nonEmpty && c.nonEmpty,
              s"graft catalog: cannot parse bucket transform $p")
            graft.spark.BucketTransform(n.get, c.get)
          case "days" =>
            // days is ORDER-PRESERVING over the raw timestamp, so the
            // standard raw-column write clustering already groups each day
            // contiguously; the writer renders the pin in the write
            // session's time zone — the same zone the stats pass and the
            // read path's literal replay use
            graft.spark.DaysTransform(colOf(p.references()(0)))
          case other => throw new IllegalArgumentException(
            s"graft catalog: PARTITIONED BY $other is not supported in SQL DDL — " +
            s"supported: identity, truncate(w, col), bucket(n, col), days(ts)")
        }
        val f = schema.fields.find(_.name == s.col).getOrElse(throw new IllegalArgumentException(
          s"graft catalog: partition column '${s.col}' not in the table schema"))
        val keyable = s match {
          case _: graft.spark.TruncateTransform => f.dataType == StringType
          case _: graft.spark.DaysTransform => f.dataType == TimestampType
          case _ => Set[DataType](StringType, LongType, IntegerType)(f.dataType)
        }
        require(keyable,
          s"graft catalog: partition column '${s.col}' has type ${f.dataType.simpleString}; " +
          "supported keys: string/bigint/int (identity, bucket), string (truncate), " +
          "timestamp (days)")
        Some(s)
      case many => throw new IllegalArgumentException(
        s"graft catalog: one partition transform max, got ${many.length}")
    }
    // schema-only CREATE: the first INSERT's job commit writes snapshot 1;
    // until then reads answer zero rows with this schema
    cat.putMeta(t, "sql.schema", schema.json)
    spec.foreach(s => cat.putMeta(t, "partition.spec", s.render))
    // user TBLPROPERTIES persist as prop.* metadata keys (Spark's reserved
    // entries — provider/location/owner/... and option.* — are engine
    // bookkeeping, not user properties)
    properties.forEach { (k, v) =>
      if (!GraftCatalog.reservedProps(k) && !k.startsWith("option."))
        cat.putMeta(t, s"prop.$k", v)
    }
    new GraftSqlTable(schema, root, t, None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = flat(ident)
    if (!existing(t)) throw new NoSuchTableException(ident)
    changes.foreach {
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames().length == 1, "graft catalog: nested columns unsupported")
        if (cat.currentSnapshot(t).isDefined) cat.renameColumn(t, rc.fieldNames()(0), rc.newName())
        else { // schema-only table: rewrite the recorded schema
          val s = schemaOf(t)
          cat.putMeta(t, "sql.schema", StructType(s.fields.map(f =>
            if (f.name == rc.fieldNames()(0)) f.copy(name = rc.newName()) else f)).json)
        }
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames().length == 1, "graft catalog: nested columns unsupported")
        if (cat.currentSnapshot(t).isDefined) cat.dropColumn(t, dc.fieldNames()(0))
        else cat.putMeta(t, "sql.schema",
          StructType(schemaOf(t).fields.filterNot(_.name == dc.fieldNames()(0))).json)
      case sp: TableChange.SetProperty =>
        require(sp.property().matches("[A-Za-z0-9._-]+"),
          s"graft catalog: unsupported property key '${sp.property()}'")
        cat.putMeta(t, s"prop.${sp.property()}", sp.value())
      case rp: TableChange.RemoveProperty =>
        cat.removeMeta(t, s"prop.${rp.property()}")
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other " +
        "(RENAME/DROP COLUMN, SET/UNSET TBLPROPERTIES only)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    okNs(ident.namespace()) && cat.dropTableDir(ident.name())

  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  /** Manifests store ABSOLUTE data-file paths — renaming the table dir
    * would orphan every reference. Refuse rather than corrupt.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: RENAME TABLE is not supported (manifests reference absolute paths)")

  override def invalidateTable(ident: Identifier): Unit = () // nothing cached

  // ---- SupportsNamespaces: the single implicit default namespace ----
  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!okNs(namespace)) throw new NoSuchNamespaceException(namespace)
    if (namespace.isEmpty) listNamespaces() else Array.empty
  }
  override def namespaceExists(namespace: Array[String]): Boolean = okNs(namespace)
  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!okNs(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }
  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft catalog: namespaces are fixed (flat catalog)")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: namespaces are fixed (flat catalog)")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft catalog: namespaces are fixed (flat catalog)")
}

/** The SQL-loaded table: the DSv2 connector table plus row-level SQL
  * `DELETE` — equality predicates on a key column become metadata-only
  * equality tombstones ([[ParquetSnapshotCatalog.deleteWhere]]); anything
  * else translatable to a deterministic Spark SQL expression becomes a
  * positional tombstone via ONE `_metadata` scan
  * ([[ParquetSnapshotCatalog.deleteMatching]]). Either way zero data files
  * are rewritten.
  */
final class GraftSqlTable(tableSchema: StructType, root: String, table: String,
                          asOf: Option[Long])
    extends CatalogTable(tableSchema, root, table, Int.MaxValue, 0L, asOf)
    with SupportsDeleteV2 with SupportsRowLevelOperations {
  private lazy val cat = new ParquetSnapshotCatalog(root)
  override def name(): String = table

  /** User TBLPROPERTIES (SET/UNSET TBLPROPERTIES, CREATE ... TBLPROPERTIES)
    * from the prop.* metadata keys — what SHOW TBLPROPERTIES / DESCRIBE
    * EXTENDED report.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    cat.listMeta(table, "prop.").foreach { case (k, v) =>
      m.put(k.stripPrefix("prop."), v)
    }
    m
  }

  /** The declared transform as V2 partitioning, so SHOW CREATE TABLE /
    * DESCRIBE report the hidden layout (the data schema never carries it).
    */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    cat.partitionSpec(table).map {
      case graft.spark.IdentityTransform(c) => Expressions.identity(c)
      case graft.spark.BucketTransform(n, c) => Expressions.bucket(n, c)
      case graft.spark.TruncateTransform(w, c) =>
        Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
      case graft.spark.DaysTransform(c) => Expressions.days(c)
    }.toArray
  }

  /** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` (the predicates the
    * metadata-only paths can't take) as MERGE-ON-READ position deltas:
    * Spark scans the table with the `_file`/`_pos` metadata columns as the
    * row id, and the delta write turns per-row deletes into task-staged
    * positional tombstones and updates/inserts into appended parquet files,
    * committed as ONE atomic snapshot — zero existing data rewritten. A
    * translatable `DELETE` still collapses to the metadata-only tombstone
    * commit (Spark's metadata-delete optimization over [[SupportsDeleteV2]]);
    * this path is everything else.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty,
      s"graft catalog: ${info.command} on a time-travel read of '$table'")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        new GraftRowLevelOperation(info.command(), tableSchema, root, table)
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (asOf.isEmpty && cat.currentSnapshot(table).isEmpty)
      new GraftEmptyScanBuilder(tableSchema) // CREATEd, nothing committed yet
    else super.newScanBuilder(options)

  override def canDeleteWhere(predicates: Array[VPredicate]): Boolean =
    asOf.isEmpty && !predicates.exists(_.isInstanceOf[AlwaysTrue]) &&
      (V2PredicateSql.asEqualityKeys(predicates, tableSchema).isDefined ||
        predicates.forall(p => V2PredicateSql.toSql(p).isDefined))

  override def deleteWhere(predicates: Array[VPredicate]): Unit = {
    require(asOf.isEmpty, "graft catalog: DELETE on a time-travel read")
    if (predicates.exists(_.isInstanceOf[AlwaysTrue]))
      throw new UnsupportedOperationException(
        "graft catalog: TRUNCATE would tombstone every row — use DROP TABLE " +
        "or INSERT OVERWRITE instead")
    if (cat.currentSnapshot(table).isEmpty) return // empty table: nothing to delete
    V2PredicateSql.asEqualityKeys(predicates, tableSchema) match {
      case Some((column, keys)) => cat.deleteWhere(table, column, keys)
      case None =>
        val conj = predicates.toSeq.map(p => V2PredicateSql.toSql(p).getOrElse(
          throw new UnsupportedOperationException(
            s"graft catalog: cannot translate DELETE predicate $p")))
        cat.deleteMatching(SparkSession.active, table,
          conj.mkString("(", ") AND (", ")"))
    }
  }
}

/** The delta-based row-level operation (Iceberg's position-delta shape):
  * row id = the connector's `_file`/`_pos` metadata columns (synthesized by
  * the per-file readers, physical ordinals — exactly the coordinates a
  * positional tombstone names); updates split into delete + reinsert
  * upstream, so the writer only ever streams tombstone lines and appended
  * rows. The operation scan is the table's ordinary pruned scan — pending
  * tombstones are applied first, so an already-deleted row can never be
  * re-matched.
  */
final class GraftRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    tableSchema: StructType, root: String, table: String)
    extends org.apache.spark.sql.connector.write.SupportsDelta {
  private lazy val cat = new ParquetSnapshotCatalog(root)
  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevelOperation($cmd, $table)"
  override def rowId(): Array[NamedReference] = Array(
    org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
    org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (cat.currentSnapshot(table).isEmpty)
      new GraftEmptyScanBuilder(tableSchema) // MERGE into a CREATEd-empty table
    else new CatalogScanBuilder(tableSchema, root, table, Int.MaxValue, 0L, None)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite = {
        val rowIdSchema = if (info.rowIdSchema().isPresent) info.rowIdSchema().get()
          else StructType(Seq(StructField("_file", StringType, nullable = false),
            StructField("_pos", LongType, nullable = false)))
        new GraftDeltaWrite(info.schema(), rowIdSchema, root, table)
      }
    }
}

/** Scan of a CREATEd-but-never-written table: the recorded schema, zero
  * rows, zero partitions.
  */
private[sources] final class GraftEmptyScanBuilder(schema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required = schema
  override def pruneColumns(r: StructType): Unit = required = r
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    // no partitions: the factory never opens a file, so no conf rides it
    override def createReaderFactory(): PartitionReaderFactory =
      new CatalogReaderFactory(required, Nil, null)
    override def description(): String = "GraftCatalogScan(empty table)"
  }
}

/** DSv2 `Predicate` → Spark SQL text, for the safe deterministic subset a
  * `DELETE` condition may use — comparisons, boolean algebra, arithmetic,
  * and a whitelist of scalar functions whose V2 canonical names have exact
  * Spark SQL spellings. Anything outside the subset returns None and the
  * statement fails at analysis (never a silently-wrong delete). The
  * rendered text is evaluated by `deleteMatching` with Spark's OWN `expr`,
  * so the semantics are Spark's by construction.
  */
private[sources] object V2PredicateSql {
  import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}

  private val infix = Set("+", "-", "*", "/", "%",
    "=", "<>", "!=", "<", "<=", ">", ">=", "<=>", "AND", "OR")
  private val fns = Map(
    "ABS" -> "abs", "FLOOR" -> "floor", "CEIL" -> "ceil", "ROUND" -> "round",
    "COALESCE" -> "coalesce", "GREATEST" -> "greatest", "LEAST" -> "least",
    "CHAR_LENGTH" -> "char_length", "BIT_LENGTH" -> "bit_length",
    "OCTET_LENGTH" -> "octet_length", "LOWER" -> "lower", "UPPER" -> "upper",
    "SUBSTRING" -> "substring", "CONCAT" -> "concat", "TRIM" -> "trim",
    "LTRIM" -> "ltrim", "RTRIM" -> "rtrim")

  def toSql(e: VExpr): Option[String] = e match {
    case f: NamedReference =>
      if (f.fieldNames().length != 1) None
      else Some("`" + f.fieldNames()(0).replace("`", "``") + "`")
    case l: VLiteral[_] =>
      scala.util.Try(CLit(l.value, l.dataType).sql).toOption
    case _: AlwaysTrue => Some("TRUE")
    case _: AlwaysFalse => Some("FALSE")
    case g: GeneralScalarExpression =>
      val kids = g.children().toSeq.map(toSql)
      if (kids.exists(_.isEmpty)) None
      else {
        val k = kids.map(_.get)
        g.name() match {
          case "IN" if k.length >= 2 => Some(s"(${k.head} IN (${k.tail.mkString(", ")}))")
          case "IS_NULL" if k.length == 1 => Some(s"(${k.head} IS NULL)")
          case "IS_NOT_NULL" if k.length == 1 => Some(s"(${k.head} IS NOT NULL)")
          case "NOT" if k.length == 1 => Some(s"(NOT ${k.head})")
          case "STARTS_WITH" if k.length == 2 => Some(s"startswith(${k(0)}, ${k(1)})")
          case "ENDS_WITH" if k.length == 2 => Some(s"endswith(${k(0)}, ${k(1)})")
          case "CONTAINS" if k.length == 2 => Some(s"contains(${k(0)}, ${k(1)})")
          case "-" if k.length == 1 => Some(s"(- ${k.head})")
          case op if infix(op) && k.length == 2 =>
            Some(s"(${k(0)} ${if (op == "!=") "<>" else op} ${k(1)})")
          case fn if fns.contains(fn) => Some(s"${fns(fn)}(${k.mkString(", ")})")
          case _ => None
        }
      }
    case _ => None
  }

  /** The preferred DELETE shape: one `col = lit` or `col IN (lits)` on a
    * string/long/int column — exactly an equality tombstone's key set
    * (matched against `CAST(col AS STRING)`, which these types replay
    * faithfully).
    */
  def asEqualityKeys(ps: Array[VPredicate],
                     schema: StructType): Option[(String, Seq[String])] = {
    if (ps.length != 1) return None
    val p = ps(0)
    def colOf(e: VExpr): Option[String] = e match {
      case f: NamedReference if f.fieldNames().length == 1 => Some(f.fieldNames()(0))
      case _ => None
    }
    def keyOf(e: VExpr): Option[String] = e match {
      case l: VLiteral[_] => l.dataType match {
        case StringType | LongType | IntegerType => Option(l.value).map(_.toString)
        case _ => None
      }
      case _ => None
    }
    val kv: Option[(String, Seq[String])] = p.name() match {
      case "=" if p.children().length == 2 =>
        for (c <- colOf(p.children()(0)); v <- keyOf(p.children()(1))) yield (c, Seq(v))
      case "IN" if p.children().length >= 2 =>
        val c = colOf(p.children()(0))
        val vs = p.children().drop(1).toSeq.map(keyOf)
        if (c.isEmpty || vs.exists(_.isEmpty)) None else Some((c.get, vs.map(_.get)))
      case _ => None
    }
    kv.filter { case (c, _) =>
      schema.fields.find(_.name == c).exists(f => CatalogSource.deletableType(f.dataType))
    }
  }
}

object GraftMetaTable {
  /** The SQL-reachable inspection tables, one per catalog metadata surface. */
  val kinds: Set[String] =
    Set("files", "snapshots", "refs", "history", "properties", "partitions")
}

/** An Iceberg-style metadata table (`SELECT * FROM cat.t.files` /
  * `.snapshots` / `.refs`): rows are computed DRIVER-SIDE at scan planning
  * from the same catalog APIs the maintenance jobs use (zero data files
  * opened — `n_rows` comes from the `__count` stats sidecar), and ride one
  * synthetic input partition. What a 100 TB operator points a dashboard
  * at: file/row growth per drop, tombstone pressure, ref heads.
  */
final class GraftMetaTable(root: String, table: String, kind: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val metaSchema: StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("add_snapshot", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = true)))
    case "snapshots" => StructType(Seq(
      StructField("snapshot", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("n_data_files", LongType, nullable = false),
      StructField("n_delete_files", LongType, nullable = false),
      StructField("is_current", BooleanType, nullable = false)))
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("snapshot", LongType, nullable = false)))
    case "history" => StructType(Seq(
      StructField("made_current_at", TimestampType, nullable = false),
      StructField("snapshot", LongType, nullable = false),
      StructField("is_current", BooleanType, nullable = false)))
    case "properties" => StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false)))
    case "partitions" => StructType(Seq(
      StructField("value", StringType, nullable = true),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    case other => throw new IllegalArgumentException(s"unknown metadata table '$other'")
  }

  override def name(): String = s"$table.$kind"
  override def schema(): StructType = metaSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = metaSchema
        override def toBatch: Batch = this
        override def description(): String = s"GraftMetaTableScan($table.$kind)"
        override def planInputPartitions(): Array[InputPartition] = {
          val cat = new ParquetSnapshotCatalog(root)
          val spark = SparkSession.active
          val df = kind match {
            case "files" => cat.filesDF(spark, table)
            case "snapshots" => cat.snapshotsDF(spark, table)
            case "refs" => cat.refsDF(spark, table)
            case "history" => cat.historyDF(spark, table)
            case "properties" => cat.propertiesDF(spark, table)
            case "partitions" => cat.partitionsDF(spark, table)
          }
          // the metadata DFs are LocalRelations over driver rows — collect
          // is driver-only, no job
          val rows: Array[Array[Any]] = df.collect().map { r =>
            metaSchema.fields.zipWithIndex.map[Any] { case (f, i) =>
              if (r.isNullAt(i)) null
              else f.dataType match {
                case StringType => UTF8String.fromString(r.getString(i))
                case LongType => r.getLong(i)
                case BooleanType => r.getBoolean(i)
                case TimestampType =>
                  val ts = r.getTimestamp(i)
                  ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
                case other => throw new IllegalStateException(s"meta type $other")
              }
            }
          }
          Array(GraftMetaPartition(rows))
        }
        override def createReaderFactory(): PartitionReaderFactory =
          new PartitionReaderFactory {
            override def createReader(partition: InputPartition)
                : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
              new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
                private val rows = partition.asInstanceOf[GraftMetaPartition].rows
                private var i = -1
                override def next(): Boolean = { i += 1; i < rows.length }
                override def get(): InternalRow = new GenericInternalRow(rows(i))
                override def close(): Unit = ()
              }
          }
      }
    }
}

final case class GraftMetaPartition(rows: Array[Array[Any]]) extends InputPartition
