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
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** DataSourceV2 WARC reader: `spark.read.format("warc").load(dir)`.
  *
  * Why a connector instead of the `binaryFile` + mapPartitions path: a real
  * Common-Crawl archive file is ~1 GB, and `binaryFile` materializes the
  * WHOLE file as one byte array per row before parsing. This source opens a
  * Hadoop `FSDataInputStream` per file and streams records through
  * [[Warc.parseStream]] — executor memory stays O(record) regardless of
  * archive size, and the same code path works on file://, hdfs:// and
  * object stores. Parallelism is one partition per archive file (WARC's
  * gzip-member layout is not arbitrarily splittable; CC files are sized for
  * exactly this file-level parallelism).
  *
  * Column pruning is pushed into the reader: a query that only needs `url`
  * never copies the html payload into rows. Charset normalization (see
  * [[CharsetSniff]]) rides [[Warc.parseStream]] as always.
  *
  * The scan builder captures the session's Hadoop configuration once (its
  * `spark.hadoop.*` settings and the read options included) and broadcasts
  * it: the file listing and every reader open files through it, instead of
  * building a default `Configuration` (which loads the Hadoop resource
  * files) per file.
  *
  * Registered via META-INF/services so `format("warc")` resolves by short
  * name.
  */
class WarcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WarcSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WarcTable(Option(properties.get("path")))
}

object WarcSource {
  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = false)
  ))

  /** The .warc / .warc.gz files under `dir` (sorted — deterministic
    * partition order).
    */
  def listFiles(dir: String, conf: Configuration): Array[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).iterator
      .map(_.getPath)
      .filter { f =>
        val n = f.getName
        n.endsWith(".warc") || n.endsWith(".warc.gz") || n.endsWith(".warc.zst")
      }
      .map(_.toString).toArray.sorted
  }
}

final class WarcTable(pathOpt: Option[String]) extends Table with SupportsRead {
  override def name(): String = s"warc:${pathOpt.getOrElse("?")}"
  override def schema(): StructType = WarcSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val dir = Option(options.get("path")).orElse(pathOpt)
      .getOrElse(throw new IllegalArgumentException("warc source needs a path"))
    new WarcScanBuilder(dir,
      SessionHadoopConf.broadcast(SparkSession.active, options.asCaseSensitiveMap.asScala.toMap))
  }
}

final class WarcScanBuilder(dir: String, conf: Broadcast[SerializableConfiguration])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new WarcScan(dir, required, conf)
}

final case class WarcFilePartition(file: String) extends InputPartition

final class WarcScan(dir: String, required: StructType, conf: Broadcast[SerializableConfiguration])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"WarcScan(dir=$dir, columns=${required.fieldNames.mkString(",")})"
  override def planInputPartitions(): Array[InputPartition] =
    WarcSource.listFiles(dir, conf.value.value).map(WarcFilePartition.apply)
  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, conf)
  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
    new WarcMicroBatchStream(dir, required, conf)
}

/** Offset = high-water mark over the sorted archive-file paths. The crawl
  * landing convention this models: files are append-only and named so new
  * drops sort after old ones (Common Crawl's timestamped segment names).
  */
final case class WarcOffset(lastFile: String) extends streaming.Offset {
  override def json(): String = lastFile
}

/** Micro-batch stream over a crawl landing dir: each batch reads the files
  * that appeared since the checkpointed high-water mark — continuous ingest
  * with exactly-once via the streaming checkpoint, same streaming reader
  * (and charset normalization) as the batch path.
  */
final class WarcMicroBatchStream(dir: String, required: StructType, conf: Broadcast[SerializableConfiguration])
    extends streaming.MicroBatchStream with streaming.SupportsTriggerAvailableNow {
  private var availableNowTarget: WarcOffset = _

  private def currentLatest(): WarcOffset =
    WarcOffset(WarcSource.listFiles(dir, conf.value.value).lastOption.getOrElse(""))

  override def prepareForTriggerAvailableNow(): Unit = availableNowTarget = currentLatest()
  override def latestOffset(): streaming.Offset =
    if (availableNowTarget != null) availableNowTarget else currentLatest()
  // SupportsAdmissionControl entry (no rate limiting: a whole file is the
  // admission unit; batches are bounded by drop cadence, not row counts)
  override def latestOffset(start: streaming.Offset, limit: streaming.ReadLimit): streaming.Offset =
    latestOffset()
  override def initialOffset(): streaming.Offset = WarcOffset("")
  override def deserializeOffset(json: String): streaming.Offset = WarcOffset(json)

  override def planInputPartitions(start: streaming.Offset, end: streaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WarcOffset].lastFile
    val e = end.asInstanceOf[WarcOffset].lastFile
    WarcSource.listFiles(dir, conf.value.value)
      .filter(f => f > s && f <= e)
      .map(WarcFilePartition.apply)
  }

  override def createReaderFactory(): PartitionReaderFactory = new WarcReaderFactory(required, conf)
  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

final class WarcReaderFactory(required: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(partition.asInstanceOf[WarcFilePartition].file, required, conf.value.value)
}

/** Streams one archive file; O(record) executor memory. */
final class WarcPartitionReader(file: String, required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {
  import org.apache.hadoop.fs.Path

  private val raw = {
    val p = new Path(file)
    p.getFileSystem(conf).open(p)
  }
  private val it = Warc.parseStream(Warc.decompress(raw)) // magic-sniffed gzip/zstd/plain
  private var cur: graft.spark.PageRow = _
  // column indices resolved once (pruned schema order)
  private val wantUrl = required.fieldNames.indexOf("url")
  private val wantTs = required.fieldNames.indexOf("warc_ts")
  private val wantHtml = required.fieldNames.indexOf("html")

  override def next(): Boolean =
    if (it.hasNext) { cur = it.next(); true } else false

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    if (wantUrl >= 0) row.update(wantUrl, UTF8String.fromString(cur.url))
    if (wantTs >= 0) row.setLong(wantTs, cur.warc_ts.getTime * 1000L)
    if (wantHtml >= 0) row.update(wantHtml, cur.html)
    row
  }

  override def close(): Unit = raw.close()
}
