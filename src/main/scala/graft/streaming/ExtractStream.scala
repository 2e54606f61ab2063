package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.spark.{ExtractJob, PageRow}

/** Structured-Streaming surface of the engine. The batch path
  * (ExtractJob + chunk resume) is the production 100 TB story per
  * BASELINE.json's north rule; this module covers the continuous-ingest
  * shape: a crawler keeps appending page files to a landing directory and
  * extraction keeps up incrementally, exactly-once via the streaming
  * checkpoint. The kernel is the same sequential oracle — stateless per row,
  * so the streaming plan is a narrow map with file-source parallelism.
  */
object ExtractStream {

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)
  ))

  /** Landing-dir parquet stream → extraction → parquet sink. The transform
    * is the batch kernel itself, `ExtractJob.extract` (null-html error
    * rows included). `AvailableNow` drains the backlog then stops (use
    * `Trigger.ProcessingTime` for a long-lived job).
    */
  def run(spark: SparkSession, inDir: String, outDir: String, checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val pages = spark.readStream.schema(pageSchema).parquet(inDir).as[PageRow]
    ExtractJob.extract(pages, "stream", spark.sparkContext.defaultParallelism)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming curation: incremental extraction + quality floor + STREAMING
    * exact dedup — the continuous-ingest form of CurateMain's first stages.
    * `dropDuplicatesWithinWatermark` keys on the text digest and evicts
    * dedup state once the crawl-time watermark passes `lateness`, so state
    * is bounded by the dedup horizon instead of growing with the crawl
    * (exact-dedup-forever needs the batch job; this catches the dominant
    * case — recrawls/mirrors landing close together in crawl time).
    */
  def curateStream(pages: Dataset[PageRow], minTokens: Int = 20,
      lateness: String = "1 hour"): DataFrame = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val sink = new graft.dom.ExtractSink
      it.map { p =>
        if (p.html == null) (p.url, p.warc_ts, "", "")
        else {
          val r = graft.dom.Extractor.extractInto(p.html, sink)
          (p.url, p.warc_ts, r.title, r.mainText)
        }
      }
    }.toDF("url", "warc_ts", "title", "text")
      .withColumn("n_tokens", expr(graft.operators.TextOps.tokensExpr))
      .where(col("n_tokens") >= minTokens)
      // PII scrub is a stateless codegen'd projection — streaming-safe; the
      // dedup digest is computed AFTER the scrub so two pages differing
      // only in redacted PII values (template spam) collapse to one
      .withColumn("text", regexp_replace(
        regexp_replace(col("text"), graft.operators.TextOps.emailPattern, "<EMAIL>"),
        graft.operators.TextOps.phonePattern, "<PHONE>"))
      .withColumn("text_md5", md5(col("text")))
      .withWatermark("warc_ts", lateness)
      .dropDuplicatesWithinWatermark("text_md5")
  }

  /** One document arriving on the ingest stream (ts drives the watermark). */
  final case class DocEvent(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** Streaming exact dedup as a standalone operator: first arrival per text
    * digest survives, later copies drop, and the dedup STATE is bounded by
    * the watermark horizon — `dropDuplicatesWithinWatermark` evicts a
    * digest once the watermark passes its event time + `lateness`, so state
    * size tracks the dedup window instead of growing with the crawl.
    * The trade is explicit and tested: a duplicate arriving AFTER its
    * original's state expired is re-admitted (exact-dedup-forever is the
    * batch job / digest-companion path; this is the continuous-ingest
    * form). Only the 16-byte digest is keyed — page text never enters
    * state.
    */
  def dedupStream(docs: DataFrame, lateness: String = "1 day"): DataFrame =
    docs.withColumn("text_md5", md5(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("text_md5")
      .select(col("doc_id"), col("text_md5"))

  /** Deterministic multi-batch MemoryStream drive of [[dedupStream]] — the
    * harness behind the ORACLE-CHECKED streaming query (q_stream_dedup):
    * the caller supplies batches such that no two rows of the SAME batch
    * share a digest (within-batch keeper choice is partition-order
    * dependent; cross-batch it is state-deterministic), so the surviving
    * set is exactly reproducible by SQL. Production ingest replaces the
    * MemoryStream with the file/WARC source — the transform is identical.
    */
  def dedupStreamDriven(spark: SparkSession, batches: Seq[Seq[DocEvent]],
      lateness: String = "1 day"): DataFrame = {
    // a cloned session (shared SparkContext, own conf) pins the state-store
    // shuffle width low: every micro-batch of a stateful query pays one
    // task per state partition REGARDLESS of data volume, and the width is
    // frozen into the checkpoint at query start — 32 partitions cost ~4x
    // the wall time of 8 on a MemoryStream-sized drive for zero benefit
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    import s2.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val mem = MemoryStream[DocEvent]
    val name = s"stream_dedup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = dedupStream(mem.toDF(), lateness)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    s2.table(name)
  }

  /** STREAM-STATIC ENRICHMENT — the remaining streaming join shape next to
    * stream-stream ([[attributeClicksStream]]), streaming dedup and the
    * GroupState sessionize: every micro-batch of the unbounded stream
    * joins a BOUNDED dimension (host metadata, blocklist verdicts, model
    * scores). No watermark and NO STATE STORE — the dimension rides each
    * batch as a broadcast, so per-batch cost is O(batch)·O(1) and
    * completely independent of stream history; at crawl scale this is how
    * per-host/per-language context reaches the live extraction stream
    * without a stateful join. Left join: a key missing from the dimension
    * must pass through (enrichment never drops stream rows).
    */
  def enrichStream(docs: DataFrame, dim: DataFrame, key: String): DataFrame =
    docs.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** MemoryStream drive of [[enrichStream]] (the dedupStreamDriven
    * convention): `dimRows` = (lang, lang_docs), re-created on the cloned
    * session; unmatched langs coalesce to -1 (the pass-through proof).
    */
  def enrichStreamDriven(spark: SparkSession,
      batches: Seq[Seq[DocEvent]], dimRows: Seq[(String, Long)]): DataFrame = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    import s2.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val dim = dimRows.toDF("lang", "lang_docs")
    val mem = MemoryStream[DocEvent]
    val name = s"stream_enrich_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = enrichStream(mem.toDF().withColumnRenamed("text", "lang"), dim, "lang")
      .selectExpr("doc_id", "lang", "coalesce(lang_docs, CAST(-1 AS BIGINT)) AS lang_docs")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    s2.table(name)
  }

  /** Continuous ingest INTO the snapshot catalog with exactly-once
    * semantics: every micro-batch lands via [[graft.spark.ParquetSnapshotCatalog.appendBatch]]
    * (batch-addressed data + atomic manifest swap = the idempotence
    * marker), so a batch re-delivered after a failure commits zero
    * duplicate rows while time travel and the fast-append metadata
    * economics are preserved. This is the streaming half of the 100 TB
    * ingest story — ExtractMain's chunked resume is the batch half.
    */
  def catalogSink(docs: DataFrame, cat: graft.spark.ParquetSnapshotCatalog,
      table: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        cat.appendBatch(batch.toDF(), table, batchId): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming NEAR-DUP admission — the curate-while-crawling gate: every
    * micro-batch of (doc_id, text, …) rows runs the FULL cross-drop
    * MinHash admission ([[graft.spark.IncrementalIngest.appendNearDeduped]])
    * against the table's signature companion before landing, so a page
    * whose near-mutant committed in ANY earlier batch (or run) is rejected
    * at ingest, not in a nightly dedup job. Exactly-once composes from the
    * admission semantics themselves: a crash-redelivered batch re-runs the
    * admission and its already-committed rows are EXACTLY rejected by the
    * digest companion (0 re-appends) — no batch marker needed, and the
    * data-first/companion-second crash window self-repairs on the next
    * batch. Per-batch cost is the appendNearDeduped shape: signatures over
    * the BATCH only, one band-key equijoin vs the companion, old text
    * never read.
    */
  def nearDedupSink(docs: DataFrame, cat: graft.spark.ParquetSnapshotCatalog,
      table: String, checkpointDir: String, simFloor: Int = 12,
      maxBucket: Int = 1024): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.spark.IncrementalIngest.appendNearDeduped(
          batch.sparkSession, cat, table, batch.toDF(), simFloor, maxBucket): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Gap-based sessionization (batch). Sessions = per-user event groups
    * where consecutive events are ≤ `gapUs` apart; output is one row per
    * session with exact microsecond bounds (BIGINT — bit-stable for the
    * oracle).
    *
    * Scale shape: ONE hash shuffle keyed by user_id (all of a user's events
    * land in one partition), then Spark's EXTERNAL sort within partitions
    * and a single forward iterator walk with O(1) state per open session —
    * a 10^8-event bot/crawler user spills through the sort instead of
    * buffering in task memory (the round-2 `it.toArray` hazard). The
    * incremental variant is `sessionizeStream` (flatMapGroupsWithState).
    */
  def sessionize(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      // events.ts is TIMESTAMP_NTZ; session TZ is pinned UTC, so the cast's
      // wall-clock-as-UTC epoch equals DuckDB's epoch_us on the naive value
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_us")
      .as[(Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Long)] {
          private var more = it.hasNext
          private var cur: (Long, Long) = if (more) it.next() else null
          def hasNext: Boolean = more
          def next(): (Long, Long, Long, Long) = {
            val uid = cur._1
            val start = cur._2
            var prev = cur._2
            var n = 1L
            var out: (Long, Long, Long, Long) = null
            while (out == null) {
              if (it.hasNext) {
                val nx = it.next()
                if (nx._1 != uid || nx._2 - prev > gapUs) { out = (uid, start, prev, n); cur = nx }
                else { prev = nx._2; n += 1 }
              } else {
                out = (uid, start, prev, n)
                more = false
              }
            }
            out
          }
        }
      }
      .toDF("user_id", "session_start_us", "session_end_us", "n_events")
  }

  /** One event for the streaming sessionizer (ts drives the watermark). */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)

  /** One closed session. */
  final case class Session(user_id: Long, session_start_us: Long, session_end_us: Long, n_events: Long)

  /** GroupState payload: the per-user open session (public for the encoder). */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  /** Incremental streaming sessionization: open sessions live in GroupState,
    * closed ones are emitted as soon as a same-batch gap closes them, and the
    * event-time timeout (watermark-driven) flushes a session once no event
    * can extend it. This is the cross-batch-correct variant of `sessionize`
    * (whose batch execution sees each key's full history at once and flushes
    * everything).
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapUs: Long = 1800000000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", s"${gapUs / 1000000} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(uid, s.startUs, s.lastUs, s.n))
          } else {
            val ts = it.map(e => e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000).toArray
            java.util.Arrays.sort(ts)
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            var open = state.getOption.getOrElse(OpenSession(ts(0), ts(0), 0L))
            var i = 0
            // if the state's open session cannot absorb the first new event,
            // close it; otherwise the loop below extends it
            if (state.exists && ts(0) - open.lastUs > gapUs) {
              closed += Session(uid, open.startUs, open.lastUs, open.n)
              open = OpenSession(ts(0), ts(0), 0L)
            }
            while (i < ts.length) {
              if (ts(i) - open.lastUs > gapUs) {
                closed += Session(uid, open.startUs, open.lastUs, open.n)
                open = OpenSession(ts(i), ts(i), 1L)
              } else {
                // min/max guards: a LATE event (older than the open session's
                // bounds but inside the watermark allowance) must widen the
                // session, never rewind lastUs — a rewound timeout timestamp
                // can fall below the current watermark, which Spark rejects
                open = OpenSession(math.min(open.startUs, ts(i)),
                  math.max(open.lastUs, ts(i)), open.n + 1L)
              }
              i += 1
            }
            state.update(open)
            // flush once the watermark passes last event + gap; never set a
            // timeout at or below the current watermark (late-data edge)
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(open.lastUs / 1000L + gapUs / 1000L, wm + 1L))
            closed.iterator
          }
      }
  }

  /** Watermarked tumbling-window event aggregation (the streaming-analytics
    * operator family: event-time window + late-data bound + partial aggs).
    * Works on a streaming OR batch events Dataset — semantics match
    * SparkEntry's batch q_events_window oracle.
    */
  def eventCounts(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("bigint")).as("sum_value_cents"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("sum_value_cents"))

  /** View→click attribution as an INTERVAL JOIN: every click pairs with the
    * same user's views from the preceding `window` — the stream-stream-join
    * operator family. Batch form: one user-keyed shuffle per side, the
    * range predicates ride the sort-merge join as join conditions (never a
    * post-join filter over a cross product).
    */
  def attributeClicks(events: DataFrame, window: String = "1 hour"): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    clicks
      .join(views, col("c_user_id") === col("user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $window"))
      .select(col("user_id"), col("click_id"), col("view_id"))
  }

  /** The same attribution over two live streams: both sides watermarked and
    * the join condition time-bounded in BOTH directions, so Spark can evict
    * view state once the click-side watermark passes view_ts + window (the
    * state-bounding contract of stream-stream inner joins — an unbounded
    * condition would accumulate every view forever).
    */
  def attributeClicksStream(views: DataFrame, clicks: DataFrame,
                            window: String = "1 hour", lateness: String = "1 hour"): DataFrame =
    clicks
      .withColumnRenamed("user_id", "c_user_id")
      .withWatermark("click_ts", lateness)
      .join(views.withWatermark("view_ts", lateness),
        expr(s"c_user_id = user_id AND view_ts <= click_ts AND click_ts <= view_ts + INTERVAL $window"))
      .select(col("user_id"), col("click_id"), col("view_id"))
}
