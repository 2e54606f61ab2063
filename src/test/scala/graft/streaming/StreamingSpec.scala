package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Structured-Streaming extraction: landing-dir parquet → kernel → parquet
  * sink, exactly-once via checkpoint; plus the watermarked window agg.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graftstream").toString

  test("streaming extraction drains a landing dir and matches the batch kernel") {
    val ss = spark
    import ss.implicits._
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    graft.spark.Pages.synthesize(spark, sfDir).toDF()
      .write.mode("overwrite").parquet(in)
    val q = ExtractStream.run(spark, in, out, ckpt)
    q.awaitTermination(120000)
    val got = spark.read.parquet(out)
    assert(got.count() === 500)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("concat('https://example.com/', lang, '/', source, '/doc', doc_id, '/v0') as url", "text")
    assert(got.join(docs, "url").where(col("main_text") =!= col("text")).count() === 0)
    // every output column equals the batch kernel's over the same pages
    val batch = graft.spark.ExtractJob.extract(spark.read.parquet(in).as[graft.spark.PageRow], "t", 4).toDF()
    val gotCols = got.select(batch.columns.map(col).toSeq: _*)
    assert(gotCols.exceptAll(batch).count() === 0 && batch.exceptAll(gotCols).count() === 0)
    // restart with same checkpoint: no new input → no duplicate output
    val q2 = ExtractStream.run(spark, in, out, ckpt)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === 500)
  }

  test("catalog sink: exactly-once across checkpoint restart and mid-append crash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val root = java.nio.file.Files.createTempDirectory("cat_sink").toString
    val ckpt = s"$root/_ckpt"
    val cat = new graft.spark.ParquetSnapshotCatalog(root)
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"))
    val q1 = ExtractStream.catalogSink(mem.toDF().toDF("id", "v"), cat, "t", ckpt)
    q1.awaitTermination(60000)
    assert(cat.read(spark, "t").count() === 2)
    // restart on the SAME checkpoint with more data: AvailableNow resumes
    // from the committed offset — old rows must not re-land even though
    // the source still holds them
    mem.addData((3L, "c"))
    val q2 = ExtractStream.catalogSink(mem.toDF().toDF("id", "v"), cat, "t", ckpt)
    q2.awaitTermination(60000)
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // mid-append crash: orphan batch-99 data exists but was never
    // committed — batchCommitted must say so, and the re-delivery commits
    // exactly once, overwriting the orphan
    Seq((9L, "x")).toDF("id", "v").write.mode("overwrite").parquet(s"$root/t/data/batch-99")
    assert(!cat.batchCommitted("t", 99L))
    assert(cat.appendBatch(Seq((9L, "x")).toDF("id", "v"), "t", 99L))
    assert(!cat.appendBatch(Seq((9L, "x")).toDF("id", "v"), "t", 99L), "post-success replay must skip")
    assert(cat.read(spark, "t").count() === 4)
  }

  test("streaming near-dup admission: cross-batch mutant rejected, fresh admitted, exactly-once across restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val root = java.nio.file.Files.createTempDirectory("neardup_sink").toString
    val ckpt = s"$root/_ckpt"
    val cat = new graft.spark.ParquetSnapshotCatalog(root)
    val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, base),
      (2L, "completely different words about spark catalyst plans and parquet file pruning"))
    val q1 = ExtractStream.nearDedupSink(mem.toDF().toDF("doc_id", "text"), cat, "t", ckpt)
    q1.awaitTermination(60000)
    assert(cat.read(spark, "t").count() === 2)
    // batch 2 in a RESTARTED query on the same checkpoint: a near-mutant of
    // batch 1's base (>= 12/16 signature components) must be rejected by
    // the companion, the fresh doc admitted
    val mutant = base.split(' ').dropRight(2).mkString(" ")
    mem.addData((10L, mutant),
      (11L, "a genuinely new document with its own vocabulary and no overlap at all whatsoever"))
    val q2 = ExtractStream.nearDedupSink(mem.toDF().toDF("doc_id", "text"), cat, "t", ckpt)
    q2.awaitTermination(60000)
    assert(cat.read(spark, "t").select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 11L))
    // exactly-once: a THIRD run on the same checkpoint with no new data
    // appends nothing; and even a full redelivery (fresh checkpoint, same
    // source) re-admits zero rows — the admission itself is idempotent
    val q3 = ExtractStream.nearDedupSink(mem.toDF().toDF("doc_id", "text"), cat, "t", ckpt)
    q3.awaitTermination(60000)
    assert(cat.read(spark, "t").count() === 3)
    val q4 = ExtractStream.nearDedupSink(mem.toDF().toDF("doc_id", "text"), cat, "t",
      s"$root/_ckpt_replay")
    q4.awaitTermination(60000)
    assert(cat.read(spark, "t").select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 11L), "full redelivery must re-admit zero rows")
  }

  test("streaming dedup: cross-batch drop within the horizon; expired state re-admits (bounded-state trade)") {
    import ExtractStream.DocEvent
    val t0 = 1700000000000L
    def ev(id: Long, tsMs: Long, text: String) = DocEvent(id, new java.sql.Timestamp(tsMs), text)
    // lateness 10 s. batch 1 plants 'aaa' at t0; batch 2 (t0+5s) duplicates
    // it INSIDE the horizon -> dropped; batch 3 advances the watermark far
    // past t0+10s; batch 4 duplicates 'aaa' again AFTER its state expired ->
    // re-admitted. That is the documented trade of watermark-bounded state:
    // dedup-forever is the batch/digest-companion path.
    val out = ExtractStream.dedupStreamDriven(spark, Seq(
      Seq(ev(1, t0, "aaa"), ev(2, t0, "bbb")),
      Seq(ev(3, t0 + 5000, "aaa"), ev(4, t0 + 5000, "ccc")),
      Seq(ev(5, t0 + 600000, "ddd")),
      Seq(ev(6, t0 + 601000, "aaa"))
    ), lateness = "10 seconds").collect().map(_.getLong(0)).sorted
    assert(out.toSeq === Seq(1L, 2L, 4L, 5L, 6L),
      s"expected in-horizon dup 3 dropped and post-expiry dup 6 re-admitted; got ${out.mkString(",")}")
  }

  test("streaming curation: quality floor + cross-batch dedup within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val longText = ("tok " * 30).trim
    def page(url: String, tsMs: Long, text: String) = graft.spark.PageRow(
      url, new java.sql.Timestamp(tsMs),
      s"<html><head><title>t</title></head><body><p>$text</p></body></html>".getBytes("UTF-8"),
      null, null)
    val t0 = 1700000000000L
    val mem = MemoryStream[graft.spark.PageRow]
    val q = ExtractStream.curateStream(mem.toDS())
      .writeStream.format("memory").queryName("curate_s").outputMode("append").start()
    // batch 1: one good page, one too-short page
    mem.addData(page("https://c/a", t0, longText), page("https://c/short", t0, "tiny"))
    q.processAllAvailable()
    // batch 2: an exact duplicate of a's text (within the watermark) + a new
    // page + two template-spam pages differing ONLY in their email — the
    // scrub runs before the dedup digest, so they collapse to one
    mem.addData(page("https://c/a-dup", t0 + 60000, longText),
      page("https://c/b", t0 + 60000, longText + " distinct tail"),
      page("https://c/spam1", t0 + 60000, longText + " mail u1@host-a.example.com"),
      page("https://c/spam2", t0 + 61000, longText + " mail other.user@host-b.example.net"))
    q.processAllAvailable()
    q.stop()
    val rows = ss.table("curate_s").collect()
    val urls = rows.map(_.getString(0)).sorted
    assert(urls.toSeq === Seq("https://c/a", "https://c/b", "https://c/spam1"),
      s"expected dedup+quality+scrub-dedup to keep a, b, spam1; got ${urls.mkString(",")}")
    val spamText = rows.find(_.getString(0) == "https://c/spam1").get.getAs[String]("text")
    assert(spamText.endsWith(" mail <EMAIL>"), s"PII not scrubbed: $spamText")
  }

  test("incremental sessionization: GroupState spans micro-batches, event-time timeout flushes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    def ev(uid: Long, us: Long) =
      ExtractStream.SessionEvent(uid, new java.sql.Timestamp(us / 1000L))
    val min = 60L * 1000000L
    val t0 = 1700000000L * 1000000L
    val mem = MemoryStream[ExtractStream.SessionEvent]
    val q = ExtractStream.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // batch 1: u1 opens a session (2 events), u2 opens a 1-event session
      mem.addData(ev(1, t0), ev(1, t0 + 10 * min), ev(2, t0))
      q.processAllAvailable()
      // batch 2: u1's session EXTENDS across the batch boundary (state!),
      // then a 2h-later event closes it; u99's far-future event drives the
      // watermark past everyone's timeout
      mem.addData(ev(1, t0 + 20 * min), ev(1, t0 + 140 * min), ev(99, t0 + 300 * min))
      q.processAllAvailable()
      // batch 3: any new data lets the now-advanced watermark fire timeouts;
      // u99 also gets a LATE event (older than its open session, within the
      // watermark) — must widen the open session, not crash or rewind it
      mem.addData(ev(99, t0 + 400 * min), ev(99, t0 + 399 * min))
      q.processAllAvailable()
      val got = ss.table("sess").as[ExtractStream.Session].collect()
        .map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events)).toSet
      assert(got.contains((1L, t0, t0 + 20 * min, 3L)), s"cross-batch merge: $got")
      assert(got.contains((1L, t0 + 140 * min, t0 + 140 * min, 1L)), s"timeout flush u1: $got")
      assert(got.contains((2L, t0, t0, 1L)), s"timeout flush u2: $got")
      assert(got.contains((99L, t0 + 300 * min, t0 + 300 * min, 1L)), s"gap close u99: $got")
    } finally q.stop()
  }

  test("batch sessionize equals the window-function reformulation on the events table") {
    val ss = spark
    val got = ExtractStream.sessionize(ss.read.parquet(s"$sfDir/events.parquet"))
      .collect().map(_.toSeq).sortBy(_.toString())
    ss.read.parquet(s"$sfDir/events.parquet").createOrReplaceTempView("events_v")
    val expected = ss.sql(
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events_v),
        |m AS (SELECT user_id, ts, event_id,
        |        CASE WHEN prev IS NULL OR unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(prev AS TIMESTAMP)) > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |g AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, min(unix_micros(CAST(ts AS TIMESTAMP))) AS session_start_us,
        |       max(unix_micros(CAST(ts AS TIMESTAMP))) AS session_end_us,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin)
      .collect().map(_.toSeq).sortBy(_.toString())
    assert(got.toSeq === expected.toSeq)
  }

  test("sessionize hot key: one user with 10^6 events walks the iterator, no per-user buffering") {
    val ss = spark
    import ss.implicits._
    // one bot user emitting an event every 10 s for ~116 days, with a >30min
    // gap every 100,000 events → exactly 10 sessions of 100,000. The sort-
    // based walk keeps O(1) state per open session; the round-2 it.toArray
    // variant would have buffered all 10^6 timestamps in one task.
    val gapUs = 1800000000L
    val events = ss.range(1000000L)
      .selectExpr("CAST(7 AS BIGINT) AS user_id",
        s"timestamp_micros(id * 10000000 + (id DIV 100000) * ${2 * gapUs}) AS ts")
    val got = ExtractStream.sessionize(events).collect()
    assert(got.length === 10)
    assert(got.forall(_.getAs[Long]("n_events") === 100000L))
  }

  test("stream-stream interval join: two live streams pair across micro-batches, equals batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val t0 = 1700000000000L
    def ts(offMin: Long) = new java.sql.Timestamp(t0 + offMin * 60000L)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = ExtractStream.attributeClicksStream(
      views.toDS().toDF("user_id", "view_id", "view_ts"),
      clicks.toDS().toDF("user_id", "click_id", "click_ts"))
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    // batch 1: user 1 views v100 at t+0; user 2 views v200 at t+0
    views.addData((1L, 100L, ts(0)), (2L, 200L, ts(0)))
    q.processAllAvailable()
    // batch 2: clicks arrive LATER (cross-batch state): user 1 clicks at
    // t+30 (within the hour → pairs with v100) and at t+90 (outside → no
    // pair); user 3 clicks with no view at all
    clicks.addData((1L, 500L, ts(30)), (1L, 501L, ts(90)), (3L, 502L, ts(10)))
    q.processAllAvailable()
    // batch 3: a second view for user 2 then a click matching BOTH views
    views.addData((2L, 201L, ts(20)))
    clicks.addData((2L, 600L, ts(40)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attrib").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 500L, 100L), (2L, 600L, 200L), (2L, 600L, 201L)),
      s"got $got")
    // cross-check vs the batch interval join on the union of all events
    val events = spark.createDataFrame(Seq(
      (100L, ts(0), 1L, "view", 0.0), (200L, ts(0), 2L, "view", 0.0),
      (201L, ts(20), 2L, "view", 0.0), (500L, ts(30), 1L, "click", 0.0),
      (501L, ts(90), 1L, "click", 0.0), (502L, ts(10), 3L, "click", 0.0),
      (600L, ts(40), 2L, "click", 0.0)
    )).toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = ExtractStream.attributeClicks(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == got, s"batch $batch != streaming $got")
  }

  test("watermarked window agg equals the batch groupBy on the events table") {
    val batch = ExtractStream.eventCounts(spark.read.parquet(s"$sfDir/events.parquet"))
      .collect().map(_.toSeq).sortBy(_.toString())
    val expected = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(expr("unix_timestamp(date_trunc('HOUR', ts))").as("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("bigint")).as("sum_value_cents"))
      .collect().map(_.toSeq).sortBy(_.toString())
    assert(batch.toSeq === expected.toSeq)
  }

  test("stream-static enrichment: batch-split-invariant, left-join pass-through, no state store") {
    import ExtractStream.DocEvent
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
    def ev(id: Long, lang: String) = DocEvent(id, new java.sql.Timestamp(base + id), lang)
    val events = (0L until 30L).map(i => ev(i, Seq("en", "de", "fr")((i % 3).toInt)))
    val dim = Seq("en" -> 10L, "fr" -> 20L) // 'de' deliberately missing
    def rows(batches: Seq[Seq[DocEvent]]) =
      ExtractStream.enrichStreamDriven(spark, batches, dim)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val one = rows(Seq(events))
    val three = rows(Seq(events.take(10), events.slice(10, 20), events.drop(20)))
    assert(one == three, "micro-batch boundaries must not change the enrichment")
    assert(one.size == 30)
    // enrichment joined, missing keys passed through at -1
    assert(one.filter(_._2 == "en").forall(_._3 == 10L))
    assert(one.filter(_._2 == "fr").forall(_._3 == 20L))
    assert(one.filter(_._2 == "de").forall(_._3 == -1L), "missing dim key must pass through")
  }
}
