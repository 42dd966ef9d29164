package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed agg buckets by tumbling window and type") {
    val df = Seq(
      (1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 00:50:00"), 1L, "click", 2.0),
      (3L, ts("2024-01-01 01:10:00"), 2L, "view", 4.0),
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val res = EventStreams.windowedAgg(df, "1 hour").orderBy("window_start").collect()
    res should have length 2
    res(0).getAs[Long]("n_events") shouldBe 2L
    res(0).getAs[Double]("sum_value") shouldBe 3.0
  }

  test("sessionize splits on gap, preserves micros, counts and sums") {
    val t0 = ts("2024-01-01 00:00:00.000123")
    val events = Seq(
      EventStreams.Event(1L, t0, 7L, "a", 1.0),
      EventStreams.Event(2L, ts("2024-01-01 00:10:00"), 7L, "a", 2.0),
      EventStreams.Event(3L, ts("2024-01-01 05:00:00"), 7L, "a", 4.0), // gap > 4h ⇒ new session
      EventStreams.Event(4L, ts("2024-01-01 00:30:00"), 8L, "a", 8.0),
    ).toDS()
    val res = EventStreams.sessionize(events, gapMs = 4L * 3600 * 1000)
      .orderBy("user_id", "start").collect()
    res should have length 3
    res(0).getAs[Timestamp]("start") shouldBe t0 // micros preserved
    res(0).getAs[Long]("n_events") shouldBe 2L
    res(0).getAs[Double]("total_value") shouldBe 3.0
    res(1).getAs[Long]("n_events") shouldBe 1L
    res(2).getAs[Long]("user_id") shouldBe 8L
  }

  test("sessionizeBatch (window form) agrees with stateful sessionize") {
    val t0 = ts("2024-01-01 00:00:00.000123")
    val raw = Seq(
      EventStreams.Event(1L, t0, 7L, "a", 1.0),
      EventStreams.Event(2L, ts("2024-01-01 00:10:00"), 7L, "a", 2.0),
      EventStreams.Event(3L, ts("2024-01-01 05:00:00"), 7L, "a", 4.0),
      EventStreams.Event(4L, ts("2024-01-01 00:30:00"), 8L, "a", 8.0),
      EventStreams.Event(5L, ts("2024-01-01 09:30:01"), 7L, "a", 16.0),
    )
    val cols = Seq("user_id", "start", "end", "n_events", "total_value")
    val batch = EventStreams.sessionizeBatch(
        raw.toDS().toDF(), gapMs = 4L * 3600 * 1000)
      .select(cols.map(col): _*).orderBy("user_id", "start").collect()
    val stateful = EventStreams.sessionize(raw.toDS(), gapMs = 4L * 3600 * 1000)
      .select(cols.map(col): _*).orderBy("user_id", "start").collect()
    batch.toSeq shouldBe stateful.toSeq
    batch should have length 4 // 09:30:01 is > 4h past 05:00 ⇒ own session
  }

  test("incremental sessionize over a multi-file spool equals sessionizeBatch") {
    val gap = 4L * 3600 * 1000
    // user 7: session spanning files 1+2, then a gap-break session in file 2;
    // user 8: single-event session in file 1 (closes only via the sentinel
    // timeout); user 9: events split across files within the gap
    val f1 = Seq(
      EventStreams.Event(1L, ts("2024-01-01 00:00:00.000123"), 7L, "a", 1.0),
      EventStreams.Event(2L, ts("2024-01-01 00:10:00"), 7L, "a", 2.0),
      EventStreams.Event(4L, ts("2024-01-01 00:30:00"), 8L, "a", 8.0),
      EventStreams.Event(6L, ts("2024-01-01 02:00:00"), 9L, "a", 32.0))
    val f2 = Seq(
      EventStreams.Event(3L, ts("2024-01-01 03:59:00"), 7L, "a", 4.0), // within gap: same session
      EventStreams.Event(5L, ts("2024-01-01 09:30:01"), 7L, "a", 16.0), // past gap: new session
      EventStreams.Event(7L, ts("2024-01-01 05:30:00"), 9L, "a", 64.0))
    // sentinel far past every end+gap (watermark delay 1h in this spec)
    val sent1 = Seq(EventStreams.Event(-1L, ts("2024-02-01 00:00:00"), -1L, "s", 0.0))
    val sent2 = Seq(EventStreams.Event(-2L, ts("2024-02-01 01:00:00"), -1L, "s", 0.0))
    val dir = graft.SparkSpec.tempDir("graft_sess_spool").toString
    Seq(f1, f2, sent1, sent2).zipWithIndex.foreach { case (evs, i) =>
      val stage = s"$dir/.stage_$i"
      evs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(dir, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    val cols = Seq("user_id", "start", "end", "n_events", "total_value")
    val inc = EventStreams.runSessionizeOnce(spark, dir, "sess_spec_inc",
        gapMs = gap, watermarkDelay = "1 hour")
      .select(cols.map(col): _*).orderBy("user_id", "start").collect()
    val batch = EventStreams.sessionizeBatch((f1 ++ f2).toDS().toDF(), gapMs = gap)
      .select(cols.map(col): _*).orderBy("user_id", "start").collect()
    inc.toSeq shouldBe batch.toSeq
    inc should have length 4 // 7:(2 sessions) 8:(1) 9:(1 spanning files)
  }

  test("incremental sessionize survives cross-batch out-of-order events") {
    val gap = 1L * 3600 * 1000
    // user 7: batch 2 delivers an event OLDER than the open session's end
    // (within the watermark). The end must not move backward: 02:50 is
    // 50 min past the true end 02:00 — same session iff the span held.
    // user 8: a straggler older than start-gap becomes its own singleton.
    val f1 = Seq(
      EventStreams.Event(1L, ts("2024-01-01 01:00:00"), 7L, "a", 1.0),
      EventStreams.Event(2L, ts("2024-01-01 02:00:00"), 7L, "a", 2.0),
      EventStreams.Event(10L, ts("2024-01-01 10:00:00"), 8L, "a", 8.0))
    val f2 = Seq(
      EventStreams.Event(3L, ts("2024-01-01 01:10:00"), 7L, "a", 4.0), // inside open span
      EventStreams.Event(4L, ts("2024-01-01 02:50:00"), 7L, "a", 16.0), // extends true end
      EventStreams.Event(11L, ts("2024-01-01 05:00:00"), 8L, "a", 32.0)) // straggler
    val sent1 = Seq(EventStreams.Event(-1L, ts("2024-03-01 00:00:00"), -1L, "s", 0.0))
    val sent2 = Seq(EventStreams.Event(-2L, ts("2024-03-02 00:00:00"), -1L, "s", 0.0))
    val dir = graft.SparkSpec.tempDir("graft_sess_ooo").toString
    Seq(f1, f2, sent1, sent2).zipWithIndex.foreach { case (evs, i) =>
      val stage = s"$dir/.stage_$i"
      evs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(dir, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    val cols = Seq("user_id", "start", "end", "n_events", "total_value")
    // 30-day delay keeps the f2 stragglers above the watermark; the
    // March sentinels still push it past every real end+gap
    val inc = EventStreams.runSessionizeOnce(spark, dir, "sess_spec_ooo",
        gapMs = gap, watermarkDelay = "30 days")
      .select(cols.map(col): _*).orderBy("user_id", "start").collect()
    val batch = EventStreams.sessionizeBatch((f1 ++ f2).toDS().toDF(), gapMs = gap)
      .select(cols.map(col): _*).orderBy("user_id", "start").collect()
    inc.toSeq shouldBe batch.toSeq
    inc should have length 3 // 7:[01:00–02:50]×4 events, 8:[05:00], 8:[10:00]
    inc(0).getAs[Long]("n_events") shouldBe 4L
  }

  /** Write event batches as an mtime-ordered spool (one file per batch). */
  private def writeSpool(dir: String, files: Seq[Seq[EventStreams.Event]]): Unit =
    files.zipWithIndex.foreach { case (evs, i) =>
      val stage = s"$dir/.stage_$i"
      evs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(dir, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }

  test("streaming funnel: late stage-0 arrival resurrects an earlier stage-1 key") {
    // user 1: batch 1 delivers click@00:05 only → chain stops at 0
    // stages reached (no view yet). Batch 2 delivers view@00:01 —
    // EARLIER in event time — which must set r0=00:01 and make the
    // already-seen click@00:05 eligible: final reach = 2 stages.
    // user 2: view then click in order across batches → 2 stages.
    // user 3: click@00:01 BEFORE its view@00:05 → strictly-after
    // chaining stops at 1 stage (view reached, no later click).
    val b1 = Seq(
      EventStreams.Event(10L, ts("2024-01-01 00:05:00"), 1L, "click", 0.0),
      EventStreams.Event(11L, ts("2024-01-01 00:01:00"), 2L, "view", 0.0),
      EventStreams.Event(12L, ts("2024-01-01 00:01:00"), 3L, "click", 0.0))
    val b2 = Seq(
      EventStreams.Event(20L, ts("2024-01-01 00:01:00"), 1L, "view", 0.0),
      EventStreams.Event(21L, ts("2024-01-01 00:05:00"), 2L, "click", 0.0),
      EventStreams.Event(22L, ts("2024-01-01 00:05:00"), 3L, "view", 0.0))
    val spool = graft.SparkSpec.tempDir("graft_funnel_spool").toString
    writeSpool(spool, Seq(b1, b2))
    val reach = EventStreams.runFunnelOnce(spark, spool, "funnel_spec",
        Seq("view", "click"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("upto")).toMap
    reach shouldBe Map(1L -> 2, 2L -> 2, 3L -> 1)
    // and the latest-emission selection equals the batch funnel counts
    val batch = graft.ext.Funnel.funnelCounts((b1 ++ b2).toDS().toDF(),
        "user_id", "ts", "event_id",
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click")))
      .collect().map(r => r.getAs[Int]("stage_index") -> r.getAs[Long]("n_users")).toMap
    batch shouldBe Map(0 -> 3L, 1 -> 2L)
  }

  test("streaming SCD2: out-of-order arrivals split runs retroactively; nulls follow batch 3VL") {
    // user 1, in-order within batches but a RETROACTIVE split: batch 1
    // delivers A@1, A@5; batch 2 delivers B@3 — the final history must
    // be A[1,3) B[3,5) A[5,∞), which only a re-derivation can produce
    // (no append-only fold could split the A-run after the fact).
    // user 2 exercises nulls: A@1, null@2, A@3 — the null attaches to
    // the A run and the next row REOPENS a run (lag is null), so the
    // batch form yields A[1,3) A[3,∞); the stream must match.
    val b1 = Seq(
      EventStreams.Event(10L, ts("2024-01-01 00:01:00"), 1L, "A", 0.0),
      EventStreams.Event(11L, ts("2024-01-01 00:05:00"), 1L, "A", 0.0),
      EventStreams.Event(12L, ts("2024-01-01 00:01:00"), 2L, "A", 0.0),
      EventStreams.Event(13L, ts("2024-01-01 00:02:00"), 2L, null, 0.0))
    val b2 = Seq(
      EventStreams.Event(20L, ts("2024-01-01 00:03:00"), 1L, "B", 0.0),
      EventStreams.Event(21L, ts("2024-01-01 00:03:00"), 2L, "A", 0.0))
    val spool = graft.SparkSpec.tempDir("graft_scd2_spool").toString
    writeSpool(spool, Seq(b1, b2))
    val streamed = EventStreams.runScd2Once(spark, spool, "scd2_spec")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("attr"),
        r.getAs[Timestamp]("valid_from"), r.getAs[Timestamp]("valid_to"),
        r.getAs[Long]("n_rows"), r.getAs[Boolean]("is_current"))).toSet
    streamed shouldBe Set(
      (1L, "A", ts("2024-01-01 00:01:00"), ts("2024-01-01 00:03:00"), 1L, false),
      (1L, "B", ts("2024-01-01 00:03:00"), ts("2024-01-01 00:05:00"), 1L, false),
      (1L, "A", ts("2024-01-01 00:05:00"), null, 1L, true),
      (2L, "A", ts("2024-01-01 00:01:00"), ts("2024-01-01 00:03:00"), 2L, false),
      (2L, "A", ts("2024-01-01 00:03:00"), null, 1L, true))
    // and cell-for-cell equality with the batch operator on the union
    val batch = graft.ext.Scd2.intervals((b1 ++ b2).toDS().toDF()
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")),
        "user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Timestamp]("valid_from"), r.getAs[Timestamp]("valid_to"),
        r.getAs[Long]("n_rows"), r.getAs[Boolean]("is_current"))).toSet
    batch shouldBe streamed
  }

  test("streaming KMV: trimmed deltas re-minimized equal the one-shot sketch; markers idempotent") {
    // many distinct users per type so the estimator path (≥ k distinct)
    // and the per-batch trim both engage with k = 8
    val evs = (0 until 120).map(i => EventStreams.Event(
      i.toLong, ts(f"2024-01-01 00:${i % 60}%02d:00"),
      (i * 7 % 97).toLong, if (i % 2 == 0) "a" else "b", 1.0))
    val spool = graft.SparkSpec.tempDir("graft_kmv_spool").toString
    writeSpool(spool, Seq(evs.take(40), evs.slice(40, 80), evs.drop(80)))
    val store = graft.SparkSpec.tempDir("graft_kmv_store").toString + "/s"
    EventStreams.runKmvAppendOnce(spark, spool, store, "event_type", "user_id", k = 8)
    def streamed() = EventStreams.readKmvEstimates(spark, store, "event_type", 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = graft.ext.Sketch.kmvDistinct(evs.toDS().toDF(), "event_type",
        col("user_id"), 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    streamed() shouldBe batch
    // delta store stays trim-bounded: ≤ groups × k rows per batch
    spark.read.parquet(s"$store/deltas").count() should be <= (3L * 2 * 8)
    // a full re-run (store deleted, fresh checkpoint lineage) rebuilds
    // to the identical state — the determinism the gate depends on; the
    // shared publishDeltaExactlyOnce crash states are walked by the CMS
    // crash-replay spec
    EventStreams.runKmvAppendOnce(spark, spool, store, "event_type", "user_id", k = 8)
    streamed() shouldBe batch
  }

  test("transformWithState sessionize equals sessionizeBatch, stale timers inert") {
    val gap = 1L * 3600 * 1000
    // user 7's session EXTENDS across batches: batch 1 registers a timer
    // for end1+gap; batch 2 moves the end later. The batch-1 timer fires
    // first and must be ignored (the session is still live) — the
    // accumulated-timers hazard of the v2 API. User 8 closes only via
    // its (live) timer; user 7's second session breaks in-batch.
    val f1 = Seq(
      EventStreams.Event(1L, ts("2024-01-01 01:00:00.000123"), 7L, "a", 1.0),
      EventStreams.Event(10L, ts("2024-01-01 01:20:00"), 8L, "a", 8.0))
    val f2 = Seq(
      EventStreams.Event(2L, ts("2024-01-01 01:50:00"), 7L, "a", 2.0), // extends
      EventStreams.Event(3L, ts("2024-01-01 06:00:00"), 7L, "a", 4.0)) // new session
    val sent1 = Seq(EventStreams.Event(-1L, ts("2024-02-01 00:00:00"), -1L, "s", 0.0))
    val sent2 = Seq(EventStreams.Event(-2L, ts("2024-02-01 01:00:00"), -1L, "s", 0.0))
    val dir = graft.SparkSpec.tempDir("graft_sess_tws").toString
    writeSpool(dir, Seq(f1, f2, sent1, sent2))
    val cols = Seq("user_id", "start", "end", "n_events", "total_value")
    val tws = EventStreams.runSessionizeTwsOnce(spark, dir, "sess_spec_tws",
        gapMs = gap, watermarkDelay = "30 days")
      .select(cols.map(col): _*).orderBy("user_id", "start").collect()
    val batch = EventStreams.sessionizeBatch((f1 ++ f2).toDS().toDF(), gapMs = gap)
      .select(cols.map(col): _*).orderBy("user_id", "start").collect()
    tws.toSeq shouldBe batch.toSeq
    tws should have length 3 // 7:[01:00–01:50]x2, 7:[06:00], 8:[01:20]
    tws(0).getAs[Long]("n_events") shouldBe 2L
    tws(0).getAs[Timestamp]("start") shouldBe ts("2024-01-01 01:00:00.000123")
  }

  test("incremental upsert: per-batch merges equal one merge of the whole spool") {
    // batch 1 creates users 1,2; batch 2 updates user 2 and creates user 3
    val f1 = Seq(
      EventStreams.Event(1L, ts("2024-01-01 00:00:00"), 1L, "a", 1.0),
      EventStreams.Event(2L, ts("2024-01-01 00:01:00"), 2L, "a", 2.0))
    val f2 = Seq(
      EventStreams.Event(3L, ts("2024-01-01 01:00:00"), 2L, "b", 4.0),
      EventStreams.Event(4L, ts("2024-01-01 01:01:00"), 3L, "b", 8.0))
    val dir = graft.SparkSpec.tempDir("graft_upsert_spool").toString
    Seq(f1, f2).zipWithIndex.foreach { case (evs, i) =>
      val stage = s"$dir/.stage_$i"
      evs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(dir, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    val table = graft.SparkSpec.tempDir("graft_upsert_tbl").toString + "/t"
    val (created, updated) = EventStreams.runUpsertOnce(spark, dir, table, "user_id")
    created shouldBe 3L
    updated shouldBe 1L
    val got = spark.read.parquet(table)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    // equals ONE merge of f1++f2 (last occurrence per user wins)
    got shouldBe Seq((1L, 1L, "a", 1.0), (3L, 2L, "b", 4.0), (4L, 3L, "b", 8.0))
  }

  test("windowed agg runs as a real stream (MemoryStream, update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "2 hours")
    val agg = EventStreams.windowedAgg(streamDf, "1 hour")
    val q = agg.writeStream.format("memory").queryName("win_test")
      .outputMode("complete").start()
    try {
      mem.addData((1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 00:20:00"), 1L, "click", 2.0))
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM win_test").collect()
      out should have length 1
      out.head.getAs[Long]("n_events") shouldBe 2L
    } finally q.stop()
  }

  test("stream-stream interval join buffers across micro-batches and equals the batch join") {
    // user 7: view in file 1, its in-window click arrives in file 2 (the
    // cross-batch buffering case) plus an out-of-window click; user 8:
    // click BEFORE its view (excluded — strictly-after); user 9: two
    // views share one click (both pairs emit)
    val f1 = Seq(
      EventStreams.Event(1L, ts("2024-01-01 00:00:00.000123"), 7L, "view", 0.0),
      EventStreams.Event(10L, ts("2024-01-01 01:00:00"), 8L, "click", 0.0),
      EventStreams.Event(20L, ts("2024-01-01 02:00:00"), 9L, "view", 0.0))
    val f2 = Seq(
      EventStreams.Event(2L, ts("2024-01-01 00:40:00"), 7L, "click", 0.0), // in window
      EventStreams.Event(3L, ts("2024-01-01 01:30:00"), 7L, "click", 0.0), // past 1h: out
      EventStreams.Event(11L, ts("2024-01-01 01:10:00"), 8L, "view", 0.0), // click precedes
      EventStreams.Event(21L, ts("2024-01-01 02:20:00"), 9L, "view", 0.0),
      EventStreams.Event(22L, ts("2024-01-01 02:30:00"), 9L, "click", 0.0))
    val dir = graft.SparkSpec.tempDir("graft_ssj_spool").toString
    Seq(f1, f2).zipWithIndex.foreach { case (evs, i) =>
      val stage = s"$dir/.stage_$i"
      evs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(dir, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    val got = EventStreams.runStreamStreamJoinOnce(spark, dir, "ssj_spec")
      .orderBy("view_id", "click_id").collect()
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id"),
        r.getAs[Long]("user_id"), r.getAs[Long]("gap_us"))).toSeq
    got shouldBe Seq(
      (1L, 2L, 7L, 2399999877L), // cross-batch pair, micros exact
      (20L, 22L, 9L, 1800000000L),
      (21L, 22L, 9L, 600000000L))
  }

  test("streamed win matrix equals the batch matrix; a replayed batch publish is idempotent") {
    val f1 = Seq(
      EventStreams.Event(1L, ts("2024-01-01 00:00:00"), 0L, "click", 90.0),
      EventStreams.Event(2L, ts("2024-01-01 00:01:00"), 1L, "view", 10.0),
      EventStreams.Event(3L, ts("2024-01-01 00:02:00"), 2L, "click", 80.0))
    val f2 = Seq(
      EventStreams.Event(4L, ts("2024-01-01 00:03:00"), 0L, "view", 70.0),
      EventStreams.Event(5L, ts("2024-01-01 00:04:00"), 1L, "click", 20.0))
    val dir = graft.SparkSpec.tempDir("graft_btm_spool").toString
    Seq(f1, f2).zipWithIndex.foreach { case (evs, i) =>
      val stage = s"$dir/.stage_$i"
      evs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, f"spool_$i%03d.parquet").toPath)
    }
    val store = graft.SparkSpec.tempDir("graft_btm_store").toString
    val alt = concat(lit("t"), (col("user_id") % 5).cast("string"))
    val winner = when(col("value") > 50, col("event_type")).otherwise(alt)
    val loser = when(col("value") > 50, alt).otherwise(col("event_type"))
    EventStreams.runWinMatrixOnce(spark, dir, store, winner, loser)
    def summed() = EventStreams.readWinMatrix(spark, store)
      .orderBy("item", "opp").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val streamed = summed()
    val batch = graft.ext.Preference.winMatrix(
        spark.read.parquet(dir).select(winner.as("w"), loser.as("l")), "w", "l")
      .orderBy("item", "opp").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    streamed shouldBe batch
    // a replayed publish under an existing batch key REPLACES its delta
    // files — sums unchanged (the crash-replay story)
    graft.streaming.DocStreams.publishDeltaExactlyOnce(spark, store,
      graft.ext.Preference.winMatrix(
        f1.toDS().toDF().select(winner.as("w"), loser.as("l")), "w", "l"), 0L)
    summed() shouldBe streamed
  }

  test("stale-generation publish refuses: an append replay across a rebuild cannot resurrect deleted items") {
    // the documented takedown race, now closed structurally: a rebuild
    // swap resets the batch markers, so a still-running append run
    // replaying a pre-rebuild batch would re-publish deleted items into
    // the fresh store — unless the publish carries its run-start
    // generation and the store's stamp has moved past it
    val store = graft.SparkSpec.tempDir("graft_gen_store").toString + "/kmv"
    val d0 = Seq(("a", 1L), ("a", 2L)).toDF("__g", "__h")
    val gen0 = DocStreams.storeGeneration(spark, store)
    gen0 shouldBe 0L
    DocStreams.publishDeltaExactlyOnce(spark, store, d0, 0L, gen0)
    // a takedown rebuild swaps the store and bumps the stamp...
    EventStreams.rebuildKmvStore(spark, store,
      Seq(("a", "v1")).toDF("g", "v"), "g", "v", 4)
    DocStreams.storeGeneration(spark, store) shouldBe 1L
    // ...so the gen-0 run's replayed batch refuses loudly
    val e = intercept[IllegalStateException] {
      DocStreams.publishDeltaExactlyOnce(spark, store, d0, 0L, gen0)
    }
    e.getMessage should include("stale-generation")
    // the fresh store is untouched: exactly the rebuild's single trim
    spark.read.parquet(s"$store/deltas").count() shouldBe 1L
    // a run that starts against the POST-rebuild store publishes fine
    DocStreams.publishDeltaExactlyOnce(spark, store, d0, 7L,
      DocStreams.storeGeneration(spark, store))
    spark.read.parquet(s"$store/deltas").count() shouldBe 3L
  }
}
