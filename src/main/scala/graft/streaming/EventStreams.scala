package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import java.sql.Timestamp

/** Structured-Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming (SURVEY §2.7); this is the extension
  * surface: watermarked tumbling-window aggregation and stateful
  * sessionization via flatMapGroupsWithState. Each transform is defined
  * against a generic DataFrame so the SAME code runs on `readStream` (file
  * source on an events directory) and on a batch frame — batch parity is
  * what the oracle checks.
  */
object EventStreams {

  /** Tumbling-window counts + value sums per event type. In streaming mode
    * add `withWatermark("ts", ...)` upstream; the aggregation itself is
    * mode-agnostic.
    */
  def windowedAgg(events: DataFrame, windowLength: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** SLIDING-window aggregation (hop < length ⇒ overlapping windows):
    * each event contributes to `length / slide` windows — Spark's
    * `window()` expands the row into its member windows before the
    * partial aggregate, so the shuffle carries pre-combined
    * (window, type) partials exactly like the tumbling form, scaled by
    * the overlap factor. Same output shape as [[windowedAgg]].
    */
  def slidingWindowAgg(events: DataFrame, windowLength: String,
      slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming variant with watermark, for a parquet dir source (micros
    * timestamps, i.e. Spark-written batches).
    */
  def windowedAggStream(spark: SparkSession, dir: String, windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val stream = spark.readStream
      .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
      .parquet(dir)
      .withWatermark("ts", watermark)
    windowedAgg(stream, windowLength)
  }

  /** Run the file-source streaming aggregation to completion over a static
    * staging dir and return the final result — used to put the REAL
    * streaming execution path (file source → watermark → stateful agg →
    * memory sink) under the batch-oracle gate.
    */
  def runWindowedAggOnce(spark: SparkSession, dir: String, queryName: String,
      windowLength: String = "1 hour"): DataFrame = {
    StreamConf.withWidth(spark) {
      val q = windowedAggStream(spark, dir, windowLength)
        .writeStream.format("memory").queryName(queryName)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streaming exact-dedup: first occurrence of each `event_id` passes,
    * replays are dropped. `dropDuplicatesWithinWatermark` is the
    * bounded-state form — dedup state is evicted once the watermark passes,
    * so an unbounded stream doesn't accumulate unbounded key state (plain
    * `dropDuplicates` on a stream never evicts).
    */
  def runDedupOnce(spark: SparkSession, dir: String, queryName: String,
      watermark: String = "24 hours"): DataFrame = {
    StreamConf.withWidth(spark) {
      val stream = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .parquet(dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
      val q = stream.writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Stream-static enrichment: join the event stream against a static
    * dimension frame (Spark plans the static side as a broadcast per
    * micro-batch) and aggregate per dimension attribute — the canonical
    * "enrich the firehose with reference data" shape.
    */
  def runEnrichedAggOnce(spark: SparkSession, dir: String, dim: DataFrame,
      joinKey: String, dimCol: String, queryName: String): DataFrame = {
    StreamConf.withWidth(spark) {
      val stream = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .parquet(dir)
        .withWatermark("ts", "24 hours")
      val enriched = stream.join(dim, col("user_id") === col(joinKey), "inner")
      val agg = enriched.groupBy(col(dimCol))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      val q = agg.writeStream.format("memory").queryName(queryName)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Stream-stream interval join — the attribution shape ("which click
    * followed which view, within the window") run as a REAL two-stream
    * join: both sides are independent file-source streams, each
    * watermarked, joined on the user key plus the event-time range
    * constraint `vts < cts <= vts + within`. The range bound plus the
    * watermarks are what let Spark EVICT join state — without them a
    * stream-stream join buffers both streams forever, which is the
    * classic unbounded-state bug this entry point exists to pin down.
    * Inner join: matches emit as soon as both rows have arrived (no
    * watermark passage needed to EMIT, only to clean state), so draining
    * the spool yields exactly the batch join of the same condition —
    * the x_stream_stream_join gate compares against DuckDB's.
    *
    * Output: (view_id, click_id, user_id, gap_us) with the gap in exact
    * integer microseconds (`unix_micros`, no float truncation seam).
    */
  def runStreamStreamJoinOnce(spark: SparkSession, dir: String,
      queryName: String, within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    StreamConf.withWidth(spark) {
      def src() = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .parquet(dir)
      val views = src().filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("vts"),
          col("user_id"))
        .withWatermark("vts", watermark)
      val clicks = src().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("cts"),
          col("user_id").as("__cuser"))
        .withWatermark("cts", watermark)
      val joined = views.join(clicks,
          col("user_id") === col("__cuser") &&
            col("cts") > col("vts") &&
            col("cts") <= col("vts") + expr(s"INTERVAL $within"))
        .select(col("view_id"), col("click_id"), col("user_id"),
          (unix_micros(col("cts")) - unix_micros(col("vts"))).as("gap_us"))
      val q = joined.writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
      n_events: Long, total_value: Double)
  /** Open-session accumulator (epoch-micros bounds). Not private: the
    * streaming state store serializes it through a codegen'd encoder, and
    * Janino cannot reference a Scala-private class from generated code
    * (the batch replay path never hits that encoder, so `private`
    * compiled fine until the incremental form ran as a REAL stream).
    */
  final case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** Stateful sessionization: events for a user belong to one session while
    * gaps stay under `gapMs`; a session closes on gap timeout (streaming)
    * or at end-of-group (batch replay of the same code path).
    *
    * flatMapGroupsWithState keeps per-user state on the state store — the
    * canonical custom-state operator (Spark Structured Streaming
    * programming guide pattern).
    */
  /** Timestamp ⇄ epoch-micros (Timestamp.getTime is millis — converting
    * through it alone would truncate the microsecond component).
    */
  private def toMicros(t: Timestamp): Long =
    (t.getTime - t.getNanos / 1000000) * 1000L + t.getNanos / 1000
  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000 * 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  /** Batch sessionization via the window formulation: a session break is a
    * gap > `gapMs` from the previous event (lag), session ids are the
    * running sum of breaks, sessions the per-(user, id) aggregate.
    *
    * This is the scale path for BATCH data: partitioned by user, sorted
    * within partitions by Spark's spilling external sort — no operator ever
    * materializes a whole user's events in task memory (a hot user is just
    * a bigger sort run, not an OOM). `sessionize` below keeps the stateful
    * flatMapGroupsWithState form for genuinely INCREMENTAL streaming, where
    * each invocation sees one micro-batch's worth of a user's events —
    * bounded by the trigger interval, not by the user's history.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    val brk = when(prev.isNull ||
      unix_micros(col("ts")) - unix_micros(prev) > gapMs * 1000L, 1).otherwise(0)
    events
      .withColumn("__brk", brk) // separate projection: no nested windows
      .withColumn("__sid", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__brk")
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts")).as("start"), max(col("ts")).as("end"),
        count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .drop("__sid")
  }

  /** Genuinely INCREMENTAL sessionization: same gap semantics as
    * `sessionizeBatch` under in-order delivery, but an open session lives
    * in the state store ACROSS micro-batches and closes through one of two
    * paths — (a) a later batch brings an event past the gap (the state
    * rolls into a new session), or (b) the event-time watermark passes
    * `end + gap` and the timeout fires. Unlike `sessionize` below (which
    * closes every group at end-of-invocation — batch replay semantics),
    * this is the form a 24/7 stream runs: state is bounded by open
    * sessions, and emission needs no end-of-stream.
    *
    * Out-of-order delivery ACROSS micro-batches (an event above the
    * watermark but older than the open session's end — within a batch the
    * group is sorted first) is handled, not corrupted: an event inside or
    * within `gap` of the open span merges via span min/max (the end never
    * moves backward), and a straggler older than `start - gap` — whose
    * batch-semantics session may already be closed and emitted — becomes
    * its own best-effort singleton session instead of rewriting the open
    * span. Exact equality with `sessionizeBatch` therefore holds when
    * cross-batch disorder stays within `gap` of the open session (always
    * true for an ordered spool); beyond that the divergence is confined
    * to the straggler's own row.
    */
  def sessionizeIncremental(events: org.apache.spark.sql.Dataset[Event],
      gapMs: Long): org.apache.spark.sql.Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (!it.hasNext) {
            // timeout: the watermark passed end+gap, the open session is final
            val closed = state.getOption.map(st =>
              Session(userId, fromMicros(st.start), fromMicros(st.end), st.n, st.total))
            state.remove()
            closed.iterator
          } else {
            val (closed, st) = advanceSession(userId, state.getOption.orNull, it, gapMs)
            state.update(st)
            // close when the watermark passes the gap; the API requires a
            // timeout above the current watermark, so a session already
            // older than it (no later events for this user) closes on the
            // very next trigger
            state.setTimeoutTimestamp(
              math.max(st.end / 1000 + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.iterator
          }
      }
  }

  /** The SAME incremental sessionization on Spark 4's
    * `transformWithState` API — explicit keyed [[ValueState]] plus
    * event-time timers instead of the legacy `GroupState` timeout. Gap,
    * span-merge, and cross-batch-straggler semantics are identical to
    * [[sessionizeIncremental]] (one shared worker, `advanceSession`).
    *
    * Timer discipline differs from the legacy API and is the one real
    * migration hazard: `setTimeoutTimestamp` REPLACED the pending
    * timeout, while `registerTimer` ACCUMULATES timers — so a session
    * extended across batches leaves stale earlier timers behind. Each
    * firing therefore re-checks liveness against the state: a timer
    * whose watermark has not actually passed `end + gap` (the session
    * grew since it was registered) is ignored; the timer registered
    * with the extended end performs the close. Requires the RocksDB
    * state store provider (`runSessionizeTwsOnce` sets it).
    */
  private class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, it: Iterator[Event],
        timers: TimerValues): Iterator[Session] = {
      val (closed, st) = advanceSession(userId,
        if (session.exists()) session.get() else null, it, gapMs)
      session.update(st)
      getHandle.registerTimer(
        math.max(st.end / 1000 + gapMs, timers.getCurrentWatermarkInMs() + 1))
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      if (!session.exists()) return Iterator.empty // already closed
      val st = session.get()
      if (timers.getCurrentWatermarkInMs() < st.end / 1000 + gapMs)
        Iterator.empty // stale timer: the session was extended since
      else {
        session.clear()
        Iterator.single(
          Session(userId, fromMicros(st.start), fromMicros(st.end), st.n, st.total))
      }
    }
  }

  def sessionizeTws(events: org.apache.spark.sql.Dataset[Event],
      gapMs: Long): org.apache.spark.sql.Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ------------------------------------------------------------- funnel
  /** One stage-qualifying event key in a user's funnel state. */
  final case class StageKey(stage: Int, ts: Long, tie: Long)
  // public like SessionState: the state encoder's generated code
  // constructs it reflectively, and janino cannot reach a private class
  final case class FunnelState(seq: Long, keys: Seq[StageKey])
  /** One per-user reach emission: `upto` = consecutive stages reached
    * (the chain length), `seq` strictly increasing per user so the
    * LATEST emission is selectable downstream.
    */
  final case class FunnelReach(user_id: Long, seq: Long, upto: Int)

  /** The strict-order chain of [[graft.ext.Funnel.funnelCounts]] over a
    * user's accumulated stage keys: stage k's reach is the minimum
    * (ts, tie) among stage-k keys strictly after the stage-(k−1) reach.
    */
  private def chainLength(keys: Seq[StageKey], nStages: Int): Int = {
    var r: (Long, Long) = null
    var k = 0
    while (k < nStages) {
      var best: (Long, Long) = null
      keys.foreach { s =>
        if (s.stage == k) {
          val t = (s.ts, s.tie)
          if ((r == null || Ordering[(Long, Long)].gt(t, r)) &&
              (best == null || Ordering[(Long, Long)].lt(t, best)))
            best = t
        }
      }
      if (best == null) return k
      r = best
      k += 1
    }
    k
  }

  /** Incremental ordered-funnel state: per user, the qualifying event
    * keys per stage accumulate across micro-batches, and each batch that
    * touches a user re-derives the strict (ts, tie) chain and emits the
    * user's current reach. EXACT under arbitrary cross-batch disorder —
    * a late stage-0 event can lower r₀ and thereby resurrect an earlier
    * stage-1 key, which is why the state holds the user's qualifying
    * KEYS, not just the current minima (the minima alone cannot be
    * repaired). State per user is bounded by the user's stage-qualifying
    * events — the exactness price; a production deployment bounds
    * lateness with a TTL/watermark eviction on this state and accepts
    * frozen chains past it.
    */
  private class FunnelProcessor(stages: Seq[String])
      extends StatefulProcessor[Long, Event, FunnelReach] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        org.apache.spark.sql.Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, it: Iterator[Event],
        timers: TimerValues): Iterator[FunnelReach] = {
      val idx = stages.zipWithIndex.toMap
      val add = it.flatMap(e => idx.get(e.event_type)
        .map(s => StageKey(s, toMicros(e.ts), e.event_id))).toVector
      if (add.isEmpty) return Iterator.empty // nothing qualifying: no churn
      val prev = if (st.exists()) st.get() else FunnelState(0L, Vector.empty)
      val next = FunnelState(prev.seq + 1, prev.keys ++ add)
      st.update(next)
      Iterator.single(
        FunnelReach(userId, next.seq, chainLength(next.keys, stages.length)))
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[FunnelReach] = Iterator.empty
  }

  def funnelTws(events: org.apache.spark.sql.Dataset[Event],
      stages: Seq[String]): org.apache.spark.sql.Dataset[FunnelReach] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(stages),
        TimeMode.None(), OutputMode.Append())
  }

  /** Run the incremental funnel over a staged spool to completion (the
    * real streaming path; RocksDB provider switched in for the run like
    * [[runSessionizeTwsOnce]]) and return the FINAL per-user reach:
    * latest emission per user, (`user_id`, `upto`).
    */
  def runFunnelOnce(spark: SparkSession, dir: String, queryName: String,
      stages: Seq[String]): DataFrame = {
    import spark.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try StreamConf.withWidth(spark) {
      val stream = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .as[Event]
      val q = funnelTws(stream, stages)
        .toDF()
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("seq").desc)
    spark.table(queryName)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("upto"))
  }

  // ------------------------------------------------------------- scd2
  /** One observation in a key's SCD2 state: event-time micros, the
    * unique tiebreaker, the observed attribute value (nullable — the
    * batch form's three-valued null semantics are reproduced exactly).
    */
  final case class ScdObs(ts: Long, tie: Long, attr: String)
  final case class ScdState(seq: Long, obs: Seq[ScdObs])
  /** One validity interval emitted for a key at state version `seq` —
    * the latest version per key IS the key's current history.
    */
  final case class ScdIntervalRow(user_id: Long, seq: Long, attr: String,
      valid_from: Timestamp, valid_to: Timestamp, n_rows: Long,
      is_current: Boolean)

  /** Streaming SCD2 maintenance (the history family's streaming leg):
    * CDC/observation batches fold into per-key validity intervals via
    * `transformWithState` — the funnel's accumulate-and-rederive shape.
    * State is the key's full observation log (the dimension-history
    * grain: per-key observation counts are bounded in practice, and
    * ONLY a full log can re-run the batch semantics under out-of-order
    * arrival, where a straggler can split or merge runs retroactively);
    * each batch merges its rows, re-derives the interval chain with
    * EXACTLY the batch [[graft.ext.Scd2.intervals]] semantics (ts+tie
    * ordering, `prev IS NULL OR prev <> attr` three-valued run breaks,
    * min-non-null run attr, half-open tiling, null `valid_to` on the
    * current run), and re-emits the key's history stamped with a
    * strictly-increasing version — the latest version per key is the
    * served table, exactly how a warehouse publishes dimension updates.
    */
  private class Scd2Processor
      extends StatefulProcessor[Long, Event, ScdIntervalRow] {
    @transient private var state: ValueState[ScdState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[ScdState]("scd2",
        org.apache.spark.sql.Encoders.product[ScdState], TTLConfig.NONE)

    override def handleInputRows(key: Long, it: Iterator[Event],
        timers: TimerValues): Iterator[ScdIntervalRow] = {
      val prev = if (state.exists()) state.get() else ScdState(0L, Nil)
      // tie uniqueness makes ++/distinct a set-merge even under
      // at-least-once batch replays
      val merged = (prev.obs ++ it.map(e =>
          ScdObs(toMicros(e.ts), e.event_id, e.event_type)))
        .distinct.sortBy(o => (o.ts, o.tie))
      val seq = prev.seq + 1L
      state.update(ScdState(seq, merged))
      scd2Intervals(key, seq, merged).iterator
    }
  }

  /** The batch [[graft.ext.Scd2.intervals]] run-detection over one key's
    * sorted observation log — shared by the processor and its spec.
    */
  private[streaming] def scd2Intervals(key: Long, seq: Long,
      sorted: Seq[ScdObs]): Seq[ScdIntervalRow] = {
    if (sorted.isEmpty) return Nil
    // SQL 3VL of `lag(attr) IS NULL OR lag(attr) <> attr`, row for row:
    // the key's first row always breaks (lag is null); a row AFTER a
    // null observation breaks (lag is null again); a null observation
    // itself never breaks (non-null <> null is null ⇒ no break, it
    // attaches to the preceding run); two non-null rows break iff the
    // values differ. Run attr is min(attr) over the run (nulls skipped).
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    // (valid_from, n_rows, min non-null attr)
    var prevRow: String = null
    var first = true
    sorted.foreach { o =>
      if (first || prevRow == null || (o.attr != null && o.attr != prevRow))
        runs += ((o.ts, 0L, null))
      val i = runs.length - 1
      val (from, n, a) = runs(i)
      runs(i) = (from, n + 1,
        if (a == null) o.attr
        else if (o.attr == null) a
        else if (o.attr < a) o.attr else a)
      prevRow = o.attr
      first = false
    }
    runs.toSeq.zipWithIndex.map { case ((from, n, a), i) =>
      val to = if (i + 1 < runs.length) fromMicros(runs(i + 1)._1) else null
      ScdIntervalRow(key, seq, a, fromMicros(from), to, n, i == runs.length - 1)
    }
  }

  def scd2Tws(events: org.apache.spark.sql.Dataset[Event])
      : org.apache.spark.sql.Dataset[ScdIntervalRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new Scd2Processor, TimeMode.None(), OutputMode.Append())
  }

  /** Run the streaming SCD2 maintenance over a staged spool to
    * completion (real streaming path, RocksDB provider) and return the
    * served interval table: the LATEST version per key, one row per
    * validity interval — (`user_id`, `attr`, `valid_from`, `valid_to`,
    * `n_rows`, `is_current`), the exact output shape of the batch
    * [[graft.ext.Scd2.intervals]].
    */
  def runScd2Once(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    import spark.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try StreamConf.withWidth(spark) {
      val stream = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .as[Event]
      val q = scd2Tws(stream)
        .toDF()
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    spark.table(queryName)
      .withColumn("__mx", max(col("seq")).over(byKey))
      .filter(col("seq") === col("__mx"))
      .select(col("user_id"), col("attr"), col("valid_from"), col("valid_to"),
        col("n_rows"), col("is_current"))
  }

  /** The batch-advance worker shared by BOTH incremental sessionizers:
    * fold one micro-batch's (sorted-here) events for a user into the
    * open-session state. Returns (sessions closed by roll-over or
    * stragglers, the open state after the batch — never null, a batch
    * has ≥ 1 event).
    */
  private def advanceSession(userId: Long, openState: SessionState,
      it: Iterator[Event], gapMs: Long): (Seq[Session], SessionState) = {
    val gapUs = gapMs * 1000
    val sorted = it.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    var st = openState
    sorted.foreach { e =>
      val t = toMicros(e.ts)
      if (st == null)
        st = SessionState(t, t, 1L, e.value)
      else if (t > st.end + gapUs) {
        out += Session(userId, fromMicros(st.start), fromMicros(st.end), st.n, st.total)
        st = SessionState(t, t, 1L, e.value)
      } else if (t < st.start - gapUs)
        // cross-batch straggler the open session can't reach: its
        // batch-semantics session may already be emitted, so a
        // singleton beats rewriting the open span
        out += Session(userId, fromMicros(t), fromMicros(t), 1L, e.value)
      else
        // in-order extension (t ≥ end) and within-watermark
        // disorder (start−gap ≤ t ≤ end) take the same merge:
        // span min/max — end never moves backward
        st = SessionState(math.min(st.start, t), math.max(st.end, t),
          st.n + 1, st.total + e.value)
    }
    (out.toSeq, st)
  }

  /** [[runSessionizeOnce]] for the `transformWithState` form: same spool
    * protocol, with the RocksDB state store provider switched in for the
    * run (the v2 stateful operator requires it; the session-wide default
    * stays untouched afterwards).
    */
  def runSessionizeTwsOnce(spark: SparkSession, dir: String, queryName: String,
      gapMs: Long, watermarkDelay: String = "35 days"): DataFrame = {
    import spark.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try StreamConf.withWidth(spark) {
      val stream = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .withWatermark("ts", watermarkDelay)
        .as[Event]
      val q = sessionizeTws(stream, gapMs)
        .filter(_.user_id >= 0)
        .toDF()
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
    spark.table(queryName)
  }

  /** Run the incremental sessionizer over a staged spool dir to completion
    * — the REAL streaming path (file source, one file per micro-batch in
    * mtime order, state store carrying open sessions between batches,
    * event-time timeouts closing them). The spool's trailing
    * watermark-flush sentinel rows (negative user ids) are dropped from
    * the result; with them the final watermark passes every real
    * session's end+gap, so the output equals `sessionizeBatch` on the
    * same events.
    *
    * `watermarkDelay` must cover the spool's full time span: files are
    * ordered by mtime, not by data, so a smaller delay could drop
    * boundary events as late.
    */
  def runSessionizeOnce(spark: SparkSession, dir: String, queryName: String,
      gapMs: Long, watermarkDelay: String = "35 days"): DataFrame = {
    import spark.implicits._
    StreamConf.withWidth(spark) {
      val stream = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .withWatermark("ts", watermarkDelay)
        .as[Event]
      val q = sessionizeIncremental(stream, gapMs)
        .filter(_.user_id >= 0)
        .toDF()
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** CDC-into-table: run a file-source spool through `Upsert.merge` +
    * `writeSwap` one micro-batch at a time — batch import semantics
    * applied INCREMENTALLY, the canonical shape for a continuously
    * imported content type (each arriving file updates-or-creates by
    * `key` against the live table). Returns total (created, updated)
    * summed across micro-batches: each batch's counters are snapshotted
    * BEFORE its swap by `writeSwap`'s default, so the sum is the pre-swap
    * truth per batch by construction.
    *
    * The result after the whole spool equals ONE batch merge of the
    * concatenated files (last file wins per key) — the equivalence the
    * `x_stream_upsert` oracle checks end-to-end.
    *
    * `tableDir` is deleted first: the run IS the table's history, so a
    * leftover generation from an earlier run would corrupt both the
    * content and the created/updated split.
    */
  /** Streaming KMV distinct-sketch maintenance: per micro-batch, the
    * batch's distinct (group, hash) pairs TRIMMED to each group's k
    * smallest (a delta of ≤ |groups|·k rows regardless of batch size),
    * published exactly once into an append-only delta store
    * ([[DocStreams.publishDeltaExactlyOnce]] — the CMS discipline).
    * K-min is associative — the k smallest of a union are each among
    * their own batch's k smallest — so [[readKmvEstimates]]
    * re-minimizing the union equals the one-shot batch sketch EXACTLY;
    * the `x_stream_distinct_kmv` gate pins that equality. Store deleted
    * at run start (a run owns its history, [[runUpsertOnce]]'s
    * contract).
    */
  def runKmvAppendOnce(spark: SparkSession, spoolDir: String,
      storeDir: String, groupCol: String, valueCol: String, k: Int): Unit = {
    graft.util.Hfs.delete(spark, storeDir)
    // run-start generation: a mid-run rebuild bumps the stamp and the
    // next publish refuses (DocStreams.storeGeneration)
    val gen0 = DocStreams.storeGeneration(spark, storeDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!graft.util.Hfs.exists(spark, s"$storeDir/_batch_$batchId")) {
            // bounded map-side k-min trim (graft.plans.KMinSetAgg via
            // Sketch.kminTrim): identical rows to the old distinct +
            // window cut, without shuffling the batch's distinct hashes
            val trimmed = graft.ext.Sketch.kminTrim(
              batch.toDF().select(col(groupCol).as("__g"),
                graft.ext.PortableHash.md5Prefix15(col(valueCol)).as("__h")),
              k)
            DocStreams.publishDeltaExactlyOnce(spark, storeDir, trimmed, batchId, gen0)
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** Estimates over a [[runKmvAppendOnce]] store: union the trimmed
    * deltas, re-minimize, estimate — (`groupCol`, `est_distinct`).
    */
  def readKmvEstimates(spark: SparkSession, storeDir: String,
      groupCol: String, k: Int): DataFrame =
    graft.ext.Sketch.kmvFromHashes(
      graft.util.TinyParquet.openStore(spark, s"$storeDir/deltas")
        .select(col("__g").as(groupCol), col("__h")),
      groupCol, k)

  /** Deletion semantics for the KMV store: k-min retains only order
    * statistics, so — unlike the CMS's associative counters
    * ([[graft.streaming.DocStreams.publishCmsDelete]]) — a deletion
    * CANNOT be expressed as a delta (the sketch can't un-see a
    * minimum). The production answer is rebuild-on-cadence: recompute
    * the per-group k smallest hashes from the LIVE set in one shot and
    * swap-publish them as the store's single delta (generation 0).
    * Between a delete and the next rebuild the estimates are STALE-HIGH
    * by exactly the deleted values still counted — the staleness bound
    * is the rebuild cadence, and monitoring consumers read it as such.
    * One counting pass over the live set (the same distinct + k-trim
    * shape as the per-batch path); the swap is crash-safe
    * ([[graft.operators.Upsert.swapDirs]]). Like every maintenance op,
    * serialize against a running append stream of the same store: the
    * swap resets the batch markers with the generation, so a replayed
    * pre-rebuild batch would re-publish stale minima into the fresh
    * store.
    */
  def rebuildKmvStore(spark: SparkSession, storeDir: String,
      live: DataFrame, groupCol: String, valueCol: String, k: Int): Unit = {
    val trimmed = graft.ext.Sketch.kminTrim(
      live.select(col(groupCol).as("__g"),
        graft.ext.PortableHash.md5Prefix15(col(valueCol)).as("__h")),
      k)
    val tmp = storeDir + ".rebuild-" + System.nanoTime()
    trimmed.coalesce(1).write.mode("overwrite").parquet(s"$tmp/deltas")
    graft.util.Hfs.touch(spark, s"$tmp/_batch_r0")
    // generation stamp: a publish from a run that started before this
    // swap now refuses instead of re-appending deleted minima
    // ([[DocStreams.storeGeneration]])
    graft.util.Hfs.writeString(spark, s"$tmp/_generation",
      (DocStreams.storeGeneration(spark, storeDir) + 1).toString)
    graft.operators.Upsert.swapDirs(tmp, storeDir)
  }

  /** Streaming drift-monitor maintenance: per micro-batch, the arriving
    * events' fixed-domain bin counts (the [[graft.ext.Stats.psi]]
    * binning — data-independent edges, so every batch bins identically)
    * publish exactly once into a delta store. Bin counts are
    * associative, so the summed store equals one-shot batch binning
    * cell for cell, and [[readDriftPsi]] against a frozen reference
    * computes the same PSI a batch recomputation would — the scheduled
    * production monitor becomes a store read instead of a corpus scan.
    * Store deleted at run start (a run owns its history).
    */
  def runDriftCountsOnce(spark: SparkSession, spoolDir: String,
      storeDir: String, groupCol: String, valueCol: String,
      bins: Int, lo: Double, hi: Double,
      rowFilter: org.apache.spark.sql.Column = lit(true)): Unit = {
    require(bins > 0, s"bins must be positive: $bins")
    require(hi > lo, s"empty bin domain: [$lo, $hi)")
    graft.util.Hfs.delete(spark, storeDir)
    // run-start generation: a mid-run rebuild bumps the stamp and the
    // next publish refuses (DocStreams.storeGeneration)
    val gen0 = DocStreams.storeGeneration(spark, storeDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!graft.util.Hfs.exists(spark, s"$storeDir/_batch_$batchId")) {
            val delta = batch.toDF()
              .filter(rowFilter)
              .filter(col(valueCol).isNotNull)
              .select(col(groupCol).as("__g"),
                graft.ext.Stats.binExpr(col(valueCol), bins, lo, hi).as("__b"))
              .groupBy(col("__g"), col("__b"))
              .agg(count(lit(1)).as("__n"))
            DocStreams.publishDeltaExactlyOnce(spark, storeDir, delta, batchId, gen0)
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** Streaming annotation-log maintenance for label aggregation: each
    * micro-batch's (item, annotator, label) ballots reduce to count
    * deltas published exactly once — the count-compressed log is a
    * table of ASSOCIATIVE counters, so
    * [[graft.ext.Labels.weightedMajorityFromCounts]] over the summed
    * store fits the identical two-round weighted majority as the batch
    * [[graft.ext.Labels.weightedMajority]] over the raw log
    * (x_stream_label_wmv pins streamed == batch through both vote
    * rounds). Store deleted at run start (a run owns its history).
    */
  def runLabelCountsOnce(spark: SparkSession, spoolDir: String,
      storeDir: String, item: org.apache.spark.sql.Column,
      annotator: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column,
      rowFilter: org.apache.spark.sql.Column = lit(true)): Unit = {
    graft.util.Hfs.delete(spark, storeDir)
    // run-start generation: a mid-run rebuild bumps the stamp and the
    // next publish refuses (DocStreams.storeGeneration)
    val gen0 = DocStreams.storeGeneration(spark, storeDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!graft.util.Hfs.exists(spark, s"$storeDir/_batch_$batchId")) {
            val delta = batch.toDF().filter(rowFilter)
              .select(item.as("item"), annotator.as("annotator"),
                label.as("label"))
              .groupBy(col("item"), col("annotator"), col("label"))
              .agg(count(lit(1)).as("n"))
            DocStreams.publishDeltaExactlyOnce(spark, storeDir, delta, batchId, gen0)
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** The summed count-compressed annotation log of a
    * [[runLabelCountsOnce]] store — the frame
    * [[graft.ext.Labels.weightedMajorityFromCounts]] consumes.
    */
  def readLabelCounts(spark: SparkSession, storeDir: String): DataFrame =
    graft.util.TinyParquet.openStore(spark, s"$storeDir/deltas")
      .groupBy(col("item"), col("annotator"), col("label"))
      .agg(sum(col("n")).as("n"))

  /** Streaming quantile-summary maintenance
    * ([[graft.ext.Sketch.QuantileSummary]]): each micro-batch's rows map
    * to (level, value) items, the batch takes its OWN capacity cut, and
    * the trimmed items publish exactly once with the batch's cut level
    * as the merge floor (`min_lvl`). Level cuts only deepen under
    * union, so the re-cut union of the trimmed deltas equals the
    * one-shot summary over the whole log BIT FOR BIT (the KMV
    * "per-batch-trimmed deltas re-minimized" argument, on the level
    * ladder — x_stream_quantile_sketch pins it; merge associativity is
    * spec-pinned). Store deleted at run start (a run owns its history).
    */
  def runQuantileSketchOnce(spark: SparkSession, spoolDir: String,
      storeDir: String, key: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, k: Int,
      rowFilter: org.apache.spark.sql.Column = lit(true),
      maxLevel: Int = 20): Unit = {
    graft.util.Hfs.delete(spark, storeDir)
    // run-start generation: a mid-run rebuild bumps the stamp and the
    // next publish refuses (DocStreams.storeGeneration)
    val gen0 = DocStreams.storeGeneration(spark, storeDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!graft.util.Hfs.exists(spark, s"$storeDir/_batch_$batchId")) {
            val items = graft.ext.Sketch.quantileLevelItems(
              batch.toDF().filter(rowFilter), key, value, maxLevel)
            val s = graft.ext.Sketch.quantileSelect(items, k, 0, maxLevel)
            DocStreams.publishDeltaExactlyOnce(spark, storeDir,
              s.items.withColumn("min_lvl", lit(s.level)), batchId, gen0)
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** The re-cut summary of a [[runQuantileSketchOnce]] store: union the
    * trimmed deltas, floor the cut at the deepest batch trim, re-select
    * at the same capacity. Equals the one-shot summary over the full
    * log exactly.
    */
  def readQuantileSketch(spark: SparkSession, storeDir: String, k: Int,
      maxLevel: Int = 20,
      valueType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType)
      : graft.ext.Sketch.QuantileSummary = {
    // a store with zero published batches has no deltas/ path, and one
    // whose rowFilter excluded every row has deltas but a NULL max —
    // both are legitimately-empty summaries (level 0, no items), not
    // read crashes. The empty summary's `__v` takes `valueType` (the
    // caller's value-expression type; every gate sketches a long) so
    // its schema unions/merges cleanly against a NON-empty store of the
    // same family — a hardcoded double here made quantileMerge against
    // an empty store a schema mismatch.
    if (!graft.util.Hfs.exists(spark, s"$storeDir/deltas"))
      return graft.ext.Sketch.QuantileSummary(0,
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__lvl",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("__v", valueType)))))
    // EAGER deliberately (the quantileSelect r22 A/B lesson: the lazy
    // materialize-inside-the-agg fusion read slower, not faster)
    val d = graft.util.TinyParquet.openStore(spark, s"$storeDir/deltas")
      .localCheckpoint(eager = true) // floor read + re-cut share it
    val minLevel = d.agg(coalesce(max(col("min_lvl")), lit(0)))
      .head().getInt(0)
    graft.ext.Sketch.quantileSelect(d.select(col("__lvl"), col("__v")),
      k, minLevel, maxLevel)
  }

  /** Deletion semantics for the quantile-summary store: like KMV's
    * k-min ([[rebuildKmvStore]]), ORDER STATISTICS CANNOT SUBTRACT — a
    * deleted row's level item cannot be un-seen by any delta — so the
    * takedown contract is rebuild-on-cadence: one-shot summary over the
    * LIVE set, swap-published as the store's single generation-0 delta
    * with its cut level as the merge floor. Between a delete and the
    * next rebuild the summary's rank estimates are STALE by exactly the
    * deleted rows still counted; the staleness bound is the rebuild
    * cadence, and monitoring consumers read it as such. The swap is
    * crash-safe ([[graft.operators.Upsert.swapDirs]]). Like every
    * maintenance op, serialize against a running append stream of the
    * same store: the swap resets the batch markers with the generation,
    * so a replayed pre-rebuild batch would re-publish deleted items
    * into the fresh store. Reachable from
    * [[graft.ext.CascadeDelete.forget]] via a
    * [[graft.ext.QuantileStoreTarget]] (x_stream_qsketch_forget pins
    * post-forget store == one-shot summary of the survivors).
    */
  def rebuildQuantileStore(spark: SparkSession, storeDir: String,
      live: DataFrame, key: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, k: Int,
      maxLevel: Int = 20): Unit = {
    val s = graft.ext.Sketch.quantileSketch(live, key, value, k, maxLevel)
    val tmp = storeDir + ".rebuild-" + System.nanoTime()
    s.items.withColumn("min_lvl", lit(s.level))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/deltas")
    graft.util.Hfs.touch(spark, s"$tmp/_batch_r0")
    // generation stamp: a publish from a run that started before this
    // swap now refuses instead of re-appending deleted items
    // ([[DocStreams.storeGeneration]])
    graft.util.Hfs.writeString(spark, s"$tmp/_generation",
      (DocStreams.storeGeneration(spark, storeDir) + 1).toString)
    graft.operators.Upsert.swapDirs(tmp, storeDir)
  }

  /** Streaming preference-matrix maintenance: each micro-batch's events
    * resolve to complete (winner, loser) games (both sides derived from
    * the SAME row — a game never straddles batches), aggregate to
    * win-matrix deltas, and publish exactly once into the shared delta
    * store. Matrix cells are associative counters, so the summed store
    * equals the one-shot batch matrix cell for cell and
    * [[graft.ext.Preference.bradleyTerryFromMatrix]] fits identical
    * strengths from it — the preference leaderboard becomes a store
    * read plus a counter-sized MM fit instead of a pair-log rescan
    * (x_stream_rank_bt pins streamed == batch through the full fit).
    * Store deleted at run start (a run owns its history).
    */
  def runWinMatrixOnce(spark: SparkSession, spoolDir: String,
      storeDir: String, winner: org.apache.spark.sql.Column,
      loser: org.apache.spark.sql.Column,
      rowFilter: org.apache.spark.sql.Column = lit(true)): Unit = {
    graft.util.Hfs.delete(spark, storeDir)
    // run-start generation: a mid-run rebuild bumps the stamp and the
    // next publish refuses (DocStreams.storeGeneration)
    val gen0 = DocStreams.storeGeneration(spark, storeDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!graft.util.Hfs.exists(spark, s"$storeDir/_batch_$batchId")) {
            val games = batch.toDF().filter(rowFilter)
              .select(winner.as("winner"), loser.as("loser"))
              .filter(col("winner") =!= col("loser"))
            val delta = graft.ext.Preference.winMatrix(games, "winner", "loser")
            DocStreams.publishDeltaExactlyOnce(spark, storeDir, delta, batchId, gen0)
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** The summed win matrix of a [[runWinMatrixOnce]] store — the frame
    * [[graft.ext.Preference.bradleyTerryFromMatrix]] consumes.
    */
  def readWinMatrix(spark: SparkSession, storeDir: String): DataFrame =
    graft.util.TinyParquet.openStore(spark, s"$storeDir/deltas")
      .groupBy(col("item"), col("opp"))
      .agg(sum(col("n_games")).as("n_games"),
        sum(col("n_wins_vs_opp")).as("n_wins_vs_opp"))

  /** Streaming classifier-separability monitoring: per micro-batch the
    * arriving rows' (group, score, label) collapse to score-HISTOGRAM
    * deltas published exactly once; histogram cells are associative
    * counters, so [[graft.ext.Eval.groupedAucFromHistogram]] over the
    * summed store equals the batch AUC over the same log EXACTLY — the
    * "is the quality scorer still separating" dashboard becomes a store
    * read instead of a corpus scan (x_stream_eval_auc pins streamed ==
    * batch through the full Mann-Whitney arithmetic). Store deleted at
    * run start (a run owns its history).
    */
  def runScoreHistogramOnce(spark: SparkSession, spoolDir: String,
      storeDir: String, group: org.apache.spark.sql.Column,
      score: org.apache.spark.sql.Column, label: org.apache.spark.sql.Column,
      rowFilter: org.apache.spark.sql.Column = lit(true)): Unit = {
    graft.util.Hfs.delete(spark, storeDir)
    // run-start generation: a mid-run rebuild bumps the stamp and the
    // next publish refuses (DocStreams.storeGeneration)
    val gen0 = DocStreams.storeGeneration(spark, storeDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!graft.util.Hfs.exists(spark, s"$storeDir/_batch_$batchId")) {
            val delta = batch.toDF().filter(rowFilter)
              .select(group.as("__g"), score.as("__s"), label.as("__pos"))
              .groupBy(col("__g"), col("__s"))
              .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__np"),
                sum(when(col("__pos"), 0L).otherwise(1L)).as("__nn"))
            DocStreams.publishDeltaExactlyOnce(spark, storeDir, delta, batchId, gen0)
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** The summed score histogram of a [[runScoreHistogramOnce]] store,
    * keyed back to `groupCol` — the frame
    * [[graft.ext.Eval.groupedAucFromHistogram]] consumes.
    */
  def readScoreHistogram(spark: SparkSession, storeDir: String,
      groupCol: String): DataFrame =
    graft.util.TinyParquet.openStore(spark, s"$storeDir/deltas")
      .groupBy(col("__g").as(groupCol), col("__s"))
      .agg(sum(col("__np")).as("__np"), sum(col("__nn")).as("__nn"))

  /** PSI of the streamed bin-count store (CURRENT side) against a
    * frozen REFERENCE frame, via the shared
    * [[graft.ext.Stats.psiFromBinCounts]] arithmetic. Output matches
    * [[graft.ext.Stats.psi]]: (`groupCol`, `n_ref`, `n_cur`, `psi`).
    */
  def readDriftPsi(spark: SparkSession, storeDir: String,
      ref: DataFrame, groupCol: String, valueCol: org.apache.spark.sql.Column,
      bins: Int, lo: Double, hi: Double, eps: Double = 0.5,
      roundDp: Option[Int] = Some(6)): DataFrame =
    graft.ext.Stats.psiFromBinCounts(
        driftCounts(spark, storeDir, ref, groupCol, valueCol, bins, lo, hi),
        bins, eps, roundDp)
      .withColumnRenamed("__g", groupCol)

  /** KS against the same streamed store — one store, both monitors (the
    * batch psi/ks pairing carried over to the streaming side). */
  def readDriftKs(spark: SparkSession, storeDir: String,
      ref: DataFrame, groupCol: String, valueCol: org.apache.spark.sql.Column,
      bins: Int, lo: Double, hi: Double): DataFrame =
    graft.ext.Stats.ksFromBinCounts(
        driftCounts(spark, storeDir, ref, groupCol, valueCol, bins, lo, hi))
      .withColumnRenamed("__g", groupCol)

  /** (group, bin) counts: frozen reference binned batch-side ∪ the
    * summed delta store as the CURRENT side. */
  private def driftCounts(spark: SparkSession, storeDir: String,
      ref: DataFrame, groupCol: String, valueCol: org.apache.spark.sql.Column,
      bins: Int, lo: Double, hi: Double): DataFrame = {
    val refCounts = ref.filter(valueCol.isNotNull)
      .select(col(groupCol).as("__g"),
        graft.ext.Stats.binExpr(valueCol, bins, lo, hi).as("__b"))
      .groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__nr"), lit(0L).as("__nc"))
    // an empty spool publishes zero delta files, so the deltas dir may
    // not exist — that is an all-reference monitor reading, not an
    // error (r13 ADVICE): substitute an empty current side
    val cur =
      if (graft.util.Hfs.exists(spark, s"$storeDir/deltas"))
        graft.util.TinyParquet.openStore(spark, s"$storeDir/deltas")
          .groupBy(col("__g"), col("__b"))
          .agg(sum(col("__n")).as("__nc"), lit(0L).as("__nr"))
      else refCounts.limit(0).select(col("__g"), col("__b"),
        col("__nc"), col("__nr"))
    refCounts.unionByName(cur)
      .groupBy(col("__g"), col("__b"))
      .agg(sum(col("__nr")).as("__nr"), sum(col("__nc")).as("__nc"))
  }

  def runUpsertOnce(spark: SparkSession, spoolDir: String, tableDir: String,
      key: String): (Long, Long) = {
    graft.util.Hfs.delete(spark, tableDir)
    var created = 0L
    var updated = 0L
    StreamConf.withWidth(spark) {
      runUpsertStream(spark, spoolDir, tableDir, key,
        (c, u) => { created += c; updated += u })
    }
    (created, updated)
  }

  private def runUpsertStream(spark: SparkSession, spoolDir: String, tableDir: String,
      key: String, onBatch: (Long, Long) => Unit): Unit = {
    val stream = spark.readStream
      .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
      .option("maxFilesPerTrigger", "1")
      .parquet(spoolDir)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // recover a half-finished swap BEFORE the existence check: a
        // missing dir with a .bak is the crashed-swap state, not an
        // empty table (Upsert.restoreIfCrashed doc)
        graft.operators.Upsert.restoreIfCrashed(tableDir)
        val target =
          if (graft.util.Hfs.exists(spark, tableDir))
            graft.util.TinyParquet.openStore(spark, tableDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        val r = graft.operators.Upsert.merge(target, batch.toDF(), key, upsert = true)
        graft.operators.Upsert.writeSwap(spark, r, tableDir, snapshotCounters = true)
        // the swap replaced files under the SAME path: drop any cached
        // file listing so the next batch's read sees the new generation
        spark.catalog.refreshByPath(tableDir)
        onBatch(r.created, r.updated)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  def sessionize(events: org.apache.spark.sql.Dataset[Event], gapMs: Long): DataFrame = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            if (st == null) st = SessionState(t, t, 0L, 0.0)
            else if (t - st.end > gapUs) {
              out += Session(userId, fromMicros(st.start), fromMicros(st.end), st.n, st.total)
              st = SessionState(t, t, 0L, 0.0)
            }
            st = SessionState(st.start, t, st.n + 1, st.total + e.value)
          }
          if (st != null) {
            // batch semantics: close the trailing session at end of group
            out += Session(userId, fromMicros(st.start), fromMicros(st.end), st.n, st.total)
            state.remove()
          }
          out.iterator
      }.toDF()
  }
}
