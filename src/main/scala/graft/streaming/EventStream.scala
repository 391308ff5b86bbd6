package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming view of the events table: the honest Spark
  * equivalent of the reference's event-triggered batch + IS_NEW flag
  * machine (SURVEY §2.9) — checkpointed incremental consumption instead
  * of flag columns.
  */
object EventStream {

  /** events.parquet physical schema, parameterized on the on-disk type
    * of `ts` — TIMESTAMP(NANOS) generations surface as LongType under
    * nanosAsLong; TIMESTAMP(MICROS, isAdjustedToUTC=false) generations
    * surface as TimestampNTZType. */
  def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scan of the events files under `dir`, with `ts`
    * normalized to session-TZ TimestampType regardless of which
    * physical generation is on disk. The file-stream source requires a
    * static schema, so the on-disk `ts` type is sniffed once at plan
    * time via a driver-side batch footer read (cheap, metadata-only)
    * and the matching normalization applied — the same branch the batch
    * path takes in [[graft.Queries.normalizeEventTs]]. */
  def readStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet"): DataFrame = {
    val tsType = spark.read.option("pathGlobFilter", glob)
      .parquet(dir).schema("ts").dataType
    val raw = spark.readStream
      .schema(rawSchema(tsType))
      // file-stream source needs a directory; select just the events file
      .option("pathGlobFilter", glob)
      .parquet(dir)
    graft.Queries.normalizeEventTs(raw)
  }

  /** Tumbling 1-hour aggregation with a watermark; `complete` mode so
    * open windows are still emitted (needed for batch-equality checks). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(14, 2))).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based (30 min) session windows via Spark's native
    * `session_window` streaming aggregation — the streaming twin of the
    * batch window-pass sessionization (q38). Session boundary follows
    * session_window semantics: an event at exactly `prevTs + gap`
    * starts a NEW session (the window interval is [start, maxTs+gap)).
    * Emits (user, session_start_us = min event, session_end_us = max
    * event, n_events); state is per (user, open session) and evicted by
    * the watermark in production (complete mode here retains it for the
    * batch-equality check). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("session_start_us"),
        max(unix_micros(col("ts"))).as("session_end_us"))
      .select(col("user_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"))

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the following 30 minutes. Two independent
    * checkpointed streams; the event-time range condition bounds the
    * join state (watermark + interval let Spark evict rows that can no
    * longer match), so state is O(events in the watermark horizon),
    * not O(stream) — the scale-correct shape for stream-stream joins.
    * Inner joins emit eagerly, so an AvailableNow drain yields exactly
    * the batch join's rows. */
  def purchaseClickJoin(spark: SparkSession, dir: String): DataFrame = {
    val a = readStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val b = readStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("b_user"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    a.join(b,
        col("user_id") === col("b_user") &&
          col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        unix_micros(col("a_ts")).as("purchase_us"),
        unix_micros(col("b_ts")).as("click_us"))
  }

  /** Left-outer stream-stream interval join: purchases with no click
    * in the following `interval` emit once the watermark proves no
    * match can still arrive — null-padded, exactly once. Same bounded
    * state as [[purchaseClickJoin]]; the semantic difference is the
    * flush-on-watermark contract, which only fires when BOTH sides'
    * watermarks pass the row's horizon (the global watermark is the
    * min). Finite sources therefore never flush their final horizon —
    * this operator is for live pipelines; the spec drives it in two
    * phases with a watermark-advancing tail batch. */
  def purchaseClickLeftOuter(spark: SparkSession, dir: String,
      watermark: String = "10 minutes",
      interval: String = "INTERVAL 30 MINUTES",
      glob: String = "events.parquet"): DataFrame = {
    val a = readStream(spark, dir, glob)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = readStream(spark, dir, glob)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("b_user"), col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b,
        col("user_id") === col("b_user") &&
          col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr(interval),
        "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        unix_micros(col("a_ts")).as("purchase_us"),
        unix_micros(col("b_ts")).as("click_us"))
  }

  /** Drive [[purchaseClickLeftOuter]] to a FLUSHED terminal state over
    * a finite fixture (the contract a live pipeline gets from advancing
    * watermarks, reproduced deterministically):
    *   phase 1 — the real purchase/click traffic for a bounded user
    *     subset, as the first micro-batch;
    *   phase 2 — a sentinel tail 2 h past the last real event (one
    *     click then one purchase for an out-of-range user, ordered so
    *     they cannot match each other), advancing BOTH sides'
    *     watermarks past every real purchase's no-match horizon
    *     (ts + join interval + watermark delay);
    *   phase 3 — one no-op row (filtered out pre-join) whose batch
    *     applies the phase-2 watermark for state eviction.
    * Every unmatched real purchase is then flushed null-padded exactly
    * once, so the drained sink restricted to real users equals the
    * BATCH left join over the same prefix — which is what the DuckDB
    * oracle checks (q194).
    *
    * State partitions are sized to the fixture's key cardinality (50
    * users): a stream-stream join pays 4 state stores × partitions ×
    * micro-batches in commit overhead, so oversizing partitions costs
    * real wall-clock (8 → 4 cut the drain ~20% with identical output —
    * the same sizing rule runHourlyToCompletion documents). */
  def runLeftOuterFlush(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_louter",
      maxUser: Long = 50L, statePartitions: Int = 4): DataFrame = {
    import spark.implicits._
    val scratch = graft.Scratch.dir("graft_souter")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val e = graft.Queries.events(spark, dir)
      .filter(col("user_id") < maxUser &&
        col("event_type").isin("purchase", "click"))
      .select(cols.map(col): _*)
    e.write.mode("append").parquet(scratch)
    val maxTs = e.agg(max(col("ts"))).head().getTimestamp(0)
    // A fixture regeneration that changes user-id ranges or event types
    // could empty the slice; fail with a diagnosable message instead of
    // an NPE on maxTs.getTime below.
    require(maxTs != null,
      s"runLeftOuterFlush: no purchase/click events with user_id < $maxUser " +
        s"in $dir — fixture changed?")
    def tail(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (id, offsetSec, uid, typ) =>
        (id, new java.sql.Timestamp(maxTs.getTime + offsetSec * 1000L),
          uid, typ, 0.0, "{}")
      }.toDF(cols: _*).coalesce(1).write.mode("append").parquet(scratch)
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val q = purchaseClickLeftOuter(spark, scratch, glob = "*.parquet")
        .writeStream.outputMode("append").format("memory")
        .queryName(queryName).start()
      try {
        q.processAllAvailable()
        tail(Seq((-1L, 7200L, 999999L, "click"),
          (-2L, 7201L, 999999L, "purchase")))
        q.processAllAvailable()
        tail(Seq((-3L, 7202L, 999998L, "noop")))
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.table(queryName).filter(col("user_id") < maxUser)
  }

  /** Built-in watermark-bounded streaming dedup: one surviving row per
    * (user_id, event_type) with state kept only inside the watermark
    * horizon — the contract that makes infinite-stream dedup feasible
    * (state is O(keys per window), not O(stream); q48's custom TTL
    * state machine is the hand-rolled equivalent). Only the key
    * columns are emitted (WHICH physical row survives is
    * arrival-order-dependent), plus the per-key EMISSION COUNT from
    * the sink — the fixture is a single file = a single micro-batch,
    * so the operator must emit each key exactly once, and a regressed
    * dedup that re-emits duplicates shows up as n_emitted > 1 instead
    * of being silently collapsed. (On a live multi-batch stream, a key
    * reappearing after its state expired past the horizon legitimately
    * re-emits — that is the bounded-state trade.) */
  def runDedupWithinWatermark(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_ddw",
      statePartitions: Int = 8): DataFrame = {
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val q = readStream(spark, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
        .writeStream.outputMode("append").format("memory")
        .queryName(queryName).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_emitted"))
  }

  /** CHAINED stateful operators in ONE streaming query — watermarked
    * dedup feeding a session-window aggregation — the Spark 4
    * multiple-stateful-operators shape (one checkpoint, one state
    * lifecycle, no intermediate sink): an at-least-once ingest bus is
    * deduped on event_id and sessionized in the same micro-batch
    * pipeline. Both states are horizon-bounded (dedup: keys within the
    * watermark; sessions: open sessions per user). Chained stateful
    * requires APPEND mode, so sessions only emit once the watermark
    * passes their close — on a finite fixture that final advance never
    * happens by itself, hence the q194-style two-phase drive: the real
    * (duplicated ×2) traffic first, then a sentinel event hours past
    * the horizon whose batch flushes every real session. The sink
    * restricted to real users must equal DISTINCT-then-sessionize over
    * the same prefix — which is exactly what the oracle computes, and
    * a regressed dedup doubles every n_events (hash-visible). */
  def runDedupThenSessions(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_ddsess",
      maxUser: Long = 50L, statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val scratch = graft.Scratch.dir("graft_ddsess")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val e = graft.Queries.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(cols.map(col): _*)
    // the at-least-once bus: every event delivered twice
    e.write.mode("append").parquet(scratch)
    e.write.mode("append").parquet(scratch)
    val maxTs = e.agg(max(col("ts"))).head().getTimestamp(0)
    require(maxTs != null,
      s"runDedupThenSessions: no events with user_id < $maxUser in $dir")
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val q = readStream(spark, scratch, glob = "*.parquet")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("session_start_us"),
          max(unix_micros(col("ts"))).as("session_end_us"))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
        .writeStream.outputMode("append").format("memory")
        .queryName(queryName).start()
      try {
        q.processAllAvailable()
        // sentinel 4 h past the last real event: its batch advances the
        // watermark past every real session's close
        Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 4 * 3600 * 1000L),
            999999L, "noop", 0.0, "{}"))
          .toDF(cols: _*).coalesce(1).write.mode("append").parquet(scratch)
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.table(queryName).filter(col("user_id") < maxUser)
  }

  /** CHAINED time-window aggregations in one streaming query — the
    * other canonical Spark 4 multiple-stateful-operators shape: a
    * 5-minute tumbling pre-aggregation re-aggregated into hours by
    * windowing over the 5-minute WINDOW COLUMN (`window(window, 1h)`).
    * This is the streaming rollup ladder every metrics pipeline wants
    * (fine state stays small and early, coarse state aggregates
    * pre-reduced rows — the map-side-combine idea applied across
    * stateful operators). Append mode + the sentinel-tail flush drive
    * as in [[runDedupThenSessions]]; the drained sink minus the
    * sentinel equals the batch two-level rollup the oracle runs. */
  def runChainedWindows(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_chained",
      statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val scratch = graft.Scratch.dir("graft_chw")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val e = graft.Queries.events(spark, dir).select(cols.map(col): _*)
    e.write.mode("append").parquet(scratch)
    val maxTs = e.agg(max(col("ts"))).head().getTimestamp(0)
    require(maxTs != null, s"runChainedWindows: no events in $dir")
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val q = readStream(spark, scratch, glob = "*.parquet")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n5"),
          sum(col("value").cast(DecimalType(14, 2))).as("v5"))
        .groupBy(window(col("window"), "1 hour"), col("event_type"))
        .agg(sum(col("n5")).as("n"), count(lit(1)).as("n_buckets"),
          sum(col("v5")).cast("double").as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:00")
            .as("hour"),
          col("event_type"), col("n"), col("n_buckets"), col("sum_value"))
        .writeStream.outputMode("append").format("memory")
        .queryName(queryName).start()
      try {
        q.processAllAvailable()
        Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 4 * 3600 * 1000L),
            999999L, "noop", 0.0, "{}"))
          .toDF(cols: _*).coalesce(1).write.mode("append").parquet(scratch)
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.table(queryName).filter(col("event_type") =!= "noop")
  }

  /** Drain the stream-stream join (append mode — inner joins emit as
    * matches arrive). */
  def runPurchaseClickJoin(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_join",
      statePartitions: Int = 8): DataFrame = {
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val q = purchaseClickJoin(spark, dir)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Drain the streaming sessionization over the static parquet —
    * same harness shape as [[runHourlyToCompletion]]. */
  def runSessionsToCompletion(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_sessions",
      statePartitions: Int = 8): DataFrame = {
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val q = sessionAgg(readStream(spark, dir))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Run the streaming hourly aggregation to completion over the static
    * parquet (memory sink, processAllAvailable) and return the result —
    * proves the streaming plan computes exactly what the batch plan
    * does. */
  def runHourlyToCompletion(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_hourly",
      statePartitions: Int = 8): DataFrame = {
    // State-store partition count is fixed by shuffle.partitions at
    // query start and every partition pays a delta+commit file per
    // micro-batch; size it to the state (hour×type cardinality), not
    // to the session's scan parallelism.
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val q = hourlyAgg(readStream(spark, dir))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }
}
