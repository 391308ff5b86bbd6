package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming deduplication: emit each key's record the first
  * time it is seen, suppress replays across micro-batches, with
  * per-key state expiry so state size stays bounded (the property that
  * matters on an unbounded 100 TB stream — unexpired state is a leak).
  *
  * Built on `KeyValueGroupedDataset.flatMapGroupsWithState` — the
  * engine's custom-state primitive (SURVEY §2.9's honest upgrade path
  * for the reference's IS_NEW-style once-only consumption, when the
  * consumer is a stream rather than a batch).
  */
object StreamingDedup {

  final case class Keyed(key: Long, payload: String, seenAt: Long)

  /** First-seen filter over a stream of (key, payload, eventTimeMs).
    * State per key = first-seen timestamp; entries expire after
    * `stateTtlMs` of processing time. Pass `stateTtlMs = 0` to disable
    * expiry — required for synchronous drains (`processAllAvailable`
    * never returns while processing-time timeouts keep scheduling
    * wake-up batches); use a positive TTL only on continuously
    * triggered production streams. */
  def firstSeen(events: Dataset[Keyed], stateTtlMs: Long): Dataset[Keyed] = {
    import events.sparkSession.implicits._
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, Keyed](OutputMode.Append, timeout) {
        (key: Long, rows: Iterator[Keyed], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            Iterator.empty // replay — suppress
          } else {
            val first = rows.minBy(r => (r.seenAt, r.payload))
            state.update(first.seenAt)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            Iterator.single(first)
          }
      }
  }

  /** Run the dedup over a parquet-backed stream to completion and
    * return the emitted (first-seen) records. */
  def runToCompletion(spark: SparkSession, inputDir: String,
      queryName: String = "graft_stream_dedup",
      stateTtlMs: Long = 3600000,
      statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    // Size state-store partitioning to the key space, not the scan
    // parallelism — each partition writes a delta+commit file per
    // micro-batch (see EventStream.runHourlyToCompletion).
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val src = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Keyed].schema)
        .parquet(inputDir)
        .as[Keyed]
      val q = firstSeen(src, stateTtlMs)
        .toDF()
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }
}
