package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** Per-key running totals on `transformWithState` — Spark 4's
  * arbitrary-state v2 engine (SPARK-46815), the successor to
  * `flatMapGroupsWithState` used by [[StreamingDedup]]/[[EventStream]]:
  * typed named-state primitives (ValueState/ListState/MapState) with
  * per-state TTL, timers, and RocksDB-backed storage instead of one
  * opaque state object per key.
  *
  * The operator keeps a `ValueState[(count, sum)]` per key and emits
  * the key's updated totals once per micro-batch that touches it
  * (OutputMode.Update) — the streaming twin of a running
  * `groupBy(key).agg(count, sum)` whose intermediate states are
  * observable per batch. State is partitioned by key hash; each
  * micro-batch touches only the partitions its keys hash to, so state
  * I/O scales with batch key cardinality, not total key history —
  * the property that keeps this viable on an unbounded 100 TB stream.
  */
object StatefulCounters {

  /** Input record: a keyed measurement. */
  final case class Tick(key: Long, amount: Long, seq: Long)

  /** Output record: the key's running totals after a batch. */
  final case class Totals(key: Long, n: Long, total: Long)

  final class Proc extends StatefulProcessor[Long, Tick, Totals] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("totals",
        Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Tick],
        timerValues: TimerValues): Iterator[Totals] = {
      val prev = if (st.exists()) st.get() else (0L, 0L)
      var n = prev._1
      var total = prev._2
      rows.foreach { t => n += 1; total += t.amount }
      st.update((n, total))
      Iterator.single(Totals(key, n, total))
    }
  }

  /** Wire the processor onto a keyed stream. */
  def running(ds: Dataset[Tick]): Dataset[Totals] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .transformWithState(new Proc, TimeMode.None(), OutputMode.Update())
  }

  /** Oracle-gated two-phase drive over the events table (q203): the
    * events split into two micro-batches by event-id parity, so most
    * keys accumulate state ACROSS batches (the v2 state engine's whole
    * point); the memory sink then holds one Update-mode row per
    * (key, touched batch), and the FINAL state per key — the row with
    * the largest n, since n strictly grows per touched batch while
    * total may move either way (negative amounts are legal) — equals
    * the batch `groupBy(key).agg(count, sum)` the DuckDB oracle runs.
    * Amounts are decimal-exact cents so the totals hash-match. */
  def runEventTotals(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_totals",
      statePartitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    val scratch = graft.Scratch.dir("graft_tws")
    val e = graft.Queries.events(spark, dir).select(
      col("user_id").as("key"),
      (col("value").cast(org.apache.spark.sql.types.DecimalType(14, 2)) * 100)
        .cast("long").as("amount"),
      col("event_id").as("seq"))
    e.filter(col("seq") % 2 === 0).write.mode("append").parquet(scratch)
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString,
        "spark.sql.streaming.stateStore.providerClass" -> rocks) {
      import spark.implicits._
      val src = spark.readStream
        .schema(Encoders.product[Tick].schema)
        .parquet(scratch)
        .as[Tick]
      val q = running(src).toDF()
        .writeStream.outputMode("update").format("memory")
        .queryName(queryName).start()
      try {
        q.processAllAvailable()
        e.filter(col("seq") % 2 === 1).write.mode("append").parquet(scratch)
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.table(queryName)
      .groupBy(col("key"))
      .agg(max(col("n")).as("n"), max_by(col("total"), col("n")).as("total"))
  }

  /** Run over a parquet-backed stream to completion (memory sink).
    * transformWithState requires the RocksDB state store; the conf is
    * set for the query and restored after. */
  def runToCompletion(spark: SparkSession, inputDir: String,
      queryName: String = "graft_stateful_counters",
      statePartitions: Int = 8): DataFrame = {
    import spark.implicits._
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    Tuning.withLeanCheckpoints(spark,
        "spark.sql.shuffle.partitions" -> statePartitions.toString,
        "spark.sql.streaming.stateStore.providerClass" -> rocks) {
      val src = spark.readStream
        .schema(Encoders.product[Tick].schema)
        .parquet(inputDir)
        .as[Tick]
      val q = running(src)
        .toDF()
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }
}
