package graft.streaming

import org.apache.spark.sql.SparkSession

/** Scoped tuning for streaming drains (guide §1.2 step 3 — config only
  * after the algorithm and per-task work are right).
  *
  * Spark 4.1 generates AND awaits a checksum sidecar for every
  * checkpoint file (offset log, commit log, every state-store delta —
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled`, default
  * true). Driver thread-dump sampling during the streaming drains put
  * `ChecksumCheckpointFileManager.awaitResult` on top of the busy task
  * stacks: with S state stores × P state partitions × B micro-batches,
  * a drain pays O(S·P·B) extra file creations + waits, and for the
  * memory-sink fixtures that doubled the per-task wall clock while
  * moving < 2 MB of data.
  *
  * The checksum exists to DETECT checkpoint-file corruption. On
  * HDFS/local disks the filesystem already checksums blocks
  * (HDFS CRC32C; local page cache + device CRC), so the sidecar is
  * redundant there; on object stores without read-after-write
  * integrity it is worth its cost. The helper therefore disables it
  * scoped to the drain UNLESS the session sets
  * `graft.streaming.checkpointChecksum=true`, which restores the Spark
  * default — the right production setting for S3-style checkpoint
  * locations. */
object Tuning {

  /** Run `body` with lean checkpoint IO (checksum sidecars off unless
    * overridden) and the extra `confs`, restoring the previous session
    * values afterwards. */
  def withLeanCheckpoints[T](spark: SparkSession, confs: (String, String)*)(
      body: => T): T =
    graft.GraftSession.withConf(spark,
      ("spark.sql.streaming.checkpoint.fileChecksum.enabled" ->
        spark.conf.get("graft.streaming.checkpointChecksum", "false")) +:
        confs: _*)(body)
}
