package graft

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The one place a Spark session is configured. Every entry point
  * (Bench, Verify, Profile, PlanAudit, RunPipeline) and the test base
  * start their session with [[start]], and every scoped conf override
  * in the engine goes through [[withConf]]. */
object GraftSession {

  /** The settings every session runs with, at `local[cpus]`. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // local FS without the per-file chmod fork (see GraftLocalFileSystem)
    "spark.hadoop.fs.file.impl" -> "graft.util.GraftLocalFileSystem",
    "spark.sql.adaptive.enabled" -> "true",
    // older events.parquet generations store ts as TIMESTAMP(NANOS):
    // read it as long (Queries.normalizeEventTs converts); harmless on
    // micros data
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // size-based post-shuffle coalescing: writes after a shuffle
    // produce right-sized files instead of one per shuffle partition
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // Long-lived-driver hygiene (one JVM runs the whole registry, three
    // passes): the default 100-entry codegen cache thrashes across
    // queries, so a warm-up pass's compilations are evicted before the
    // timed runs. Neither this nor the periodic GC below changes what a
    // query computes.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // Single-session driver: per-session artifact isolation (Spark 4
    // default) routes executor-side codegen class resolution through
    // an ExecutorClassLoader that PROBES the driver's RPC file server
    // for every unresolved name janino tries — thread dumps of slow
    // bench runs showed task threads serialized on that classloader
    // monitor inside FileDownloadChannel.read while the rest of the
    // JVM idled. No artifacts are ever added here; disable the
    // isolation machinery so codegen resolves classes in-process.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // broadcast/shuffle blocks of finished queries linger until a GC
    // lets the ContextCleaner's weak references fire; with a large heap
    // that is rare unless the cleaner asks for one
    "spark.cleaner.periodicGC.interval" -> "1min")

  /** `local[n]` width when the caller names none: `SPARK_GRAFT_CPUS`,
    * else 4. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** Start the session with [[settings]], or apply them to the one
    * already running. */
  def start(cpus: Int = defaultCpus): SparkSession = {
    val b = SparkSession.builder()
    settings(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One override of one key. Scopes that overlap and set the same key
    * to the same value share it: `saved` is the value from before the
    * first of them, restored when the last one exits. */
  private final class Frame(val value: String, var saved: Option[String]) {
    var holders = 1
  }

  /** Live overrides per (session, key), newest first. */
  private val frames =
    mutable.HashMap.empty[(SparkSession, String), List[Frame]]

  /** Run `body` with each `key -> value` set on `spark`'s session conf.
    * On exit, even when `body` throws, each key goes back to its old
    * value, or is unset if it was unset. Overlapping scopes (nested or
    * on other threads) that set a key to the same value share one saved
    * value, so one scope's exit never undoes the setting under another
    * scope still running. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    var held = List.empty[(String, Frame)]
    try {
      kvs.foreach { case (k, v) => held = (k, enter(spark, k, v)) :: held }
      body
    } finally held.foreach { case (k, f) => exit(spark, k, f) }
  }

  private def explicit(spark: SparkSession, k: String): Option[String] =
    Option(spark.conf.get(k, null))

  private def enter(spark: SparkSession, k: String, v: String): Frame =
    frames.synchronized {
      val stack = frames.getOrElse((spark, k), Nil)
      stack match {
        case top :: _ if top.value == v && explicit(spark, k).contains(v) =>
          top.holders += 1
          top
        case _ =>
          val f = new Frame(v, explicit(spark, k))
          spark.conf.set(k, v)
          frames((spark, k)) = f :: stack
          f
      }
    }

  private def exit(spark: SparkSession, k: String, f: Frame): Unit =
    frames.synchronized {
      f.holders -= 1
      if (f.holders == 0) {
        val stack = frames((spark, k))
        val i = stack.indexWhere(_ eq f)
        // the newest override restores the session; an older one that
        // ends first hands its saved value to the override above it,
        // which saved this one's value as its own
        if (i == 0) f.saved match {
          case Some(old) => spark.conf.set(k, old)
          case None => spark.conf.unset(k)
        } else stack(i - 1).saved = f.saved
        val rest = stack.patch(i, Nil, 1)
        if (rest.isEmpty) frames -= ((spark, k)) else frames((spark, k)) = rest
      }
    }
}
