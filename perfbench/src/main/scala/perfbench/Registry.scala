package perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** registry: the queries of `SparkEntry.queries` over the fixed seed-42
  * sf0.01 tables, in sorted order like `graft.Bench`, after a warm-up
  * pass at sf0.001. One query is one op; its row count is checked
  * against the DuckDB oracle's count stored with the benchmark. The only
  * workload that reaches `connector`, `operators`, `streaming` and
  * `functions`. The run's seed does not change this data.
  *
  * A full pass takes minutes, so a run measures an evenly spaced slice
  * of the sorted registry sized by the run length; both sides of a
  * comparison run the same slice. */
final class Registry(val ctx: RunCtx) extends Workload {
  import ctx.spark
  val opsPer10s = 8
  private val sf = ctx.data.resolve("sf0.01").toString
  private val warmSf = ctx.data.resolve("sf0.001").toString
  private val all = graft.SparkEntry.queries.toSeq.sortBy(_._1)
  private lazy val selected = {
    val n = math.min(super.nOps, all.size)
    (0 until n).map(k => all((k.toLong * all.size / n).toInt))
  }
  private val oracle: Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(ctx.data.resolve("oracle_counts.json").toFile)
    node.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  }
  val warmupFailures = mutable.LinkedHashMap.empty[String, String]
  private val scratch = new Warehouse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
    spark.sparkContext.hadoopConfiguration)
  private var written = 0L
  private var peakScratch = 0L
  private val inputs = {
    val s = Files.list(ctx.data.resolve("sf0.01"))
    try s.iterator().asScala.toVector.sortBy(_.getFileName.toString) finally s.close()
  }
  private val inputBytes: Long = inputs.map(Files.size).sum

  override def nOps: Int = selected.size

  /** Between queries and outside the timed window, as `graft.Bench`
    * does: unpersist cached blocks and drain scratch tables. */
  private def releaseResidue(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.Scratch.drain()
  }

  def setup(): Unit = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    inputs.foreach { p =>
      digest.update(p.getFileName.toString.getBytes("UTF-8"))
      digest.update(Files.readAllBytes(p))
    }
    ctx.inputHash = digest.digest().map(b => f"${b & 0xff}%02x").mkString
    spark.range(100000).selectExpr("sum(id)").collect()
    ctx.part("warmup") {
      selected.foreach { case (name, fn) =>
        try fn(spark, warmSf).count()
        catch { case t: Throwable => warmupFailures(name) = s"${t.getClass.getName}: ${t.getMessage}" }
        releaseResidue()
      }
    }
    scratch.newBytes()
  }

  def prepare(i: Int): Unit = ()

  def op(i: Int, traced: Boolean): OpResult = {
    val (name, fn) = selected(i)
    ctx.tracer.foreach(_.inOp(i))
    val t0 = System.nanoTime()
    val rows =
      try {
        if (traced) ctx.tracer.get.span("registry.query", name)(fn(spark, sf).count())
        else fn(spark, sf).count()
      } catch { case e: Throwable => return OpResult.failed(i, t0, traced, e, name) }
    val wall = (System.nanoTime() - t0) / 1e9
    val problem = oracle.get(name) match {
      case Some(want) if want != rows => s"$name: $rows rows, oracle $want"
      case None if rows < 1 => s"$name: no rows and no oracle count"
      case _ => ""
    }
    OpResult(i, wall, wall, problem.isEmpty, rows, traced, problem, name = name)
  }

  def after(i: Int): Unit = {
    val onDisk = scratch.totalBytes
    peakScratch = math.max(peakScratch, onDisk)
    written += scratch.newBytes()
    releaseResidue()
    scratch.newBytes()
  }

  def writeAmp: Double = written.toDouble / (inputBytes * nOps)
  def spaceAmp: Double = peakScratch.toDouble / inputBytes
  def describe: Map[String, Any] = Map(
    "queries" -> selected.map(_._1), "registry_size" -> all.size,
    "oracle_counts" -> selected.count(q => oracle.contains(q._1)),
    "warmup_failures" -> warmupFailures, "sf_dir" -> "perfbench/data/sf0.01",
    "warmup_sf_dir" -> "perfbench/data/sf0.001",
    "rows_per_s" -> "query result rows per second",
    "write_amp" -> "scratch bytes the queries wrote / input parquet bytes, per query",
    "space_amp" -> "peak scratch bytes on disk / input parquet bytes")
}
