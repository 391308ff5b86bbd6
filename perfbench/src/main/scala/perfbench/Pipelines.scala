package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.catalog.TableCatalog
import graft.config.{IngestConfig, IngestSpec}
import graft.plans._
import graft.sources.{ArchiveMover, CsvStageReader}

/** One (practice, file_type) drop: its shape and spec, where its
  * generated files live, and what the engine must make of them. */
final case class Drop(shape: Shape, spec: IngestSpec, source: Path, expect: DropExpect)

/** The medallion-pipeline workloads. Every op is one `Pipeline.run`
  * over one staged drop, in a closed loop with one client, the way the
  * reference's orchestrator chains one drop after another. Traced ops
  * drive the same stages in `Pipeline.run`'s order from here, with a
  * span around each stage. */
abstract class PipelineWorkload(val ctx: RunCtx) extends Workload {
  import ctx.{spark, work}
  protected val gen = new Generator(ctx.seed)
  protected val roles = mutable.HashMap("GRAFT.LOGS.INGEST_LOG" -> "log")
  protected val LogTable = "GRAFT.LOGS.INGEST_LOG"
  protected var inputBytes = 0L
  protected var writtenBytes = 0L
  protected val crmOps: org.apache.spark.util.LongAccumulator = spark.sparkContext.longAccumulator("crm_ops")
  protected val crmBatches: org.apache.spark.util.LongAccumulator = spark.sparkContext.longAccumulator("crm_batches")
  protected val sink = new CountingCrmSink(crmOps, crmBatches)

  protected def register(shapes: Seq[Shape]): Unit = shapes.foreach { s =>
    roles(s.table("RAW")) = "raw"; roles(s.table("REFINED")) = "refined"
    roles(s.table("CURATED")) = "curated"; roles(s.table("LOOKUP")) = "lookup"
  }

  protected def specs(shapes: Seq[Shape]): Map[(String, String), IngestSpec] = {
    val json = Gen.config(shapes)
    Files.write(work.resolve("practice_ingest_config.json"), json.getBytes("UTF-8"))
    IngestConfig.parse(json).practices.flatMap(p =>
      p.ingest.map(i => (p.practiceName, i.fileType) -> i)).toMap
  }

  protected def catalogAt(root: Path, traced: Boolean): (TableCatalog, Warehouse) = {
    val wh = new Warehouse(root, spark.sparkContext.hadoopConfiguration)
    val cat =
      if (traced) new TracingCatalog(spark, root.toString, ctx.tracer.get,
        fq => roles.getOrElse(fq, "other"), wh)
      else new TableCatalog(spark, root.toString)
    (cat, wh)
  }

  /** Appends the drops' lookup keys to their shape's lookup table. */
  protected def writeLookup(cat: TableCatalog, ds: Drop*): Unit = {
    import spark.implicits._
    ds.groupBy(_.shape.table("LOOKUP")).foreach { case (t, group) =>
      val keys = group.flatMap(_.expect.lookupKeys)
      if (keys.nonEmpty) cat.append(t, keys.toDF("KNOWN_ID"))
    }
  }

  /** Copies a drop's generated files into its stage dir. */
  protected def stage(d: Drop, stageDir: Path): Unit = {
    Files.createDirectories(stageDir)
    d.expect.files.foreach(f => Files.copy(d.source.resolve(f), stageDir.resolve(f),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING))
  }

  protected def stageDir(d: Drop): Path = work.resolve("stage").resolve(d.shape.practice).resolve(d.shape.fileType)
  protected def archiveDir(d: Drop): Path = work.resolve("archive").resolve(d.shape.practice).resolve(d.shape.fileType)
  protected def errorDir(d: Drop): Path = work.resolve("error").resolve(d.shape.practice).resolve(d.shape.fileType)

  /** Files in a dir, leaving out the filesystem's `.crc` sidecars. */
  private def count(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.count(!_.getFileName.toString.startsWith(".")).toLong
      finally s.close()
    }

  /** Runs one drop through the pipeline and checks the outcome against
    * the generator's expectation. */
  protected def runDrop(op: Int, d: Drop, cat: TableCatalog, stageAt: Path,
      archive: Option[Path], traced: Boolean): OpResult = {
    val notifier = new RecordingNotifier
    val rc = RunContext(notifier = notifier)
    val log = Some(new IngestLog(spark, cat, LogTable))
    val errors0 = count(errorDir(d))
    val (ops0, batches0) = (crmOps.value, crmBatches.value)
    val t0 = System.nanoTime()
    val paused0 = ctx.tracer.map(_.pausedTotalNs).getOrElse(0L)
    val results =
      try {
        if (traced) tracedRun(op, rc, d, cat, log, stageAt, archive)
        else new Pipeline(spark, cat, log, sink).run(rc, d.shape.practice, d.spec,
          stageAt.toString, Some(errorDir(d).toString), archive.map(_.toString))
      } catch { case e: Exception => return OpResult.failed(op, t0, traced, e) }
    val paused = ctx.tracer.map(_.pausedTotalNs).getOrElse(0L) - paused0
    val wall = (System.nanoTime() - t0) / 1e9
    // files leave the stage dir for the archive or, renamed, the error dir
    val moved = d.expect.files.count(f => !Files.exists(stageAt.resolve(f))).toLong
    val crm = crmOps.value - ops0
    val problems = check(d, results.toMap, crm, notifier, moved, count(errorDir(d)) - errors0,
      archive.isDefined)
    // REFINED consumes its batch, CURATED consumes what REFINED wrote
    val consumed = results.toMap.get("REFINED").map(2 * _.rowCount).getOrElse(0L)
    OpResult(op, wall, wall - paused / 1e9, problems.isEmpty,
      results.toMap.get("CURATED").map(_.rowCount).getOrElse(0L), traced,
      problems.mkString("; "), moved = moved, consumed = consumed, crmOps = crm,
      crmBatches = crmBatches.value - batches0)
  }

  private def check(d: Drop, r: Map[String, StageResult], crm: Long,
      notifier: RecordingNotifier, moved: Long, errored: Long, archiving: Boolean): Seq[String] = {
    val e = d.expect
    val p = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) p += s"$what: got $got, want $want"
    expect("precheck", r.get("PRECHECK").map(_.status), Some(if (e.precheckOk) "SUCCESS" else "FAILED"))
    if (!e.precheckOk) {
      expect("stages", r.keySet, Set("PRECHECK"))
      expect("precheck_failed notices", notifier.events.count(_._1 == "precheck_failed"), 1)
      expect("files moved", moved, 1L)
      expect("files in error dir", errored, 1L)
    } else {
      expect("raw rows", r.get("RAW").map(x => (x.status, x.rowCount)), Some(("SUCCESS", e.rows)))
      expect("refined rows", r.get("REFINED").map(x => (x.status, x.rowCount)), Some(("SUCCESS", e.rows)))
      expect("curated distribution", r.get("CURATED").map(x => (x.status, x.details)),
        Some(("SUCCESS", e.distribution)))
      expect("crm ops", crm, e.curated)
      if (archiving) expect("files archived", moved, e.files.size.toLong)
    }
    p.toSeq
  }

  /** `Pipeline.run`'s stage order, driven from here with a span per stage. */
  private def tracedRun(op: Int, rc: RunContext, d: Drop, cat: TableCatalog,
      log: Option[IngestLog], stageAt: Path, archive: Option[Path]): Seq[(String, StageResult)] = {
    val tr = ctx.tracer.get
    tr.inOp(op)
    val (practice, spec, dir) = (d.shape.practice, d.spec, stageAt.toString)
    val out = mutable.ArrayBuffer.empty[(String, StageResult)]
    val (ok, checks) = tr.span("plans.precheck") {
      val r = new PrecheckStage(spark, log).run(rc, practice, spec, dir, Some(errorDir(d).toString))
      tr.current.get.add("files", r._2.size)
      r
    }
    out += ("PRECHECK" -> StageResult(if (ok) "SUCCESS" else "FAILED", checks.size,
      s"${checks.values.flatten.count(_.failed)} failed checks"))
    if (!ok) return out.toSeq
    val raw = tr.span("plans.raw")(new RawStage(spark, cat, log).run(rc, practice, spec, dir))
    out += ("RAW" -> raw)
    if (raw.status == "SUCCESS") archive.foreach { ad =>
      tr.span("plans.archive") {
        ArchiveMover.moveAllToArchive(spark,
          CsvStageReader.listFiles(spark, dir, spec.source.filePattern).map(_.path), ad.toString)
        rc.notifier.notify("archived", Map("practice" -> practice))
      }
    }
    if (raw.status == "SUCCESS" && spec.target.refinedTable.isDefined) {
      val refined = tr.span("plans.refined")(new RefinedStage(spark, cat, log).run(rc, practice, spec))
      out += ("REFINED" -> refined)
      if (refined.status == "SUCCESS" && spec.target.curatedTable.isDefined)
        out += ("CURATED" -> tr.span("plans.curated") {
          new CuratedStage(spark, cat, log, sink).run(rc, practice, spec)
        })
    }
    out.toSeq
  }

  def writeAmp: Double = writtenBytes.toDouble / inputBytes
}

/** bulk_load: one initial load of a large multi-file drop into empty
  * tables per op. The most rows per op of the pipeline workloads: row
  * work (CSV parse, transforms, parquet writes, the lookup join, CRM
  * rendering) is most of an op, and catalog metadata stays trivial
  * because every op starts from an empty warehouse. */
final class BulkLoad(ctx: RunCtx) extends PipelineWorkload(ctx) {
  val opsPer10s = 1
  private val Rows = 24000
  private var drop: Drop = _
  private var spaceBytes = 0L
  private var lastWh: Option[(Path, Warehouse)] = None

  def setup(): Unit = {
    val shape = Gen.adcs
    register(Seq(shape))
    val spec = specs(Seq(shape))(shape.practice -> shape.fileType)
    val nFiles = ctx.cpus // one file per core: the CSV scan runs one task per file
    val src = ctx.work.resolve("inputs/bulk")
    drop = Drop(shape, spec, src,
      ctx.part("generate")(gen.drop(shape, src, "bulk", nFiles, Rows / nFiles)))
    ctx.inputHash = gen.inputHash
    ctx.part("warmup")(warmUp())
  }

  /** One small drop through every stage in a throwaway warehouse, so the
    * first timed op does not pay class loading and code generation. */
  private def warmUp(): Unit = {
    val w = new Generator(ctx.seed + 1)
    val src = ctx.work.resolve("inputs/warm")
    val d = Drop(drop.shape, drop.spec, src, w.drop(drop.shape, src, "warm", 1, 200))
    val (cat, _) = catalogAt(ctx.work.resolve("wh-warm"), traced = false)
    writeLookup(cat, d)
    runDrop(-1, d, cat, src, None, traced = false)
  }

  private def whFor(i: Int) = ctx.work.resolve(s"wh/op$i")

  def prepare(i: Int): Unit = {
    val (cat, wh) = catalogAt(whFor(i), traced = false)
    writeLookup(cat, drop)
    wh.newBytes() // the lookup table is set-up, not the op's writes
    lastWh = Some(whFor(i) -> wh)
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val (cat, _) = catalogAt(whFor(i), traced)
    inputBytes += drop.expect.bytes
    runDrop(i, drop, cat, drop.source, None, traced)
  }

  def after(i: Int): Unit = lastWh.foreach { case (root, wh) =>
    writtenBytes += wh.newBytes()
    spaceBytes += wh.totalBytes
    deleteTree(root)
  }

  def spaceAmp: Double = spaceBytes.toDouble / inputBytes
  def describe: Map[String, Any] = Map("rows_per_op" -> drop.expect.rows,
    "files_per_op" -> drop.expect.files.size, "input_bytes_per_op" -> drop.expect.bytes,
    "shape" -> drop.shape.practice)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
}

/** trickle: small single-file drops onto a landed history, archive on.
  * Each drop's fixed costs dominate and grow with the history: filtered
  * reads of RAW/REFINED, copy-on-write flag clears, chain resolution
  * over accumulating versions, and one log commit per log line. */
final class Trickle(ctx: RunCtx) extends PipelineWorkload(ctx) {
  val opsPer10s = 2
  private val HistoryDrops = 1
  private val HistoryRows = 8000
  private val DropRows = 1500
  private val shape = Gen.fastpace
  private var spec: IngestSpec = _
  private var drops: IndexedSeq[Drop] = IndexedSeq.empty
  private var wh: Warehouse = _
  private lazy val root = ctx.work.resolve("wh")
  private var timedInput = 0L

  def setup(): Unit = {
    register(Seq(shape))
    spec = specs(Seq(shape))(shape.practice -> shape.fileType)
    val history = ctx.part("generate") {
      drops = (0 until nOps).map { i =>
        val src = ctx.work.resolve(s"inputs/drop$i")
        Drop(shape, spec, src, gen.drop(shape, src, f"d$i%04d", 1, DropRows))
      }
      (0 until HistoryDrops).map { h =>
        val src = ctx.work.resolve(s"inputs/history$h")
        Drop(shape, spec, src, gen.drop(shape, src, s"h$h", 1, HistoryRows))
      }
    }
    ctx.inputHash = gen.inputHash
    val (cat, w) = catalogAt(root, traced = false)
    wh = w
    ctx.part("lookup")(writeLookup(cat, history ++ drops: _*))
    ctx.part("history")(history.zipWithIndex.foreach { case (d, h) =>
      stage(d, stageDir(d))
      val r = runDrop(-1 - h, d, cat, stageDir(d), Some(archiveDir(d)), traced = false)
      require(r.ok, s"history drop $h: ${r.detail}")
      inputBytes += d.expect.bytes
    })
    wh.newBytes()
  }

  def prepare(i: Int): Unit = stage(drops(i), stageDir(drops(i)))

  def op(i: Int, traced: Boolean): OpResult = {
    val d = drops(i)
    val (cat, _) = catalogAt(root, traced)
    inputBytes += d.expect.bytes
    runDrop(i, d, cat, stageDir(d), Some(archiveDir(d)), traced)
  }

  def after(i: Int): Unit = {
    writtenBytes += wh.newBytes()
    timedInput += drops(i).expect.bytes
  }
  override def writeAmp: Double = writtenBytes.toDouble / timedInput
  def spaceAmp: Double = wh.totalBytes.toDouble / inputBytes
  def describe: Map[String, Any] = Map("history_rows" -> HistoryDrops * HistoryRows,
    "history_drops" -> HistoryDrops, "rows_per_drop" -> DropRows, "shape" -> shape.practice,
    "chain_versions_end" -> wh.versions(shape.table("RAW")))
}

/** wide_drop: rounds over a five-practice config (comma and pipe
  * delimiters, one pipe feed `.gz`), precheck on, one tiny file per
  * drop. Two drops, which two is the seed's, carry a file that must fail
  * precheck, so the error move and the notifier run. Per-file work
  * dominates: listing, head reads, the line-count job, one log commit
  * per check, archive and error moves. */
final class WideDrop(ctx: RunCtx) extends PipelineWorkload(ctx) {
  val opsPer10s = 5
  private val FilesPerDrop = 1
  private val RowsPerFile = 30
  private var drops: IndexedSeq[Drop] = IndexedSeq.empty
  private var wh: Warehouse = _
  private lazy val root = ctx.work.resolve("wh")
  /** Whole rounds only: every run lands every drop the same number of
    * times. */
  override def nOps: Int =
    practices.size * math.max(1, math.round(opsPer10s * ctx.seconds / 10.0 / practices.size).toInt)

  /** Two practices per failing shape: the seed picks which of each pair
    * fails, so every run fails the same shapes the same way and lands
    * the same amount of data. */
  private val pairs: Seq[(Seq[Shape], BadFile)] = Seq(
    Seq(Gen.adcs, Gen.asPractice(Gen.adcs, "adcs_north")) -> MissingColumn,
    Seq(Gen.humana, Gen.asPractice(Gen.humana, "humana_gulf").copy(gz = false)) -> EmptyFile)
  private val practices: Seq[Shape] = pairs.flatMap(_._1) :+ Gen.werter

  def setup(): Unit = {
    register(practices)
    val sp = specs(practices)
    val r = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    val bad: Map[String, BadFile] = pairs.map { case (ss, b) => ss(r.nextInt(ss.size)).practice -> b }.toMap
    drops = ctx.part("generate")(practices.map { s =>
      val src = ctx.work.resolve(s"inputs/${s.practice}")
      Drop(s, sp(s.practice -> s.fileType), src,
        gen.drop(s, src, "w", FilesPerDrop, RowsPerFile, bad.get(s.practice)))
    }.toIndexedSeq)
    ctx.inputHash = gen.inputHash
    val (cat, w) = catalogAt(root, traced = false)
    wh = w
    ctx.part("lookup")(writeLookup(cat, drops: _*))
    // warm-up: one passing drop in a throwaway warehouse
    val (warmCat, _) = catalogAt(ctx.work.resolve("wh-warm"), traced = false)
    val d = drops.find(_.expect.precheckOk).get
    ctx.part("warmup") {
      writeLookup(warmCat, d)
      stage(d, stageDir(d))
      runDrop(-1, d, warmCat, stageDir(d), Some(ctx.work.resolve("archive-warm")), traced = false)
    }
    wh.newBytes()
  }

  private def clearDir(p: Path): Unit = if (Files.isDirectory(p)) {
    val s = Files.list(p)
    try s.iterator().asScala.toVector.foreach(Files.delete) finally s.close()
  }

  def prepare(i: Int): Unit = {
    val d = drops(i % drops.size)
    clearDir(stageDir(d)) // a failed drop leaves its good files staged
    stage(d, stageDir(d))
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val d = drops(i % drops.size)
    val (cat, _) = catalogAt(root, traced)
    inputBytes += d.expect.bytes
    runDrop(i, d, cat, stageDir(d), Some(archiveDir(d)), traced)
  }

  def after(i: Int): Unit = writtenBytes += wh.newBytes()
  def spaceAmp: Double = wh.totalBytes.toDouble / inputBytes
  def describe: Map[String, Any] = Map("files_per_drop" -> FilesPerDrop,
    "rows_per_file" -> RowsPerFile,
    "drops" -> drops.map(d => Map("practice" -> d.shape.practice, "rows" -> d.expect.rows,
      "precheck_ok" -> d.expect.precheckOk, "curated" -> d.expect.distribution,
      "lookup_keys" -> d.expect.lookupKeys.size)))
}
