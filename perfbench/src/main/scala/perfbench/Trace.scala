package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator
import graft.catalog.TableCatalog
import graft.plans.{CrmJsonOp, CrmOp, CrmSink}

/** One span: a call into a layer made from the benchmark's own code.
  * `pause0` and `pause1` bracket the benchmark's own bookkeeping
  * (listings, footer reads) that ran inside the span, which is not the
  * layer's time. */
final class Span(val id: Int, val name: String, val role: String, val parent: Int,
    val op: Int, val startNs: Long, val pause0: Long) {
  var endNs: Long = startNs
  var pause1: Long = pause0
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def durNs: Long = (endNs - startNs) - (pause1 - pause0)
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** Spans kept in memory and written out when the run ends. Ops run one
  * at a time on the driver thread, so one stack is enough. The span id
  * rides to Spark as a local property, which the listeners below read
  * to attribute jobs, stages and tasks. */
final class Tracer(spark: SparkSession) {
  import Tracer.Prop
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1
  private var pausedNs = 0L
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  def epochMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6
  def current: Option[Span] = stack.headOption
  def inOp(n: Int): Unit = op = n

  def span[T](name: String, role: String = "")(body: => T): T = {
    val s = new Span(spans.size, name, role, stack.headOption.map(_.id).getOrElse(-1),
      op, System.nanoTime(), pausedNs)
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.pause1 = pausedNs
      stack = stack.tail
      spark.sparkContext.setLocalProperty(Prop,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Benchmark bookkeeping inside a span: excluded from span time. */
  def untimed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t
  }
  def pausedTotalNs: Long = pausedNs

  /** Spans with the Spark work the listener attributed to each. */
  def toJson(sl: SpanListener): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val spark = sl.bySpan.get(s.id).map(st => Map("jobs" -> st.jobs, "tasks" -> st.tasks,
      "executor_run_ms" -> st.execRunMs, "input_records" -> st.inputRecords,
      "input_bytes" -> st.inputBytes, "output_bytes" -> st.outputBytes,
      "job_ms" -> st.jobIntervals.map { case (a, b) => b - a }.sum)).getOrElse(Map.empty)
    Map("id" -> s.id, "name" -> s.name, "role" -> s.role, "parent" -> s.parent,
      "op" -> s.op, "start_ms" -> epochMs(s.startNs), "end_ms" -> epochMs(s.endNs),
      "bookkeeping_ms" -> (s.pause1 - s.pause0) / 1e6, "counts" -> s.counts, "spark" -> spark)
  }
}

object Tracer {
  /** Local property that carries the open span's id to Spark jobs. */
  val Prop = "perfbench.span"
}

/** Catalog with a span around each `read`, `append`, `overwrite` and
  * `updateWhere`, tagged by the table's role (raw, refined, curated,
  * lookup or log). After each call the files it wrote are listed and
  * their footers read, outside the span clock. */
final class TracingCatalog(spark: SparkSession, root: String, tracer: Tracer,
    roleOf: String => String, files: Warehouse) extends TableCatalog(spark, root) {
  files.newBytes() // only this catalog's own writes count

  /** A span around a top-level call; `after` is bookkeeping on it. A
    * call the catalog makes to itself stays part of the outer span. */
  private def traced[T](call: String, fq: String)(body: => T)(after: Span => Unit): T =
    if (tracer.current.exists(_.name.startsWith("catalog."))) body
    else {
      var span: Span = null
      val out = tracer.span(s"catalog.$call", roleOf(fq)) { span = tracer.current.get; body }
      tracer.untimed(after(span))
      out
    }

  private def written(s: Span): Unit = s.add("bytes_written", files.newBytes().toDouble)

  override def read(fq: String): DataFrame =
    traced("read", fq)(super.read(fq))(_.add("chain_versions", files.versions(fq)))

  override def append(fq: String, df: DataFrame): Unit =
    traced("append", fq)(super.append(fq, df))(written)

  override def overwrite(fq: String, df: DataFrame): Unit =
    traced("overwrite", fq)(super.overwrite(fq, df))(written)

  override def updateWhere(fq: String, assignments: Map[String, Column],
      where: Column): Unit = {
    val before = tracer.untimed(files.currentVersion(fq))
    traced("update", fq)(super.updateWhere(fq, assignments, where)) { s =>
      written(s)
      files.currentVersion(fq).filter(v => !before.contains(v)).foreach { v =>
        val (bytes, rows) = files.versionDataFiles(fq, v)
        s.add("bytes_rewritten", bytes.toDouble)
        s.add("rows_rewritten", rows.toDouble)
        s.add("rows_changed", files.cdcRows(fq, v) / 2.0)
      }
    }
  }
}

/** CRM endpoint stand-in: accepts every op and counts ops and batches
  * in accumulators (delivery runs inside executor tasks). */
final class CountingCrmSink(ops: LongAccumulator, batches: LongAccumulator) extends CrmSink {
  def deliver(batch: Seq[CrmOp]): Seq[Int] = count(batch.size)
  override def deliverJson(batch: Seq[CrmJsonOp]): Seq[Int] = count(batch.size)
  private def count(n: Int): Seq[Int] = {
    ops.add(n); batches.add(1)
    Seq.fill(n)(204)
  }
}

/** Jobs, tasks and stage metrics per span, through the span id each
  * job carries as a local property. */
final class SpanListener extends SparkListener {
  final class Stats {
    var jobs = 0L; var tasks = 0L; var execRunMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var inputBytes = 0L; var inputRecords = 0L
    var outputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }
  val bySpan = mutable.HashMap.empty[Int, Stats]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobStart(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
      bySpan.getOrElseUpdate(s, new Stats).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, t) =>
      bySpan(s).jobIntervals += ((t, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val st = bySpan.getOrElseUpdate(s, new Stats)
      st.tasks += 1
      st.execRunMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.inputBytes += m.inputMetrics.bytesRead
      st.inputRecords += m.inputMetrics.recordsRead
      st.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** `QueryExecution.tracker` phase times of every action. */
final class PhaseListener extends QueryExecutionListener {
  /** One entry per action: (first phase start, epoch ms; ms per phase). */
  val qes = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      qes += ((ph.values.map(_.startTimeMs).min, ph.map { case (n, p) => n -> p.durationMs }.toMap))
  }
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
