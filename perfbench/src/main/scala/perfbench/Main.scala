package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What every workload of one run shares. */
final class RunCtx(val spark: SparkSession, val work: Path, val data: Path,
    val seed: Long, val seconds: Int, val cpus: Int, val traceRun: Boolean) {
  val tracer: Option[Tracer] = if (traceRun) Some(new Tracer(spark)) else None
  var inputHash = ""
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  /** Times one part of set-up, for the artifact. */
  def part[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally setupParts(name) = setupParts.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e9
  }
}

/** One timed operation. `wall` is what a user waits; `busy` leaves out
  * the benchmark's own bookkeeping inside a traced op. */
final case class OpResult(op: Int, wall: Double, busy: Double, ok: Boolean, rows: Long,
    traced: Boolean, detail: String, name: String = "", moved: Long = 0,
    crmOps: Long = 0, crmBatches: Long = 0, startMs: Long = 0, endMs: Long = 0,
    consumed: Long = 0)

object OpResult {
  def failed(op: Int, t0: Long, traced: Boolean, e: Throwable, name: String = ""): OpResult = {
    val wall = (System.nanoTime() - t0) / 1e9
    OpResult(op, wall, wall, ok = false, 0, traced, s"${e.getClass.getName}: ${e.getMessage}", name)
  }
}

trait Workload {
  def ctx: RunCtx
  /** Ops a run does per 10 s of `--seconds`, sized so that on a 4-core
    * box a whole run, set-up included, stays under about 50 s. The count
    * follows `--seconds`, not the clock, so two builds measured with the
    * same settings do the same work. */
  def opsPer10s: Int
  def nOps: Int = math.max(1, math.round(opsPer10s * ctx.seconds / 10.0).toInt)
  def setup(): Unit
  def prepare(i: Int): Unit
  def op(i: Int, traced: Boolean): OpResult
  def after(i: Int): Unit
  def writeAmp: Double
  def spaceAmp: Double
  def describe: Map[String, Any]
}

object Main {
  private def flags(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val f = flags(args)
    val code =
      try {
        f.get("dump-oracles") match {
          case Some(out) =>
            Files.write(Paths.get(out), Json(graft.SparkEntry.oracleSql).getBytes("UTF-8")); 0
          case None => run(f)
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def run(f: Map[String, String]): Int = {
    val workload = f("workload")
    val seed = f("seed").toLong
    val seconds = f("seconds").toInt
    val trace = f("trace") == "1"
    val work = Paths.get(f("work")).toAbsolutePath
    val artifact = Paths.get(f("artifact")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val tSession = System.nanoTime()
    val spark = Session.start(cpus, work.toString)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val ctx = new RunCtx(spark, work, Paths.get(f("data")).toAbsolutePath, seed, seconds,
      cpus, trace)
    val w: Workload = workload match {
      case "bulk_load" => new BulkLoad(ctx)
      case "trickle" => new Trickle(ctx)
      case "wide_drop" => new WideDrop(ctx)
      case "registry" => new Registry(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spanListener = new SpanListener
    val phaseListener = new PhaseListener
    if (trace) {
      spark.sparkContext.addSparkListener(spanListener)
      spark.listenerManager.register(phaseListener)
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val loadBefore = Host.loadavg()
    val jif0 = Host.jiffies()
    val heap = mutable.ArrayBuffer.empty[Double]
    // two full collections per probe: two or three probes per run suffice
    val probeEvery = math.max(1, (w.nOps + 1) / 2)
    val results = (0 until w.nOps).map { i =>
      w.prepare(i)
      val s = System.currentTimeMillis()
      val r = w.op(i, trace)
      val e = System.currentTimeMillis()
      w.after(i)
      if ((i + 1) % probeEvery == 0 || i == w.nOps - 1) heap += Heap.afterGcMb(spark)
      r.copy(startMs = s, endMs = e)
    }
    val jif1 = Host.jiffies()
    val loadAfter = Host.loadavg()
    val steal = Host.stealPct(jif0, jif1)
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val failed = results.count(!_.ok)
    val endToEnd = endToEndMetrics(results, setupS, heap.max, w)
    val layers = ctx.tracer.map(t => PerLayer(t, spanListener, phaseListener, results)).getOrElse(Map.empty)
    val units = Units.all
    val metrics = (if (trace) layers else endToEnd).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> units(k))
    }
    val tailInfo = Stats.tail(results.map(_.wall))._2
    Files.createDirectories(artifact.getParent)
    val art = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "build_id" -> f.getOrElse("build-id", ""),
      "cpus" -> cpus, "session_settings" -> Session.settings(cpus, "<work>").toMap,
      "loop" -> "closed, one client", "ops" -> results.size,
      "input_hash" -> ctx.inputHash, "workload_shape" -> w.describe,
      "host" -> Map("steal_pct_active" -> steal, "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAfter, "verdict" -> Host.verdict(cpus, loadBefore, steal)),
      "setup" -> (Map("session_s" -> sessionS, "setup_s" -> setupS) ++ ctx.setupParts),
      "op_tail" -> tailInfo,
      "failed_frac" -> failed.toDouble / results.size,
      "end_to_end" -> endToEnd, "per_layer" -> layers,
      "op_results" -> results.map(r => Map("op" -> r.op, "name" -> r.name, "wall_s" -> r.wall,
        "busy_s" -> r.busy, "ok" -> r.ok, "traced" -> r.traced, "rows" -> r.rows,
        "detail" -> r.detail)))
    Files.write(artifact, Json(art).getBytes("UTF-8"))
    val config = work.resolve("practice_ingest_config.json")
    if (Files.exists(config))
      Files.copy(config, artifact.resolveSibling(artifact.getFileName.toString.replace(".json", "-config.json")),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ctx.tracer.foreach { t =>
      val spansFile = artifact.resolveSibling(artifact.getFileName.toString.replace(".json", "-spans.json"))
      Files.write(spansFile, Json(t.toJson(spanListener)).getBytes("UTF-8"))
    }
    results.filterNot(_.ok).foreach(r => System.err.println(s"op ${r.op} ${r.name} failed: ${r.detail}"))
    spark.stop()
    val line = Json(Map("correct" -> (failed == 0), "attempted" -> results.size,
      "failed" -> failed, "metrics" -> metrics))
    println("PERFBENCH_RESULT " + line)
    0
  }

  private def endToEndMetrics(rs: Seq[OpResult], setupS: Double, peakHeap: Double,
      w: Workload): Map[String, Double] = {
    val walls = rs.map(_.wall)
    val runS = walls.sum
    Map(
      "setup_s" -> setupS,
      "run_s" -> runS,
      "op_p50_s" -> Stats.median(walls),
      "op_tail_s" -> Stats.tail(walls)._1,
      "rows_per_s" -> rs.map(_.rows).sum / runS,
      "write_amp" -> w.writeAmp,
      "space_amp" -> w.spaceAmp,
      "peak_heap_mb" -> peakHeap)
  }
}

object Units {
  val all: Map[String, String] = Map(
    "setup_s" -> "s", "run_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "rows_per_s" -> "1/s", "write_amp" -> "ratio", "space_amp" -> "ratio",
    "peak_heap_mb" -> "MB") ++ PerLayer.units
}
