package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev diagnostics on the shared session ([[GraftSession]]):
  * `runMain graft.Profile plan|jobs <sfDir> [query ...]` (no query
  * names: the whole registry) or `runMain graft.Profile decode`.
  *
  *  - `plan`: each query's formatted physical plan, then the wall time
  *    of two runs (cold, warm).
  *  - `jobs`: wall-clock attribution for each query's warm pass —
  *    per-Spark-job durations with call sites, the driver-side gap (time
  *    not covered by any job) and per-stage task metrics. The session
  *    runs without the Spark UI, so this listener stands in for its
  *    Stages tab: it answers "is the time in jobs (executor work) or
  *    between jobs (driver planning/metadata)?" and names the code path
  *    that submitted each job.
  *  - `decode`: the connector's decode paths on a DV-masked table,
  *    vectorized (`MaskedColumnVector` survivor-map wrapping) vs the
  *    boxed row reader — the measurement behind the COVERAGE.md claim
  *    that keeping DV'd scans columnar is a real win. Prints
  *    `DECODE_DV columnar=<s> row=<s> win=<x>`.
  */
object Profile {
  private final case class JobRec(id: Int, callSite: String, desc: String,
      start: Long, var end: Long = -1L)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("decode") =>
      val spark = GraftSession.start()
      decode(spark)
      spark.stop()
    case Seq(mode @ ("plan" | "jobs"), sfDir, names @ _*) =>
      val queries = (if (names.nonEmpty) names
        else SparkEntry.queries.keys.toSeq.sorted).map { name =>
        name -> SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query: $name"))
      }
      val spark = GraftSession.start()
      if (mode == "plan") plan(spark, sfDir, queries)
      else jobs(spark, sfDir, queries)
      spark.stop()
    case _ =>
      System.err.println("usage: graft.Profile plan|jobs <sfDir> [query ...] | decode")
      sys.exit(2)
  }

  private type Query = (String, (SparkSession, String) => DataFrame)

  private def plan(spark: SparkSession, sfDir: String,
      queries: Seq[Query]): Unit = {
    spark.range(100000).selectExpr("sum(id)").collect() // codegen warm
    queries.foreach { case (name, fn) =>
      println(s"\n===== $name =====")
      fn(spark, sfDir).explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
  }

  private def jobs(spark: SparkSession, sfDir: String,
      queries: Seq[Query]): Unit = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // per-stage-name aggregation of task metrics: the sandbox's stand-in
    // for the UI's Stages tab (executor time, shuffle bytes, input bytes)
    final case class StageAgg(var tasks: Int = 0, var runMs: Long = 0L,
      var shufRead: Long = 0L, var shufWrite: Long = 0L,
      var input: Long = 0L, var gcMs: Long = 0L)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageNames.put(sc.stageInfo.stageId, sc.stageInfo.name)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val agg = stages.computeIfAbsent(te.stageId, _ => StageAgg())
          agg.synchronized {
            agg.tasks += 1
            agg.runMs += m.executorRunTime
            agg.shufRead += m.shuffleReadMetrics.totalBytesRead
            agg.shufWrite += m.shuffleWriteMetrics.bytesWritten
            agg.input += m.inputMetrics.bytesRead
            agg.gcMs += m.jvmGCTime
          }
        }
      }
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, JobRec(js.jobId, cs, d, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.end = je.time
      }
    })
    spark.range(100000).selectExpr("sum(id)").collect() // codegen warm
    queries.foreach { case (name, fn) =>
      (1 to 2).foreach { pass =>
        jobs.clear(); stages.clear(); stageNames.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // post-query hygiene as in Bench
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        Scratch.drain()
        if (pass == 2) {
          println(f"\n===== $name  warm=$wall%.2f s  ($n rows) =====")
          import scala.jdk.CollectionConverters._
          val rs = jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
          // merge overlapping job intervals to compute covered time
          val merged = rs.map(r => (r.start, r.end)).sortBy(_._1)
            .foldLeft(List.empty[(Long, Long)]) {
              case (acc, (s, e)) => acc match {
                case (ps, pe) :: tl if s <= pe =>
                  (ps, math.max(pe, e)) :: tl
                case _ => (s, e) :: acc
              }
            }
          val covered = merged.map { case (s, e) => e - s }.sum / 1e3
          println(f"  jobs=${rs.size} covered=$covered%.2f s  " +
            f"driver-gap=${wall - covered}%.2f s")
          // top job groups by summed duration
          rs.groupBy(r => (r.callSite, r.desc)).toSeq
            .map { case ((cs, d), js) =>
              (js.map(j => j.end - j.start).sum / 1e3, js.size, cs, d) }
            .sortBy(-_._1).take(20)
            .foreach { case (t, cnt, cs, d) =>
              val label = if (d.nonEmpty && d != cs) s"$cs | $d" else cs
              println(f"  $t%7.3f s  x$cnt%-3d  $label")
            }
          // top stages by summed executor run time, grouped by stage name
          println("  -- stages by executor time --")
          stages.asScala.toSeq
            .map { case (id, a) =>
              (stageNames.asScala.getOrElse(id, s"stage $id"), a) }
            .groupBy(_._1)
            .map { case (nm, as) =>
              val t = as.map(_._2.runMs).sum / 1e3
              val tasks = as.map(_._2.tasks).sum
              val sr = as.map(_._2.shufRead).sum / 1e6
              val sw = as.map(_._2.shufWrite).sum / 1e6
              val in = as.map(_._2.input).sum / 1e6
              val gc = as.map(_._2.gcMs).sum / 1e3
              (t, tasks, as.size, sr, sw, in, gc, nm)
            }.toSeq.sortBy(-_._1).take(15)
            .foreach { case (t, tasks, n, sr, sw, in, gc, nm) =>
              println(f"  $t%8.2f s  stages=$n%-3d tasks=$tasks%-4d " +
                f"in=$in%7.1fMB sr=$sr%7.1fMB sw=$sw%7.1fMB gc=$gc%5.2f s  " +
                nm.take(110))
            }
        }
      }
    }
  }

  private def decode(spark: SparkSession): Unit = {
    val work = java.nio.file.Files.createTempDirectory("decbench").toString
    val cat = new graft.catalog.TableCatalog(spark, work)
    val df = spark.range(4000000L).select(col("id").as("k"),
      (col("id") * 2.5).as("x"), (col("id") % 1000).cast("long").as("g"),
      concat(lit("value_"), col("id")).as("sv"))
    cat.overwrite("D.S.DEC", df.repartition(8))
    cat.deleteWhereDV("D.S.DEC", col("k") % 101 === 0)
    def rd(columnar: Boolean) = spark.read.format("graft")
      .option("root", work).option("table", "D.S.DEC")
      .option("columnar", columnar.toString).load()
    def run(c: Boolean): Double = {
      val t0 = System.nanoTime()
      rd(c).agg(sum("k"), sum("x"), sum("g"), sum(length(col("sv"))))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    run(c = true); run(c = false) // warm both paths
    val cols = (1 to 3).map(_ => run(c = true)).min
    val rows = (1 to 3).map(_ => run(c = false)).min
    println(f"DECODE_DV columnar=$cols%.2fs row=$rows%.2fs win=${rows / cols}%.2fx")
  }
}
