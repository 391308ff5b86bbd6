package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration

/** Byte and row accounting of a catalog warehouse, read from the
  * filesystem and parquet footers: never through the catalog, and
  * always outside the timed and traced clocks. */
final class Warehouse(val root: Path, conf: Configuration) {
  private val seen = mutable.HashMap.empty[String, (Long, Long)]

  private def walk(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }

  /** Bytes of files created or rewritten since the previous call. */
  def newBytes(): Long = walk(root).map { p =>
    val key = p.toString
    val stamp = (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    if (seen.get(key).contains(stamp)) 0L else { seen(key) = stamp; stamp._1 }
  }.sum

  def totalBytes: Long = walk(root).map(Files.size).sum

  private def tableDir(fq: String): Path = root.resolve(fq.split('.').mkString("/"))

  /** Version directories on disk: the manifest chain a read resolves. */
  def versions(fq: String): Int = {
    val d = tableDir(fq).toFile
    Option(d.list()).map(_.count(_.startsWith("v_"))).getOrElse(0)
  }

  def currentVersion(fq: String): Option[Int] = {
    val p = tableDir(fq).resolve("_CURRENT")
    if (!Files.exists(p)) None else Some(new String(Files.readAllBytes(p), "UTF-8").trim.toInt)
  }

  private def parquet(dir: Path): Seq[Path] = walk(dir).filter { p =>
    val n = p.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  private def footerRows(p: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf))
    try r.getRecordCount finally r.close()
  }

  /** (bytes, rows) of the data files a version wrote itself. */
  def versionDataFiles(fq: String, v: Int): (Long, Long) = {
    val fs = parquet(tableDir(fq).resolve(f"v_$v%06d"))
    (fs.map(Files.size).sum, fs.map(footerRows).sum)
  }

  /** Rows in a version's change-feed sidecar (pre- plus post-images). */
  def cdcRows(fq: String, v: Int): Long =
    parquet(tableDir(fq).resolve("_CDCLOG").resolve(f"v_$v%06d")).map(footerRows).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples above it, with
    * that percentile and n. Below 20 samples that percentile is at or
    * under the median, so the maximum stands in and says so. */
  def tail(xs: Seq[Double]): (Double, Map[String, Any]) = {
    val n = xs.size
    if (n < 20) (xs.max, Map("percentile" -> 100.0, "n" -> n, "undersampled" -> true))
    else {
      val pct = math.floor(100.0 * (n - 10) / n)
      (quantile(xs, pct / 100.0), Map("percentile" -> pct, "n" -> n, "undersampled" -> false))
    }
  }
}

/** Host health around the timed phase: hypervisor steal as a share of
  * active cpu time, and the 1-minute load average before and after. */
object Host {
  final case class Jiffies(active: Long, steal: Long)

  def jiffies(): Option[Jiffies] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal ...
      Some(Jiffies(f(1).toLong + f(2).toLong + f(3).toLong + f(8).toLong, f(8).toLong))
    } catch { case _: Exception => None }

  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def stealPct(a: Option[Jiffies], b: Option[Jiffies]): Double = (a, b) match {
    case (Some(x), Some(y)) if y.active > x.active =>
      100.0 * (y.steal - x.steal) / (y.active - x.active)
    case _ => -1.0
  }

  /** A run is marked busy when another tenant shows: steal above 10% of
    * active time, or a load average before the run above 1.5 runnable
    * tasks per core. Back-to-back runs of this benchmark hold the
    * 1-minute average near one per core, so a per-core threshold below
    * that flags quiet runs. */
  def verdict(cpus: Int, loadBefore: Double, steal: Double): String =
    if (steal > 10.0 || loadBefore > 1.5 * cpus) "busy" else "quiet"
}

/** Heap in use right after a full collection, sampled between ops once
  * Spark's listeners have caught up, so queued events do not count. The
  * first collection hands finished RDDs, broadcasts and shuffles to
  * Spark's cleaner, which frees their blocks on its own thread; the
  * second, after it has had a moment, collects what that released. */
object Heap {
  def afterGcMb(spark: org.apache.spark.sql.SparkSession): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(100)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
