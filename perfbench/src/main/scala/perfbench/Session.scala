package perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark session a benchmark run uses: `local[cpus]` with the
  * settings `graft.Bench` runs the query registry under, so pipeline and
  * registry numbers come from the configuration `graft.Bench` measures.
  * The table is written once here and echoed into the run artifact. */
object Session {
  def settings(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> "graft.util.GraftLocalFileSystem",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.cleaner.periodicGC.interval" -> "1min",
    // everything a run writes stays under its work dir
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/spark-warehouse",
    "spark.sql.streaming.checkpointLocation" -> s"$work/checkpoints")

  def start(cpus: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
    settings(cpus, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Minimal JSON writer for the result line and the artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
