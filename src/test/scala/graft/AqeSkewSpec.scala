package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** AQE skew-join handling: beside the deterministic [[graft.operators.Salting]]
  * operators (exact, oracle-checked), Spark's adaptive execution splits
  * oversized shuffle partitions at runtime. This spec drives a heavily
  * skewed sort-merge join with skew thresholds scaled down to test data
  * size and asserts the final adaptive plan actually marked the join
  * skew=true — the 100 TB behavior, reproduced small. */
class AqeSkewSpec extends SparkTestBase {
  import spark.implicits._

  test("adaptive plan splits a skewed sort-merge join (skew=true)") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    GraftSession.withConf(spark, confs: _*) {
      // key 0 carries 100k rows with fat payloads; 99 other keys are tiny
      val skewed = spark.range(110000)
        .select(when($"id" < 100000, 0L).otherwise($"id" % 100).as("k"),
          concat(lit("x" * 64), $"id".cast("string")).as("payload"))
      val dim = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = skewed.join(dim, "k")
      // execute THIS plan instance (count() would finalize a different
      // QueryExecution and leave this one un-adapted)
      val nRows = joined.queryExecution.toRdd
        .mapPartitions(it => Iterator.single(it.size.toLong)).sum()
      assert(nRows == 110000)
      val plan = joined.queryExecution.executedPlan
      val finalPlan = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split join in:\n$finalPlan")
    }
  }
}
