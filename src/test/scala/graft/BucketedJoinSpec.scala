package graft

import org.apache.spark.sql.functions._

/** Bucketing as the co-located-join scale path: two tables bucketed on
  * the join key join WITHOUT any shuffle exchange — the pre-shuffled
  * layout on disk replaces both runtime exchanges. At 100 TB this is
  * the difference between re-shuffling the fact table on every join
  * and reading it join-ready (SURVEY §7.4: "repartition/bucketing for
  * co-located joins"). */
class BucketedJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("join of co-bucketed tables plans with zero shuffle exchanges") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
    Seq.tabulate(1000)(i => (i.toLong, s"o$i"))
      .toDF("key", "o_payload")
      .write.bucketBy(8, "key").sortBy("key")
      .mode("overwrite").saveAsTable("b_orders")
    Seq.tabulate(3000)(i => ((i % 1000).toLong, s"l$i"))
      .toDF("key", "l_payload")
      .write.bucketBy(8, "key").sortBy("key")
      .mode("overwrite").saveAsTable("b_lines")

    // force a non-broadcast join so the exchange question is real
    try GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val j = spark.table("b_orders").join(spark.table("b_lines"), "key")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(j.count() == 3000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lines")
    }
  }
}
