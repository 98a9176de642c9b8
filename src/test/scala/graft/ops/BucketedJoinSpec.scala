package graft.ops

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Demonstrates co-located joins via bucketing: two tables bucketed on the
  * join key join with ZERO shuffle exchanges — the pre-partitioning strategy
  * for repeated big-big joins at scale (SURVEY.md §4's "manual
  * co-partitioning" done the durable way, in table layout instead of a
  * per-query repartition).
  */
class BucketedJoinSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a static conf, set in SparkTestBase
    // restore the shared session's own value (or unset), never a literal:
    // a literal would pin the threshold for every later suite
    val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")

      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), Seq("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // the aggregation after the join still shuffles on o_orderstatus (as it
      // should); the JOIN itself must read bucketed scans with no exchange on
      // the join key
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not shuffle on the join key:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scans must be bucketed:\n$plan")
      // correctness unchanged vs plain join
      val expected = orders.join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), Seq("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }
}
