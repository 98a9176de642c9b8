package graft.ops

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Source/sink round-trips: parquet (snappy), JSON lines, CSV with
  * normalized headers + surrogate keys, partitioned writes with partition
  * pruning — the engine's IO surface beyond what the pipeline runner
  * exercises.
  */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tmp = graft.core.Scratch.dir("graft-sources")

  test("parquet round-trip preserves schema and values") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
    df.write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$tmp/orders_rt")
    val back = spark.read.parquet(s"$tmp/orders_rt")
    assert(back.schema == df.schema)
    assert(back.count() == df.count())
  }

  test("json lines round-trip (timestamps preserved via ISO strings)") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_orderdate", date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss"))
    df.write.mode("overwrite").json(s"$tmp/orders_json")
    val back = spark.read.json(s"$tmp/orders_json")
    assert(back.count() == df.count())
    assert(back.columns.sorted.toSeq == df.columns.sorted.toSeq)
    val a = df.orderBy($"o_orderkey").limit(5).collect().map(_.getAs[Double]("o_totalprice"))
    val b = back.orderBy($"o_orderkey").limit(5).collect().map(_.getAs[Double]("o_totalprice"))
    assert(a.sameElements(b))
  }

  test("csv source: header normalization and surrogate pk") {
    val p = s"$tmp/items.csv"
    Files.write(java.nio.file.Paths.get(p),
      "Order ID, LineItem-ID ,Value\no1,li1,3\no2,,4\n".getBytes)
    val df = graft.pipeline.CsvSource.read(spark, p)
    assert(df.columns.toSeq == Seq("order_id", "lineitem_id", "value"))
    val keyed = graft.pipeline.CsvSource.withSurrogatePk(df, Seq("order_id", "lineitem_id"))
    val pks = keyed.select("__pk").as[String].collect()
    assert(pks.forall(_.length == 64))
    assert(pks.distinct.length == 2, "missing business key falls back to full-row hash")
  }

  test("partitioned write enables partition pruning") {
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$tmp/orders_part")
    val pruned = spark.read.parquet(s"$tmp/orders_part").filter($"o_year" === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"),
      s"expected partition filter in scan:\n${plan.take(2000)}")
    assert(pruned.count() ==
      spark.read.parquet(s"$sf/orders.parquet").filter(year($"o_orderdate") === 1997).count())
  }
}
