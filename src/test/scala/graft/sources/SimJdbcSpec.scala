package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The wire-simulator driver must serve Spark's REAL JDBC machinery — the
  * same [[Jdbc]] entry points q73 gates against Derby — with verifiable
  * content, or its measurements (BASELINE round 16) mean
  * nothing. No latency here: correctness only (rowNanos=0).
  */
class SimJdbcSpec extends SparkTestBase {

  private val rows = 100000L
  private def conn(extra: String = "") = Jdbc.Conn(
    s"jdbc:graftsim:rows=$rows$extra", driver = "graft.sources.SimJdbcDriver")

  private def expectedIdSum = rows * (rows - 1) / 2

  test("single-connection read serves the full table with exact content") {
    val df = Jdbc.readTable(spark, conn(), "t")
    assert(df.columns.toSeq == Seq("ID", "V", "X"))
    val r = df.agg(count(lit(1)), sum(col("ID")), sum(col("X"))).collect().head
    assert(r.getLong(0) == rows && r.getLong(1) == expectedIdSum)
    // X is a pure function of ID — recompute independently and compare
    val xs = (0L until rows).map(SimJdbc.xOf).sum
    assert(math.abs(r.getDouble(2) - xs) < 1e-6)
  }

  test("partitioned read covers the id space exactly once per stride") {
    for (parts <- Seq(2, 7, 16)) {
      val df = Jdbc.readTablePartitioned(spark, conn(), "t", "ID",
        lowerBound = 0, upperBound = rows, numPartitions = parts)
      assert(df.rdd.getNumPartitions == parts, s"parts=$parts")
      val r = df.agg(count(lit(1)), sum(col("ID")), countDistinct(col("ID")))
        .collect().head
      // duplicated or dropped stride boundaries would break any of these
      assert(r.getLong(0) == rows && r.getLong(1) == expectedIdSum &&
        r.getLong(2) == rows, s"parts=$parts: stride coverage broken")
    }
  }

  test("row values are the declared pure functions of ID") {
    val df = Jdbc.readTablePartitioned(spark, conn(), "t", "ID", 0, rows, 4)
      .filter(col("ID").isin(0L, 1L, 499L, rows - 1))
      .collect().sortBy(_.getLong(0))
    df.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == SimJdbc.vOf(id) && r.getDouble(2) == SimJdbc.xOf(id))
    }
  }

  test("batched write models the wire: rows, batches and ids all account") {
    val spark = this.spark
    import spark.implicits._
    SimJdbc.resetWrites()
    val n = 10000L
    val df = spark.range(n).select(col("id").as("ID"))
      .withColumn("V", concat(lit("w"), col("ID")))
      .withColumn("X", col("ID").cast("double"))
      .repartition(4)
    Jdbc.write(df, conn(), "t", batchSize = 500)
    assert(SimJdbc.insertedRows.get() == n)
    // 4 partitions × ceil(2500/500) = 20 executeBatch round trips
    assert(SimJdbc.insertedBatches.get() == 20,
      s"got ${SimJdbc.insertedBatches.get()} batches")
    val xor = (0L until n).foldLeft(0L)(_ ^ _)
    assert(SimJdbc.insertedIdXor.get() == xor, "inserted id set mismatch")
  }

  test("non-Spark statement shapes fail loudly") {
    val e = intercept[Exception] {
      Jdbc.readIncremental(spark, conn(), "t", "weird_col", 5).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[java.sql.SQLSyntaxErrorException]),
      s"expected a loud SQLSyntaxErrorException, got: $e")
  }
}
