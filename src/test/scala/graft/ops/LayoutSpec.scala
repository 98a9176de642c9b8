package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Layout operators: sorted layout prunes row groups, Z-order prunes on both
  * dimensions, compaction shrinks file counts without changing data.
  */
class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    graft.core.Scratch.dir(s"graft-layout-$tag") + "/t"

  // deterministic two-dimensional data with no correlation between dims
  private lazy val data = spark.range(0, 100000).select(
    col("id"),
    (col("id") % 997).as("a"),
    ((col("id") * 7919) % 983).as("b"))

  test("sorted layout skips row groups for predicates on the sort column") {
    val unsortedPath = tmpDir("unsorted")
    val sortedPath = tmpDir("sorted")
    // write with many small row groups so pruning has granularity
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    data.orderBy(col("b")) // clustered on b == random w.r.t. a
      .coalesce(1).write.option("parquet.block.size", 64 * 1024).parquet(unsortedPath)
    Layout.sortedWrite(data, sortedPath, Seq("a"), files = 8)

    val pred = col("a") === 123
    val unsortedRows = Layout.scanRowsAfterPruning(
      spark.read.parquet(unsortedPath).filter(pred))
    val sortedRows = Layout.scanRowsAfterPruning(
      spark.read.parquet(sortedPath).filter(pred))
    assert(sortedRows < unsortedRows / 4,
      s"sorted layout should prune most row groups: sorted=$sortedRows unsorted=$unsortedRows")
  }

  test("z-order prunes on both dimensions; single-column sort only on its own") {
    val byA = tmpDir("bya")
    val byZ = tmpDir("byz")
    Layout.sortedWrite(data, byA, Seq("a"), files = 16)
    Layout.zorderWrite(data, byZ, "a", "b", files = 16)

    val predB = col("b") === 500
    val byARows = Layout.scanRowsAfterPruning(spark.read.parquet(byA).filter(predB))
    val byZRows = Layout.scanRowsAfterPruning(spark.read.parquet(byZ).filter(predB))
    assert(byZRows < byARows,
      s"z-order should prune on the second dimension too: z=$byZRows aOnly=$byARows")

    // and the z-layout result is exactly the true result
    val expect = data.filter(predB).count()
    assert(spark.read.parquet(byZ).filter(predB).count() == expect)
  }

  test("morton interleave is the textbook bit interleave") {
    val r = spark.range(1).select(
      Layout.morton(lit(0L), lit(0L)).as("z00"),
      Layout.morton(lit(1L), lit(0L)).as("z10"),
      Layout.morton(lit(0L), lit(1L)).as("z01"),
      Layout.morton(lit(5L), lit(3L)).as("z53")).collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L && r.getLong(2) == 2L)
    // x=5 (101), y=3 (011) -> bits: x0=1@0, y0=1@1, x1=0@2, y1=1@3, x2=1@4 -> 0b11011 = 27
    assert(r.getLong(3) == 27L)
  }

  test("compaction shrinks file count and preserves content") {
    val path = tmpDir("compact")
    data.repartition(64).write.parquet(path)
    def files = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 64)
    val before = spark.read.parquet(path).agg(sum("id"), count(lit(1))).collect().head
    Layout.compact(spark, path, targetFiles = 4, sortCols = Seq("a"))
    assert(files == 4)
    val after = spark.read.parquet(path).agg(sum("id"), count(lit(1))).collect().head
    assert(before == after)
  }
}
