package graft.queries

import graft.{Oracles, QueryDef}
import graft.core.Tables
import graft.ops.Layout
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle-gated sorted-layout round-trip (write-side data skipping,
  * VERDICT r01 item 10): lineitem is rewritten with [[Layout.sortedWrite]]
  * clustered on the ship date, read back through a pushed date-range
  * predicate (which now skips non-matching row groups — LayoutSpec measures
  * the pruning), and the surviving rows must hash-match DuckDB filtering
  * the ORIGINAL parquet — proving the re-layout is lossless.
  */
object LayoutQ {

  def sortedLayoutRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // one re-laid-out copy per (session, sf dir) — repeated invocations
    // read the same files instead of rewriting a fresh temp copy each time
    val tmp = graft.core.Memo.cached(spark, s"q74-layout:$dir") {
      val p = graft.core.Scratch.dir("graft-layout") + "/li"
      // timestamps cross the layout boundary as unix_micros longs (the
      // suite's determinism rule — also sidesteps TIMESTAMP_NTZ inference)
      Layout.sortedWrite(
        t.lineitem.select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us")),
        p, Seq("ship_us"), files = 8)
      p
    }
    Tables.readMaybeLegacyNanos(spark, tmp)
      .filter(col("ship_us") >= 865123200000000L && col("ship_us") < 873072000000000L)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("ship_us"))
  }

  private val sortedLayoutRoundtripSql = Oracles("layout", "sortedLayoutRoundtrip")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q74_sorted_layout_roundtrip", sortedLayoutRoundtrip, Some(sortedLayoutRoundtripSql)),
  )
}
