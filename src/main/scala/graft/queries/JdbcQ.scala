package graft.queries

import graft.{Oracles, QueryDef}
import graft.core.Tables
import graft.sources.Jdbc
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Oracle-gated JDBC round-trip (S1/S9 + S2-style pushdown, VERDICT r01
  * item 8): the supplier table is batch-inserted into an embedded Derby
  * database (S9), read back through a range-partitioned parallel JDBC scan
  * (S1, 4 concurrent range queries), filtered with a predicate Catalyst
  * pushes into the database WHERE clause — and the result must hash-match
  * DuckDB reading the original parquet. A full source→sink→source identity
  * proof, run offline against the Derby engine Spark already ships.
  */
object JdbcQ {

  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // one embedded Derby mirror per (session, sf dir): without the memo,
    // every invocation (bench repeats) boots a NEW database in a new temp
    // dir and re-inserts the table — open Derby instances and /tmp usage
    // would grow monotonically. Documented tradeoffs: the mirror snapshots
    // the parquet at first call (testdata is immutable within a harness
    // session — mutate it and the memo would serve a stale mirror), and
    // the embedded engine stays live until the JVM exits (Derby has no
    // per-database close short of a JVM-wide shutdown); its Scratch dir is
    // deleted at exit
    val conn = graft.core.Memo.cached(spark, s"jdbc-mirror:$dir") {
      val tmp = graft.core.Scratch.dir("graft-derby")
      System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
      // territory pinned in the URL: Derby derives the new database's
      // locale from the JVM default otherwise, and under Bench's
      // Locale.ROOT pin (the round-11 JSON-safety fix) that is the empty
      // locale, which Derby rejects at boot (XBM0X) — q73 failed in every
      // bench pass between the locale pin and this line
      val c = Jdbc.Conn(s"jdbc:derby:$tmp/db;create=true;territory=en_US")
      Jdbc.write(
        t.supplier.select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
        c, "supplier_mirror", SaveMode.Overwrite, batchSize = 500)
      c
    }
    Jdbc.readTablePartitioned(spark, conn, "supplier_mirror",
      "s_suppkey", lowerBound = 0, upperBound = 1 << 20, numPartitions = 4)
      .filter(col("s_acctbal") > 0.0)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
  }

  private val jdbcRoundtripSql = Oracles("jdbc", "jdbcRoundtrip")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q73_jdbc_roundtrip", jdbcRoundtrip, Some(jdbcRoundtripSql)),
  )
}
