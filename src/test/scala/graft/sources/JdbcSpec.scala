package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Integration tests for the JDBC source/sink against embedded Derby (on
  * Spark's own classpath) — S9 batch insert, S1 full + partitioned reads,
  * S2 incremental pushdown subquery, and filter pushdown into the scan.
  */
class JdbcSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tmp = graft.core.Scratch.dir("graft-derby-spec")
  private lazy val conn = {
    System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
    Jdbc.Conn(s"jdbc:derby:$tmp/db;create=true")
  }

  test("S9 write + S1 read round-trips typed rows") {
    val df = (1 to 100).map(i => (i.toLong, s"name_$i", i * 1.5)).toDF("id", "name", "v")
    Jdbc.write(df, conn, "t_roundtrip", SaveMode.Overwrite, batchSize = 16)
    val back = Jdbc.readTable(spark, conn, "t_roundtrip")
    assert(back.count() == 100)
    val row = back.filter(col("id") === 7L).collect().head
    assert(row.getAs[String]("name") == "name_7" && row.getAs[Double]("v") == 10.5)
  }

  test("S1 partitioned read fans out to numPartitions range queries") {
    val df = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    Jdbc.write(df, conn, "t_parts", SaveMode.Overwrite)
    val back = Jdbc.readTablePartitioned(spark, conn, "t_parts", "id", 0, 100, 4)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 100)
  }

  test("filter predicates are pushed into the JDBC scan") {
    val back = Jdbc.readTable(spark, conn, "t_parts").filter(col("id") > 90L)
    val physical = back.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("GreaterThan"),
      s"expected pushed filter in:\n$physical")
    assert(back.count() == 10)
  }

  test("S2 incremental subquery reads only the post-watermark slice") {
    val df = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    Jdbc.write(df, conn, "t_inc", SaveMode.Overwrite)
    val inc = Jdbc.readIncremental(spark, conn, "t_inc", "id", lowerExclusive = 95L)
    assert(inc.count() == 5)
    assert(inc.agg(min(col("id"))).collect().head.getLong(0) == 96L)
  }

  test("type inference escalates integral columns by magnitude: " +
    "INT -> BIGINT -> DECIMAL(38,0) -> dialect string") {
    val df = Seq(
      ("7", "3000000000", "99999999999999999999", "9" * 40),
      ("2", "4000000000", "88888888888888888888", "8" * 40)
    ).toDF("small", "big", "huge", "past_decimal")
    val t = Jdbc.inferColumnTypes(df).toMap
    assert(t("small").contains("INT"))
    assert(t("big").contains("BIGINT"))
    // past Long.MaxValue: BIGINT would silently null at write time —
    // DECIMAL(38,0) keeps the values lossless
    assert(t("huge").contains("DECIMAL(38,0)"))
    // past 38 digits there is no exact SQL numeric: no override, the
    // dialect's unbounded string type applies
    assert(t("past_decimal").isEmpty)
  }

  test("typed-DDL inference matches the reference loader's type lattice " +
    "and creates REAL typed columns in the database") {
    // an all-string frame, the shape the CSV source produces
    // (reference: rds/load_to_sqlserver.py:97-147 infers BIT/DATETIME2/INT/
    // BIGINT/FLOAT/DECIMAL(18,s)/NVARCHAR(n) from values like these)
    val rows = (1 to 60).map { i =>
      (s" $i ",                              // int_c — whitespace trimmed
        s"${3000000000L + i}",               // big_c — beyond INT range
        s"$i,234.5678",                      // dec_c — thousands comma, scale 4
        s"${i}.5e-3",                        // sci_c — scientific ⇒ FLOAT
        if (i % 2 == 0) "true" else "0",     // bool_c — mixed bool spellings
        f"2024-01-${i % 28 + 1}%02d 10:30:00", // ts_c
        "x" * (i % 40 + 1),                  // name_c — maxLen 40 ⇒ VARCHAR(40)
        if (i % 3 == 0) "NULL" else "",      // empty_c — only null-ish ⇒ VARCHAR(255)
        "payload-" + ("y" * 5000))           // blob_c — ≥ maxVarchar ⇒ no override
    }
    val df = rows.toDF("int_c", "big_c", "dec_c", "sci_c", "bool_c", "ts_c",
      "name_c", "empty_c", "blob_c")

    val inferred = Jdbc.writeTyped(df, conn, "t_typed", SaveMode.Overwrite).toMap
    assert(inferred("int_c").contains("INT"))
    assert(inferred("big_c").contains("BIGINT"))
    assert(inferred("dec_c").contains("DECIMAL(18,4)"))
    assert(inferred("sci_c").contains("FLOAT"))
    assert(inferred("bool_c").contains("BOOLEAN"))
    assert(inferred("ts_c").contains("TIMESTAMP"))
    assert(inferred("name_c").contains("VARCHAR(40)"))
    assert(inferred("empty_c").contains("VARCHAR(255)"))
    assert(inferred("blob_c").isEmpty) // dialect's unbounded-string default

    // the DATABASE's own catalog must report the typed DDL, not the
    // default all-NVARCHAR/CLOB mapping Spark would emit untyped
    val jc = java.sql.DriverManager.getConnection(conn.url)
    try {
      val md = jc.getMetaData.getColumns(null, null, "T_TYPED", null)
      var cols = Map.empty[String, (String, Int, Int)]
      while (md.next()) cols += md.getString("COLUMN_NAME").toLowerCase ->
        ((md.getString("TYPE_NAME"), md.getInt("COLUMN_SIZE"), md.getInt("DECIMAL_DIGITS")))
      assert(cols("int_c")._1 == "INTEGER")
      assert(cols("big_c")._1 == "BIGINT")
      assert(cols("dec_c")._1 == "DECIMAL" &&
        cols("dec_c")._2 == 18 && cols("dec_c")._3 == 4)
      assert(Set("REAL", "FLOAT", "DOUBLE").contains(cols("sci_c")._1))
      assert(cols("bool_c")._1 == "BOOLEAN")
      assert(cols("ts_c")._1 == "TIMESTAMP")
      assert(cols("name_c")._1 == "VARCHAR" && cols("name_c")._2 == 40)
      assert(cols("empty_c")._1 == "VARCHAR" && cols("empty_c")._2 == 255)
      assert(cols("blob_c")._1 == "CLOB") // Derby's unbounded-string default
    } finally jc.close()

    // column names with inner spaces (survive CSV header normalization)
    // must round-trip: the DDL override is backtick-quoted for the parser
    val spacey = Seq(("1", "a b"), ("2", "c d")).toDF("order id", "note col")
    val spaceyTypes = Jdbc.writeTyped(spacey, conn, "t_spacey", SaveMode.Overwrite).toMap
    assert(spaceyTypes("order id").contains("INT"))
    assert(spaceyTypes("note col").contains("VARCHAR(32)"))
    assert(Jdbc.readTable(spark, conn, "t_spacey").count() == 2)

    // values survived the cast round-trip typed
    val back = Jdbc.readTable(spark, conn, "t_typed")
    assert(back.count() == 60)
    val r7 = back.filter(col("int_c") === 7).collect().head
    assert(r7.getAs[Long]("big_c") == 3000000007L)
    assert(r7.getAs[java.math.BigDecimal]("dec_c").doubleValue() == 7234.5678)
    assert(r7.getAs[Boolean]("bool_c") == false) // i=7 odd ⇒ "0"
    assert(back.schema("ts_c").dataType.typeName == "timestamp")
  }

  test("SQL Server dialect renders the reference loader's exact DDL " +
    "(NVARCHAR/DATETIME2/BIT, bracket quoting, NULL suffix)") {
    // one column per branch of the reference's type lattice
    // (rds/load_to_sqlserver.py:97-147; DDL shape :168-175)
    val df = Seq(
      ("7", "3000000000", "12.345", "1.5e-3", "yes",
        "2024-03-01 10:30:00", "alpha", "", "z" * 5000)
    ).toDF("int_c", "big_c", "dec_c", "sci_c", "bool_c", "ts_c",
      "name_c", "empty_c", "blob_c")
    val inferred = Jdbc.inferColumnTypes(df)
    val ddl = Jdbc.createTableDdl("[dbo].[t_ref]", inferred,
      Jdbc.SqlDialect.SqlServer)
    assert(ddl.startsWith("CREATE TABLE [dbo].[t_ref] ("))
    assert(ddl.contains("[int_c] INT NULL"))
    assert(ddl.contains("[big_c] BIGINT NULL"))
    assert(ddl.contains("[dec_c] DECIMAL(18,3) NULL"))
    assert(ddl.contains("[sci_c] FLOAT NULL"))
    assert(ddl.contains("[bool_c] BIT NULL"))          // reference: BIT
    assert(ddl.contains("[ts_c] DATETIME2 NULL"))      // reference: DATETIME2
    assert(ddl.contains("[name_c] NVARCHAR(32) NULL")) // min width 32, as ref
    assert(ddl.contains("[empty_c] NVARCHAR(255) NULL")) // all-null-ish branch
    assert(ddl.contains("[blob_c] NVARCHAR(MAX) NULL")) // unbounded branch

    // same inference, other vendors: only the type-name table changes
    val derby = Jdbc.createTableDdl("t_ref", inferred, Jdbc.SqlDialect.Derby)
    assert(derby.contains("\"bool_c\" BOOLEAN NULL") &&
      derby.contains("\"blob_c\" CLOB NULL") &&
      derby.contains("\"sci_c\" DOUBLE NULL"))
    val pg = Jdbc.createTableDdl("t_ref", inferred, Jdbc.SqlDialect.Postgres)
    assert(pg.contains("\"ts_c\" TIMESTAMP NULL") &&
      pg.contains("\"blob_c\" TEXT NULL") &&
      pg.contains("\"name_c\" VARCHAR(32) NULL"))
  }
}
