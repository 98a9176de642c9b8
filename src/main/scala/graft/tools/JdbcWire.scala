package graft.tools

import java.util.Locale

import graft.sources.{Jdbc, SimJdbc}
import org.apache.spark.sql.functions._

/** JDBC wire-model scaling rows (VERDICT r15 item 4). The sandbox ships no
  * client-server JDBC stack (no derbynet/derbyclient implementation
  * classes, no other server engine's driver jar, zero egress), so the
  * "real wire" leg runs against [[graft.sources.SimJdbc]] — a
  * latency-modeled server with per-connection service rates — in BOTH of
  * its modes:
  *
  *  - `independent`: each connection serves at rowNanos/row independently
  *    (the healthy-server model: RDS / SQL Server readers). If
  *    [[Jdbc.readTablePartitioned]]'s machinery is sound, N-way reads
  *    approach N× — THE claim round 15 left architecture-backed.
  *  - `serial`: one global latch paces ALL connections (the
  *    embedded-Derby pathology reproduced in the model). If the flat
  *    r15 Derby scaling was the server's fault, the same Spark machinery
  *    must go flat here too — pinning the residual to the engine.
  *
  * Write leg: one `rtNanos` round trip per executeBatch + rowNanos/row —
  * the wire cost structure under which `batchsize` matters (and why
  * embedded Derby, rtNanos≈0, measured batch-size-insensitive in r15).
  *
  * Prints ONE JSON line. Usage: runMain graft.tools.JdbcWire
  *   [readRows] [writeRows] [rowMicros] [rtMicros]
  */
object JdbcWire {

  private def time[A](body: => A): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val readRows = args.headOption.map(_.toLong).getOrElse(15000000L)
    val writeRows = args.lift(1).map(_.toLong).getOrElse(1500000L)
    val rowMicros = args.lift(2).map(_.toDouble).getOrElse(2.0)
    val rtMicros = args.lift(3).map(_.toLong).getOrElse(500L)
    val spark = graft.core.LocalSession()
    spark.sparkContext.setLogLevel("WARN")

    val rowNanos = (rowMicros * 1000).toLong
    def conn(serial: Boolean, rt: Long = 0L) = Jdbc.Conn(
      s"jdbc:graftsim:rows=$readRows;rowNanos=$rowNanos;rtNanos=${rt * 1000}" +
        (if (serial) ";serial=1" else ""),
      driver = "graft.sources.SimJdbcDriver")

    def readSweep(serial: Boolean): Seq[(Int, Double)] =
      Seq(1, 2, 4, 8, 16).map { p =>
        val t = (1 to 2).map { _ =>
          time {
            val df =
              if (p == 1) Jdbc.readTable(spark, conn(serial), "t")
              else Jdbc.readTablePartitioned(spark, conn(serial), "t", "ID",
                0, readRows, p)
            // force every row across the wire, keep the agg trivial
            df.agg(count(lit(1))).collect()
          }
        }.min
        System.err.println(f"[wire] read serial=$serial p=$p%-2d  $t%7.2f s")
        p -> t
      }

    val indep = readSweep(serial = false)
    val serial = readSweep(serial = true)

    // write leg: fixed 4-way parallelism, batchsize sweep across the wire
    val writeDf = spark.range(writeRows).select(col("id").as("ID"))
      .withColumn("V", concat(lit("w"), col("ID") % 1000))
      .withColumn("X", (col("ID") % 1000).cast("double"))
      .repartition(4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeDf.count()
    val writes = Seq(50, 500, 5000).map { bs =>
      SimJdbc.resetWrites()
      val t = time(Jdbc.write(writeDf, conn(serial = false, rt = rtMicros), "t",
        batchSize = bs))
      require(SimJdbc.insertedRows.get() == writeRows,
        s"write bs=$bs: ${SimJdbc.insertedRows.get()} rows reached the sim")
      System.err.println(f"[wire] write bs=$bs%-5d $t%7.2f s " +
        f"(${SimJdbc.insertedBatches.get()} round trips)")
      bs -> t
    }

    def fmt(xs: Seq[(Int, Double)]) = xs.map { case (k, v) =>
      "\"" + k + "\":" + String.format(Locale.ROOT, "%.2f", Double.box(v))
    }.mkString("{", ",", "}")
    println(s"""{"metric":"jdbc_wire","read_rows":$readRows,""" +
      s""""row_micros":$rowMicros,"rt_micros":$rtMicros,""" +
      s""""read_independent_s":${fmt(indep)},"read_serial_s":${fmt(serial)},""" +
      s""""write_rows":$writeRows,"write_s":${fmt(writes)},"unit":"sec"}""")
    spark.stop()
  }
}
