package graft.tools

import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming throughput spot-check — the streaming counterpart of
  * `graft.Bench` (which covers only the batch surface). Drains the events
  * table through the three production pipeline shapes with
  * `Trigger.AvailableNow` + a counting `foreachBatch` sink and reports
  * input-rows/second per pipeline as one JSON line. Not part of the driver
  * contract; evidence for BASELINE.md (every batch family has scale points —
  * this gives streaming the same).
  *
  * Usage: runMain graft.tools.StreamBench [sfDir]
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    // same contract as Bench.main: the emitted JSON line uses %-formatting,
    // which under a comma-decimal default locale would be invalid JSON
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nInput = graft.core.Tables(spark, sfDir).eventsRaw.count()

    def events() = EventStreams.readEventStream(spark, sfDir)
    def typed() = events()
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]

    /** Drain `out` to a counting sink; returns (outputRows, seconds). */
    def drain(name: String, out: DataFrame, mode: String): (Long, Double) = {
      val n = new java.util.concurrent.atomic.AtomicLong()
      val ckpt = java.nio.file.Files.createTempDirectory(s"sb-$name").toString
      val t0 = System.nanoTime()
      val q = out.writeStream
        .outputMode(mode)
        .foreachBatch { (b: DataFrame, _: Long) => n.addAndGet(b.count()): Unit }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val elapsed = (System.nanoTime() - t0) / 1e9
      deleteRecursively(new java.io.File(ckpt)) // don't leak state-store trees
      (n.get(), elapsed)
    }

    // warm-up: JVM + codegen + file listing (smallest pipeline)
    drain("warmup", EventStreams.hourlyCounts(events()), "update")

    val results = Seq(
      ("hourly_window_agg",
        drain("hourly", EventStreams.hourlyCounts(events()), "update")),
      ("sessionize_closed",
        drain("sess", EventStreams.sessionizeClosed(typed(), 7200L).toDF(), "append")),
      ("upsert_latest",
        drain("scd1", EventStreams.upsertLatest(typed()).toDF(), "update")))

    val qs = results.map { case (k, (rows, sec)) =>
      f""""$k":{"out_rows":$rows,"sec":$sec%.3f,"input_rows_per_sec":${nInput / sec}%.0f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_throughput","input_rows":$nInput,"pipelines":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
