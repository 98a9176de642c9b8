package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Plan/state audit for the streaming parity queries (q231/q232) — the
  * evidence source for PLANS_r9.md: attaches a [[StreamingQueryListener]],
  * runs each parity query end-to-end (the drain happens eagerly inside the
  * query function), and reports per-drain micro-batch count, input rows,
  * state-store rows, and the executed plan of the in-plan log reduction.
  *
  * Usage: tools/bench.sh with MAIN=graft.tools.StreamAudit, or
  *   sbt "runMain graft.tools.StreamAudit [sfDir]"
  */
object StreamAudit {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // %f output must stay valid under any default locale
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.LocalSession()
    spark.sparkContext.setLogLevel("WARN")

    // accumulate progress per query run; AvailableNow emits one progress
    // event per micro-batch
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Long, Long, Long)]() // (runId, batchId, inputRows, stateRows)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val state = p.stateOperators.map(_.numRowsTotal).sum
        batches.add((p.runId.toString, p.batchId, p.numInputRows, state))
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    for (name <- Seq("q231_stream_upsert_parity", "q232_stream_hourly_parity")) {
      batches.clear()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val rows = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      // listener events are async; drain settles quickly after the query stops
      Thread.sleep(2000)
      val bs = batches.toArray(Array.empty[(String, Long, Long, Long)])
        .sortBy(_._2)
      println(f"== $name: ${bs.length} micro-batches, " +
        f"inputRows=${bs.map(_._3).sum}, finalStateRows=${bs.lastOption.map(_._4).getOrElse(0L)}, " +
        f"resultRows=$rows, wall=$secs%.1f s")
      for ((_, b, in, st) <- bs)
        println(f"   batch=$b%-3d inputRows=$in%-8d stateRows=$st")
      println("-- executed plan of the in-plan log reduction:")
      println(df.queryExecution.executedPlan.toString.linesIterator
        .take(40).mkString("\n"))
    }
    spark.stop()
  }
}
