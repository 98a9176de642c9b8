package graft.queries

import graft.{Oracles, QueryDef}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle-gated batch↔streaming parity: the production streaming shapes
  * ([[graft.streaming.EventStreams]]) promoted into the graded query set,
  * so a divergence between a streaming drain and its batch twin fails the
  * driver's CORRECTNESS gate instead of only a unit test (round-7 verdict
  * item 5 — until now the drains' evidence lived in specs + BASELINE.md's
  * throughput table, outside the per-round gate).
  */
object StreamParityQ {

  /** Staging fan-out: 8 parquet parts drained 2 per trigger = 4 real
    * micro-batches (see [[stageMultiFile]]). Also the drains' state
    * partition count — state partitions beyond the per-trigger input
    * parallelism only multiply per-batch state-store open/commit and sink
    * tasks for a gate-scale drain (r19 A/B at sf0.1: 32 → 8 state
    * partitions cut q231 3.95 → 2.91 s, q232 3.74 → 3.25 s, same outputs).
    * A production deployment sizes BOTH together: staging fan-out and
    * state partitions scale with throughput, and resizing state means a
    * new checkpoint — which each graded drain starts anyway.
    */
  private val StageParts = 8

  /** Drain `stream` to a batch_id-partitioned update log in a fresh
    * [[graft.core.Scratch]] dir through
    * [[graft.streaming.EventStreams.incrementalParquetSink]] (Update mode,
    * AvailableNow, idempotent per-batch replay), record the drain's stats
    * as `<name>_drain` in [[graft.streaming.DrainStats]], and return the
    * log path.
    *
    * The streaming conf is scoped to the drain's lifetime and ALWAYS
    * restored — the restore is in `finally` (ADVICE r17): if the drain
    * throws or the awaitTermination `require` fails, a leaked setting would
    * silently tax every subsequent query in the session.
    *  - `numRecentProgressUpdates=1000`: past the default 100 the
    *    drain-stats row sum would silently undercount (4 batches today;
    *    the headroom covers any future finer staging).
    *  - `shuffle.partitions=StageParts`: state partitioning is baked into
    *    the checkpoint at stream start, so it must be set HERE; see
    *    [[StageParts]] for the sizing argument and A/B.
    *  - `noDataMicroBatches.enabled=false`: the trailing no-data batch
    *    exists to advance event-time state (append-mode finalization,
    *    timeouts, state eviction); these drains run UPDATE mode with a
    *    10-year watermark (q232) / NoTimeout map state (q231), so it can
    *    emit nothing — it only costs a full plan+schedule cycle per drain
    *    (r19 A/B: −1.3 s on q231, −0.9 s on q232, byte-identical output).
    */
  private def drainToLog(spark: SparkSession, name: String,
      stream: DataFrame): String = {
    val tmp = graft.core.Scratch.dir(s"graft-$name")
    val keys = Seq(
      "spark.sql.streaming.numRecentProgressUpdates" -> "1000",
      "spark.sql.shuffle.partitions" -> StageParts.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t0 = System.nanoTime()
      val drain = graft.streaming.EventStreams
        .incrementalParquetSink(stream, s"$tmp/log", s"$tmp/ckpt")
      require(drain.awaitTermination(600000),
        s"$name streaming drain did not terminate within 10 minutes")
      graft.streaming.DrainStats.record(s"${name}_drain",
        drain.recentProgress.map(_.numInputRows).sum,
        (System.nanoTime() - t0) / 1e9,
        drain.recentProgress.toSeq.map(_.batchDuration))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    s"$tmp/log"
  }

  /** Stage the events table as an 8-part parquet DIRECTORY in scratch and
    * return the staging root. The driver's testdata ships events as ONE
    * parquet file, and the file-stream source batches whole files — so a
    * direct drain collapses to a single micro-batch and the gate would
    * never exercise checkpointed multi-batch state transitions or the
    * per-batch replay discipline the sinks implement. 8 parts with
    * `maxFilesPerTrigger = 2` gives every graded drain 4 real
    * micro-batches. Rows are staged RAW (pre-canonicalization) so
    * [[graft.streaming.EventStreams.readEventStream]] applies the same ts
    * branch it would on the source layout. Staged ONCE per (session, dir)
    * via the family memo — the staging is immutable input, so both drains
    * (and re-runs) read the same files; the memo value is a PATH, which
    * `Memo.release` deliberately keeps (re-staging would orphan the
    * directory the checkpointed sources already reference), and Scratch
    * auto-cleans at JVM exit. Batch order cannot affect either parity:
    * q231's winner is the (ts, event_id) max (commutative) and q232's
    * state is a full accumulation whose final per-group emission is
    * order-free.
    */
  private def stageMultiFile(spark: SparkSession, dir: String): String =
    graft.core.Memo.cached(spark, s"stream-stage:$dir") {
      val stage = graft.core.Scratch.dir("graft-stream-stage")
      graft.core.Tables.readMaybeLegacyNanos(spark, s"$dir/events.parquet")
        .repartition(StageParts)
        .write.mode("overwrite").parquet(s"$stage/events.parquet")
      stage
    }

  /** q231 — streaming SCD-1 end-state parity with the batch
    * latest-per-key twin (q18): drain the events table through
    * [[graft.streaming.EventStreams.readEventStream]] →
    * [[graft.streaming.EventStreams.upsertLatest]] under
    * `Trigger.AvailableNow` (real checkpointed micro-batches, real
    * `mapGroupsWithState` state store), land every per-batch emission in a
    * batch_id-partitioned update log, then reduce the log IN-PLAN to the
    * final per-key winner. The winner never regresses across batches
    * (an arrival wins only on strictly greater (ts, event_id)), so the
    * max-(ts_us, event_id) emission per key IS the end state, and it must
    * equal q18's `row_number() = 1` pick row-for-row — the oracle is
    * exactly q18's SQL. A green row proves the whole streaming path:
    * file-stream ingestion, ts canonicalization, state transitions, and
    * update-mode emission semantics.
    *
    * Scale shape: one AvailableNow pass over the events table (state =
    * one fixed-size row per live key), one scan of the update log with a
    * single hash aggregate — both linear, no driver-side state.
    */
  def streamUpsertParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = graft.streaming.EventStreams
      .readEventStream(spark, stageMultiFile(spark, dir), maxFilesPerTrigger = 2)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[graft.streaming.EventStreams.Event]
    val log = drainToLog(spark, "q231",
      graft.streaming.EventStreams.upsertLatest(stream).toDF())
    // ties across batches are byte-identical re-emissions of the same
    // winner (batch_id is dropped), so max_by's tie-pick cannot diverge
    spark.read.parquet(log)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(
        struct(col("event_id"), col("ts_us"), col("value")),
        struct(col("ts_us"), col("event_id"))).as("w"))
      .select(col("w.event_id").as("event_id"), col("user_id"),
        col("event_type"), col("w.ts_us").as("ts_us"),
        col("w.value").as("value"))
  }

  // the oracle is the batch twin's: end-state parity means "identical to
  // q18" is the strongest (and simplest) possible check
  private val streamUpsertParitySql = Oracles("streamparity", "streamUpsertParity")

  /** q232 — streaming windowed-aggregate parity with the batch hourly
    * twin (q42): drain the events table through
    * [[graft.streaming.EventStreams.hourlyCounts]] (watermarked tumbling
    * window + `Exact.dsum` decimal state) in UPDATE mode under
    * `Trigger.AvailableNow`, log each batch's updated groups, and keep
    * each group's LAST emission (max batch_id — one emission per touched
    * group per batch, so the max is unique). After the drain every event
    * has entered the state store, so the last emission per group is the
    * full aggregate and must equal q42 bit-for-bit — decimal accumulation
    * in the state store casts to double only on emission, the same
    * discipline as the batch plan.
    *
    * The watermark is pushed out to 3650 days so NO row can be
    * late-dropped whatever the file split: this query gates aggregate
    * parity; drop semantics are spec territory (EventStreamsSpec).
    *
    * Scale shape: one AvailableNow pass, state = one row per
    * (hour, event_type) — bounded cardinality; one log scan + hash agg.
    */
  def streamHourlyParity(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.streaming.EventStreams
      .readEventStream(spark, stageMultiFile(spark, dir), maxFilesPerTrigger = 2)
    val log = drainToLog(spark, "q232", graft.streaming.EventStreams
      .hourlyCounts(events, watermark = "3650 days")
      .select(unix_micros(col("hour_start")).as("hour_start_us"),
        col("event_type"), col("n_events"), col("total_value")))
    spark.read.parquet(log)
      .groupBy(col("hour_start_us"), col("event_type"))
      .agg(max_by(struct(col("n_events"), col("total_value")),
        col("batch_id")).as("w"))
      .select(col("hour_start_us"), col("event_type"),
        col("w.n_events").as("n_events"), col("w.total_value").as("total_value"))
  }

  private val streamHourlyParitySql = Oracles("streamparity", "streamHourlyParity")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q231_stream_upsert_parity", streamUpsertParity,
      Some(streamUpsertParitySql)),
    QueryDef("q232_stream_hourly_parity", streamHourlyParity,
      Some(streamHourlyParitySql)),
  )
}
