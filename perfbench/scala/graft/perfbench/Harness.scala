package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.pipeline._
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** JVM side of the benchmark: one process runs one workload as a single
  * closed-loop client against the engine's public entry points.
  *
  * Usage: `Harness <plan.json> <result.json>`. The plan (written by
  * `perfbench/run.py`) names the workload, its generated inputs, the
  * measurement window and whether tracing is on; the result holds every
  * operation's wall time, the check outcomes and, when traced, the spans and
  * counters. Metrics are computed from the result by `run.py`.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = new File(args(1))
    val workload = plan.get("workload").asText
    if (workload == "families") {
      // family -> [(query, has oracle)], for the sampler in run.py
      val fams = SparkEntry.defGroups.map { case (f, defs) =>
        Map("family" -> f, "queries" -> defs.map(d =>
          Map("name" -> d.name, "oracle" -> d.oracle.isDefined)))
      }
      mapper.writeValue(out, fams)
      return
    }
    val spark = session(plan.get("cores").asInt, plan.get("work").asText)
    val rec = new Recorder(spark, plan.get("trace").asBoolean)
    val deadlineMs = () => rec.firstOp + plan.get("seconds").asDouble * 1000
    val result: Map[String, Any] = workload match {
      case "query_session" => QuerySession(spark, rec, plan, deadlineMs)
      case "ingest" => Ingest(spark, rec, plan, deadlineMs)
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    mapper.writeValue(out, result ++ Map(
      "workload" -> workload,
      "jvm_start_ms" -> jvmStart,
      "first_op_ms" -> rec.firstOp,
      "checks_ms" -> (rec.nowMs - rec.lastOpEndMs),
      "heap_live_peak_bytes" -> rec.heapLivePeak,
      "cached_bytes_peak" -> rec.cachedBytesPeak,
      "ops" -> rec.ops.map(o => Map("key" -> o.key, "pass" -> o.pass,
        "kind" -> o.kind, "name" -> o.name, "ms" -> o.ms, "ok" -> o.ok,
        "err" -> o.err) ++ o.extra),
      "spans" -> rec.spanRows,
      "counters" -> rec.counterMap))
    spark.stop()
  }

  /** `graft.Bench`'s session settings; scratch inside the run directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** Order-insensitive content digest of a frame: row count and the sum of
    * per-row 64-bit hashes over the columns in name order. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** (bytes, files) under `f`; hidden files (the local file system's
    * `.crc` checksums) are not counted. */
  def dirStats(f: File): (Long, Long) =
    if (!f.exists() || f.getName.startsWith(".")) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirStats)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(); ()
  }

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(c => copyTree(c, new File(dst, c.getName)))
    } else Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING): Unit
}

/** `query_session`: rounds over a family-stratified query sample in one
  * session; round 1 is first-run work, later rounds repeat the sample in a
  * new order each. Each query is forced through the `noop` sink. */
object QuerySession {
  def apply(spark: SparkSession, rec: Recorder, plan: JsonNode,
      deadline: () => Double): Map[String, Any] = {
    val dir = plan.get("inputs").asText
    val rounds = plan.get("rounds").elements().asScala.map(Harness.strings).toSeq
    val minRounds = plan.get("min_rounds").asInt
    warmUp(spark, dir)
    var r = 0
    while (r < rounds.size && (r < minRounds || rec.nowMs < deadline())) {
      val pass = if (r == 0) "first" else "warm"
      rounds(r).foreach { name =>
        rec.op(pass, "query", name, s"$name#$r") {
          rec.phase("build")
          val df = rec.span("build", name)(SparkEntry.queries(name)(spark, dir))
          rec.phase("execute")
          rec.span("execute", name)(df.write.format("noop").mode("overwrite").save())
          Map("round" -> r)
        }
      }
      r += 1
    }
    rec.endOps()
    val t0 = System.nanoTime()
    graft.core.Memo.release(spark)
    val releaseMs = (System.nanoTime() - t0) / 1e6

    // checks, outside the timed window: dump each sampled query's result
    // for the DuckDB oracle compare in run.py
    val dump = plan.get("dump").asText
    val oracle = SparkEntry.oracleSql
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val dumpErr = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = rounds.head.map { name =>
      Future {
        try SparkEntry.queries(name)(spark, dir).coalesce(1).write
          .mode("overwrite").parquet(s"$dump/$name")
        catch { case e: Throwable => dumpErr.put(name, String.valueOf(e).take(300)) }
      }
    }
    Await.result(Future.sequence(jobs), Duration.Inf)
    pool.shutdown()
    Map("oracle" -> rounds.head.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "dump_errors" -> dumpErr.asScala.toMap,
      "memo_release_ms" -> releaseMs)
  }

  /** Class loading, JIT and codegen paths of a scan-join-aggregate plan,
    * through no engine cache (`graft.Bench` warms up the same way). */
  def warmUp(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice")), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
}

/** `ingest`: the write side of the reference. The first pass runs the
  * four-job ELT chain plus archival once through `Workflow.run` on the
  * generated landing CSVs, then drains an events directory with each of the
  * three `EventStreams` pipelines; later passes repeat the drains. */
object Ingest {
  def apply(spark: SparkSession, rec: Recorder, plan: JsonNode,
      deadline: () => Double): Map[String, Any] = {
    val work = plan.get("work").asText
    val minRounds = plan.get("min_rounds").asInt
    val pristine = plan.get("landing").asText
    val csvBytes = Harness.dirStats(new File(pristine))._1
    val drains = new StreamDrain(spark, rec, plan.get("stream_inputs").asText, work,
      plan.get("max_files_per_trigger").asInt)
    val root = s"$work/elt"
    var ledger = Seq.empty[Workflow.StageRun]
    var r = 0
    while (r < minRounds || rec.nowMs < deadline()) {
      val pass = if (r == 0) "first" else "warm"
      if (r == 0) ledger = EltPipeline.run(spark, rec, pass, pristine, root)
      drains.pass(r, pass)
      r += 1
    }
    rec.endOps()
    // checks, outside the timed window, side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val checks = Seq(Future(EltPipeline.check(spark, pristine, csvBytes, root, ledger)),
      Future(drains.check()))
    val failures = try Await.result(Future.sequence(checks), Duration.Inf).flatten
    finally pool.shutdown()
    Map("csv_bytes" -> csvBytes, "failures" -> failures)
  }
}

/** The reference's four-job chain plus archival through `Workflow.run`,
  * with `graft.tools.PipelineWall`'s stage bodies and write sizing. */
object EltPipeline {
  val stages = Seq("ingest", "transform", "quality", "metrics", "archive")

  /** One timed run of the chain on a fresh copy of the landing CSVs under
    * `root`; returns the `Workflow` ledger. */
  def run(spark: SparkSession, rec: Recorder, pass: String, pristine: String,
      root: String): Seq[Workflow.StageRun] = {
    Harness.copyTree(new File(pristine), new File(s"$root/landing_csv"))
    var ledger = Seq.empty[Workflow.StageRun]
    val stageMs = mutable.LinkedHashMap.empty[String, Double]
    rec.op(pass, "pipeline", "workflow", "pipeline") {
      ledger = rec.span("execute", "workflow")(chain(spark, rec, root, stageMs))
      Map.empty
    }
    val outs = Seq("ingest" -> "landing", "transform" -> "transform",
      "quality" -> "canonical", "quality" -> "quality", "metrics" -> "metrics")
    val sizes = outs.groupBy(_._1).map { case (st, ds) =>
      val (b, f) = ds.map(d => Harness.dirStats(new File(s"$root/${d._2}")))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      st -> Map("output_bytes" -> b, "output_files" -> f)
    }
    rec.ops(rec.ops.size - 1) = rec.ops.last.copy(extra = rec.ops.last.extra ++ Map(
      "stage_ms" -> stageMs.toMap, "outputs" -> sizes,
      "ledger" -> ledger.map(s => Map("stage" -> s.stage, "state" -> s.state))))
    ledger
  }

  /** Every ledger stage SUCCEEDED, each output layer's row count and content
    * digest equal a reference computed in-session from the pristine CSVs
    * without parquet handoffs, and archival moved every landing byte. */
  def check(spark: SparkSession, pristine: String, csvBytes: Long, root: String,
      ledger: Seq[Workflow.StageRun]): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    ledger.filter(_.state != "SUCCEEDED").foreach(s => failures += s"pipeline ${s.stage} ${s.state}")
    if (ledger.size != stages.size) failures += s"pipeline ledger has ${ledger.size} stages"
    // every digest of both sides is one small job; run them side by side
    val (ref, cached) = reference(spark, pristine)
    val got = layers(spark, root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val pairs = try Await.result(Future.sequence(ref.toSeq.map { case (layer, df) =>
      Future(Harness.digest(df)).zip(Future(got.get(layer).flatMap(d =>
        scala.util.Try(d()).toOption))).map(layer -> _)
    }), Duration.Inf)
    finally pool.shutdown()
    cached.foreach(_.unpersist())
    pairs.foreach { case (layer, (want, have)) =>
      if (!have.contains(want))
        failures += s"pipeline $layer: want $want got ${have.getOrElse("error")}"
    }
    val archived = Harness.dirStats(new File(s"$root/archive"))
    val left = Harness.dirStats(new File(s"$root/landing_csv"))
    if (archived._1 != csvBytes || left._2 != 0)
      failures += s"pipeline archive: ${archived._1} of $csvBytes bytes archived, ${left._2} files left"
    Harness.deleteTree(new File(root))
    failures.toSeq
  }

  /** The chain, as `graft.tools.PipelineWall` runs it. */
  def chain(spark: SparkSession, rec: Recorder, root: String,
      stageMs: mutable.Map[String, Double]): Seq[Workflow.StageRun] = {
    val landingCsv = s"$root/landing_csv"
    val fenceBytes = 1L << 30
    val targetFileBytes = 256L << 20
    val smallFileBytes = 32L << 20
    val dirBytesMemo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def dirBytes(p: String): Long =
      dirBytesMemo.computeIfAbsent(p, _ => Harness.dirStats(new File(p))._1)
    def write(df: DataFrame, path: String, inputPath: String, files: Int = 4,
        partitionBy: Seq[String] = Nil, selectivity: Double = 1.0,
        keyedFence: Boolean = true): Unit = {
      val inBytes = (dirBytes(inputPath) * selectivity).toLong
      val n = math.max(files, math.min(256, (inBytes / smallFileBytes).toInt + 1))
      val fenced =
        if (partitionBy.isEmpty || !keyedFence) df.coalesce(n)
        else if (inBytes < fenceBytes) df.coalesce(files)
        else {
          val k = math.max(files, math.min(256, (inBytes / targetFileBytes).toInt))
          df.repartition(k, partitionBy.map(col): _*)
        }
      val w = fenced.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    }
    def concurrently(n: Int)(bodies: Seq[() => Unit]): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(bodies.map(b => Future(b()))), Duration.Inf)
      finally pool.shutdown()
      ()
    }
    def stage(name: String, deps: Seq[String])(body: => Unit) =
      Workflow.StageDef(name, deps)(() => {
        val t0 = System.nanoTime()
        rec.span("pipeline", name)(body)
        stageMs(name) = (System.nanoTime() - t0) / 1e6
      })
    val itemsCsv = s"$landingCsv/order_items"
    val optionsCsv = s"$landingCsv/order_item_options"
    val dateDimCsv = s"$landingCsv/date_dim"
    Workflow.run(Seq(
      stage("ingest", Nil) {
        concurrently(3)(Seq(
          () => write(ingestItems(spark, itemsCsv), s"$root/landing/order_items", itemsCsv),
          () => write(ingestOptions(spark, optionsCsv), s"$root/landing/order_item_options",
            optionsCsv),
          () => write(ingestDateDim(spark, dateDimCsv), s"$root/landing/date_dim", dateDimCsv,
            files = 1)))
      },
      stage("transform", Seq("ingest")) {
        write(TransformJob(spark.read.parquet(s"$root/landing/order_items"), MappingRules.default),
          s"$root/transform/order_items", s"$root/landing/order_items")
      },
      stage("quality", Seq("transform")) {
        val q = quality(spark.read.parquet(s"$root/transform/order_items"),
          spark.read.parquet(s"$root/landing/order_item_options"),
          spark.read.parquet(s"$root/landing/date_dim"))
        val in = s"$root/transform/order_items"
        write(q.canonical, s"$root/canonical", in, files = 8,
          partitionBy = Seq("severity"), keyedFence = false)
        write(q.priceIssues, s"$root/quality/price", in, selectivity = 0.1)
        write(q.quantityIssues, s"$root/quality/quantity", in, selectivity = 0.1)
        q.metricsInput.unpersist()
      },
      stage("metrics", Seq("quality")) {
        val base = metricsBase(spark.read.parquet(s"$root/canonical"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        base.count()
        concurrently(4)(MetricsJob.allFromBase(base).toSeq.map { case (subject, df) =>
          () => write(df, s"$root/metrics/$subject", s"$root/canonical",
            partitionBy = if (df.columns.contains("restaurant_id")) Seq("restaurant_id") else Nil,
            selectivity = 0.05)
        })
        base.unpersist()
      },
      stage("archive", Seq("metrics")) {
        Seq("order_items", "order_item_options", "date_dim").foreach { n =>
          PipelineRunner.archiveLanding(spark, s"$landingCsv/$n", s"$root/archive/$n",
            PipelineRunner.ArchiveMode.CopyVerifyDelete)
        }
      }), ledgerPath = Some(s"$root/workflow_ledger.json"))
  }

  def ingestItems(spark: SparkSession, p: String): DataFrame =
    CsvSource.withSurrogatePk(CsvSource.read(spark, p), Seq("order_id", "lineitem_id"))
      .withColumn("item_price", col("item_price").cast("double"))
      .withColumn("item_quantity", col("item_quantity").cast("int"))
      .withColumn("is_loyalty", col("is_loyalty").cast("boolean"))
  def ingestOptions(spark: SparkSession, p: String): DataFrame =
    CsvSource.read(spark, p)
      .withColumn("option_price", col("option_price").cast("double"))
      .withColumn("option_quantity", col("option_quantity").cast("int"))
  def ingestDateDim(spark: SparkSession, p: String): DataFrame =
    CsvSource.read(spark, p)
      .withColumn("year", col("year").cast("int"))
      .withColumn("month", col("month").cast("int"))
      .withColumn("is_weekend", col("is_weekend").cast("boolean"))
      .withColumn("is_holiday", col("is_holiday").cast("boolean"))
  def quality(transformed: DataFrame, options: DataFrame, dateDim: DataFrame) =
    QualityJob(transformed, options, dateDim, graft.queries.PipelineQ.thresholdsOf(transformed))
  def metricsBase(canonical: DataFrame): DataFrame =
    MetricsJob.revenueBase(canonical.filter(col("severity") =!= "high")
      .select(MetricsJob.consumedColumns.map(col): _*))

  /** Output layers of one run, each as a lazily computed digest. */
  def layers(spark: SparkSession, root: String): Map[String, () => (Long, String)] = {
    def p(rel: String) = () => Harness.digest(spark.read.parquet(s"$root/$rel"))
    val metrics = Option(new File(s"$root/metrics").list()).getOrElse(Array.empty[String])
    Map("landing/order_items" -> p("landing/order_items"),
      "landing/order_item_options" -> p("landing/order_item_options"),
      "landing/date_dim" -> p("landing/date_dim"),
      "transform" -> p("transform/order_items"), "canonical" -> p("canonical"),
      "quality/price" -> p("quality/price"), "quality/quantity" -> p("quality/quantity")) ++
      metrics.map(m => s"metrics/$m" -> p(s"metrics/$m"))
  }

  /** The same layers computed in one session from the CSVs, no handoffs;
    * also returns the frames it cached. */
  def reference(spark: SparkSession, csv: String): (Map[String, DataFrame], Seq[DataFrame]) = {
    val items = ingestItems(spark, s"$csv/order_items").cache()
    val options = ingestOptions(spark, s"$csv/order_item_options")
    val dateDim = ingestDateDim(spark, s"$csv/date_dim")
    val transformed = TransformJob(items, MappingRules.default).cache()
    val q = quality(transformed, options, dateDim)
    val canonical = q.canonical.cache()
    val base = metricsBase(canonical).cache()
    val frames = Map("landing/order_items" -> items, "landing/order_item_options" -> options,
      "landing/date_dim" -> dateDim, "transform" -> transformed, "canonical" -> canonical,
      "quality/price" -> q.priceIssues, "quality/quantity" -> q.quantityIssues) ++
      MetricsJob.allFromBase(base).map { case (s, df) => s"metrics/$s" -> df }
    (frames, Seq(items, transformed, canonical, base))
  }
}

/** One drain of each pipeline per pass; the first pass's output is kept
  * for the check. */
final class StreamDrain(spark: SparkSession, rec: Recorder, dir: String, work: String,
    maxFiles: Int) {
  import StreamDrain._
  private val rowsOut = mutable.Map.empty[String, mutable.Set[Long]]
  private val firstRows = mutable.Map.empty[String, Seq[Row]]

  def pass(r: Int, pass: String): Unit = pipes.foreach { pipe =>
    // the sink collects each batch on the driver and counts its rows
    val got = mutable.ArrayBuffer.empty[Row]
    rec.op(pass, "drain", pipe, s"$pipe#$r") {
      val (in, batches, stRows, stBytes) = rec.span("execute", pipe) {
        drain(spark, dir, maxFiles, pipe, s"$work/ckpt/$pipe$r") { b =>
          val rows = b.collect(); got.synchronized { got ++= rows }; ()
        }
      }
      Map("round" -> r, "rows_in" -> in, "rows_out" -> got.size, "batch_ms" -> batches,
        "state_rows" -> stRows, "state_bytes" -> stBytes)
    }
    rowsOut.getOrElseUpdate(pipe, mutable.Set.empty) += got.size.toLong
    if (r == 0) firstRows(pipe) = got.toSeq
  }

  /** The first pass's end state must equal the batch twin on the same
    * input, and every pass must have emitted the same number of rows. */
  def check(): Seq[String] = {
    Harness.deleteTree(new File(s"$work/ckpt"))
    val failures = mutable.ArrayBuffer.empty[String]
    val events = graft.core.Tables.canonicalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))
    pipes.foreach { pipe =>
      if (rowsOut(pipe).size != 1)
        failures += s"$pipe: passes emitted different row counts ${rowsOut(pipe)}"
      val (have, want) = twin(spark, events, pipe, firstRows(pipe))
      if (have != want)
        failures += s"$pipe: stream ${have.size} rows vs batch twin ${want.size} rows, " +
          s"${(have.diff(want) ++ want.diff(have)).take(3)}"
    }
    failures.toSeq
  }
}

/** The three `EventStreams` pipelines draining a many-file events
  * directory with `Trigger.AvailableNow` and a fixed `maxFilesPerTrigger`
  * into a `foreachBatch` sink that collects and counts each batch, one
  * drain after another. */
object StreamDrain {
  val pipes = Seq("hourly", "sessionize", "upsert")
  val gapSeconds = 7200L

  def stream(spark: SparkSession, dir: String, maxFiles: Int, pipe: String): (DataFrame, String) = {
    import spark.implicits._
    val events = EventStreams.readEventStream(spark, dir, maxFiles)
    def typed = events.select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
    pipe match {
      case "hourly" => (EventStreams.hourlyCounts(events), "update")
      case "sessionize" => (EventStreams.sessionizeClosed(typed, gapSeconds).toDF(), "append")
      case "upsert" => (EventStreams.upsertLatest(typed).toDF(), "update")
    }
  }

  /** One drain into `sink`; returns (input rows, batch durations, last
    * progress's state rows and bytes). */
  def drain(spark: SparkSession, dir: String, maxFiles: Int, pipe: String, ckpt: String)(
      sink: DataFrame => Unit): (Long, Seq[Long], Long, Long) = {
    val (df, mode) = stream(spark, dir, maxFiles, pipe)
    val q = df.writeStream.outputMode(mode)
      .foreachBatch((b: DataFrame, _: Long) => sink(b))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val prog = q.recentProgress.toSeq
    val withData = prog.filter(_.numInputRows > 0)
    val last = prog.lastOption.toSeq.flatMap(_.stateOperators)
    (prog.map(_.numInputRows).sum, withData.map(_.batchDuration),
      last.map(_.numRowsTotal).sum, last.map(_.memoryUsedBytes).sum)
  }

  /** (stream end state, batch twin), both as sorted row strings. */
  def twin(spark: SparkSession, events: DataFrame, pipe: String,
      emitted: Seq[Row]): (Seq[String], Seq[String]) = {
    def sorted(rows: Iterable[Row]) = rows.map(_.mkString("|")).toSeq.sorted
    pipe match {
      case "hourly" =>
        // update mode: the last emission of each (hour, type) group is its
        // full aggregate, and counts only grow
        val last = emitted.groupBy(r => (r.get(0), r.get(1)))
          .map(_._2.maxBy(_.getLong(2)))
        val want = EventStreams.hourlyCounts(events.select("event_id", "ts", "user_id",
          "event_type", "value"), watermark = "3650 days").collect()
        (sorted(last), sorted(want))
      case "upsert" =>
        val last = emitted.groupBy(r => (r.getLong(0), r.getString(1)))
          .map(_._2.maxBy(r => (r.getLong(2), r.getLong(3))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type").orderBy(col("ts").desc, col("event_id").desc)
        val want = events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")), col("event_id"),
            col("value")).collect()
        (sorted(last), sorted(want))
      case "sessionize" =>
        // closed sessions: gap-split per user; the input ends with one event
        // a day after the rest, so every other session has timed out
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy("us", "event_id")
        val gapUs = gapSeconds * 1000000L
        val s = events.withColumn("us", unix_micros(col("ts")))
          .withColumn("new", coalesce(col("us") - lag("us", 1).over(w) > gapUs, lit(true)))
          .withColumn("sid", sum(col("new").cast("long")).over(w))
          .groupBy("user_id", "sid")
          .agg(min("us").as("s"), max("us").as("e"), count(lit(1)).as("n"),
            graft.ops.Exact.dsum(col("value")).as("v"))
        val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val want = s.filter(col("e") < maxUs).select("user_id", "s", "e", "n", "v").collect()
        // total_value is a double running sum in state; compare it rounded
        def norm(rows: Iterable[Row]) = rows.map(r => Seq(r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), f"${r.getDouble(4)}%.6f").mkString("|")).toSeq.sorted
        (norm(emitted), norm(want))
    }
  }
}
