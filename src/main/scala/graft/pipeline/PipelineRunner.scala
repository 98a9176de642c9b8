package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** End-to-end pipeline orchestration — the engine's analog of the
  * reference's Glue workflow (`cloudformation/06_glueworkflow.yml:24-88`):
  * four jobs chained by [[Workflow]], each reading its predecessor's parquet
  * output (the S3 handoff), plus landing archival as a fifth stage. This is
  * the one chain: PipelineGoldenSpec tests it, `graft.tools.PipelineWall`
  * times it.
  *
  * Layers keep the reference's names (`cloudformation/05_gluejobs.yml:97-101`)
  * under `outRoot`: `landing/<table>`, `transform/order_items`, `quality/{price,
  * quantity}`, `metrics/<subject>` (by restaurant_id, S6). The canonical
  * rows are written ONCE as `canonical`, partitioned by `severity`: `final`
  * is its `severity != 'high'` partitions and `quality/final` (the HIGH
  * quarantine) its `'high'` partition, both partition-pruned reads, so the
  * all-broadcast canonical chain runs once (VERDICT r17 item 2). Control
  * plane: sized small-file control (S7), skip-empty-write (P9), the run
  * manifest (S8, `go-incremental-ingest-elt.py:305-318`) next to the
  * Workflow ledger, and archival (S10, [[archiveLanding]]).
  */
object PipelineRunner {

  final case class StageResult(stage: String, rows: Long, path: String)

  final case class RunResult(stages: Seq[StageResult], manifestPath: String,
      ledger: Seq[Workflow.StageRun])

  /** Declared types of each landing table. CSV reads are all-string (S3);
    * a declared column the CSV does not carry is left out, not an error.
    */
  private val itemTypes = Map("item_price" -> "double", "item_quantity" -> "int",
    "is_loyalty" -> "boolean")
  private val optionTypes = Map("option_price" -> "double", "option_quantity" -> "int")
  private val dateDimTypes = Map("year" -> "int", "month" -> "int", "week" -> "int",
    "is_weekend" -> "boolean", "is_holiday" -> "boolean")

  private def typed(df: DataFrame, types: Map[String, String]): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      types.get(c).fold(col(c))(t => col(c).cast(t).as(c))): _*)

  private val smallFileBytes = 32L << 20
  private val targetFileBytes = 256L << 20
  private val fenceBytes = 1L << 30

  /** Bytes under `path`, from the content summary of the path's own Hadoop
    * FileSystem — so a `file:`-qualified or non-local path sizes the same
    * as a plain local one instead of reading as 0 bytes.
    */
  private[pipeline] def inputBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** S7: one file per ~32 MB of input, SMOOTH in bytes (a 1 GiB small/big
    * cliff put the 10× point's 668 MB under it: 10× ingest ran slower than
    * 30×). sf0.1 lands at the `files` floor.
    */
  private[pipeline] def writeTasks(inBytes: Long, files: Int): Int =
    math.max(files, math.min(256, (inBytes / smallFileBytes).toInt + 1))

  /** Rows in the parquet files under `path`, summed from their footers on
    * the driver (no Spark job); 0 when `path` does not exist. Plain
    * `listStatus` and one read-options object: `listFiles`' located statuses
    * and per-file Hadoop read options cost ~16 ms a file on a local disk.
    */
  private def footerRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val options = ParquetReadOptions.builder().build()
    def rows(st: FileStatus): Long =
      if (st.isDirectory)
        fs.listStatus(st.getPath).filterNot(c => "_.".contains(c.getPath.getName.head))
          .map(rows).sum
      else {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
        try r.getRecordCount finally r.close()
      }
    if (fs.exists(p)) rows(fs.getFileStatus(p)) else 0L
  }

  /** The one sized writer; returns `stage`'s manifest entry (S8).
    *
    * Sized from the stage's main INPUT bytes (`inBytes`, times the expected
    * output share for narrow filters and aggregates), so file counts track
    * data volume. Plain writes coalesce: a fixed coalesce(4) collapsed the
    * map-only stages' whole compute to 4 tasks (VERDICT r16 item 3), and a
    * repartition fence shuffled the full output (42 s vs 17 s ingest at 30×).
    * Keyed writes above [[fenceBytes]] repartition on the keys, one file per
    * key per holding task; `keyedFence = false` keeps a low-cardinality key
    * (severity: 3 values) on the coalesce, which would otherwise collapse
    * the upstream compute to 3 tasks.
    *
    * P9 (`go-quality-elt.py:129-132`): rows come from the written footers,
    * and an empty output is rewritten as one schema-only, unpartitioned file
    * (an empty partitioned write lands none), so a re-run with zero rows
    * cannot leave stale rows behind.
    */
  private def write(stage: String, df: DataFrame, path: String, inBytes: Long,
      files: Int = 4, partitionBy: Seq[String] = Nil,
      keyedFence: Boolean = true): StageResult = {
    val sized =
      if (partitionBy.isEmpty || !keyedFence) df.coalesce(writeTasks(inBytes, files))
      else if (inBytes < fenceBytes) df.coalesce(files)
      else df.repartition(math.max(files, math.min(256, (inBytes / targetFileBytes).toInt)),
        partitionBy.map(col): _*)
    val w = sized.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    val rows = footerRows(df.sparkSession, path)
    if (rows == 0) df.limit(0).write.mode(SaveMode.Overwrite).parquet(path)
    StageResult(stage, rows, path)
  }

  /** Runs `bodies` on `n` threads and waits for all of them: independent
    * writes share the cores like concurrent SQL statements, instead of each
    * one's task tail and shuffle barrier idling the rest.
    */
  private def concurrently[A](n: Int)(bodies: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(bodies.map(b => Future(b()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** How [[archiveLanding]] moves a file. `Rename` is atomic per file and
    * O(1) on HDFS/local — but on object stores (S3A, GCS connectors)
    * "rename" is a full server-side copy followed by a delete with NO
    * atomicity, and some connectors reject directory renames outright.
    * `CopyVerifyDelete` makes that reality explicit and safe: copy, verify
    * the destination's length against the source, and only then delete —
    * the reference's `copy_object` + `delete_object` sequence
    * (`go-transform-elt.py:295-311`) with a verification step between, so
    * a truncated copy can never cost the only copy of the data.
    */
  sealed trait ArchiveMode
  object ArchiveMode {
    case object Rename extends ArchiveMode
    case object CopyVerifyDelete extends ArchiveMode
  }

  /** Move one file into `dstDir` (basename-keyed) under `mode`, with
    * overwrite semantics like the reference's S3 copy+delete: a re-run
    * archiving a same-named file replaces the old archive copy instead of
    * failing the whole run after every stage already succeeded (HDFS/local
    * rename returns false when the destination exists). On a failed
    * verify, the DESTINATION copy is removed and the source preserved.
    */
  private def moveOne(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dstDir: org.apache.hadoop.fs.Path,
      mode: ArchiveMode,
      conf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.Path = {
    val target = new org.apache.hadoop.fs.Path(dstDir, src.getName)
    if (fs.exists(target)) fs.delete(target, false)
    mode match {
      case ArchiveMode.Rename =>
        if (!fs.rename(src, target))
          throw new java.io.IOException(s"archival rename failed: $src -> $target")
      case ArchiveMode.CopyVerifyDelete =>
        val srcLen = fs.getFileStatus(src).getLen
        if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, target,
            /*deleteSource=*/ false, /*overwrite=*/ true, conf))
          throw new java.io.IOException(s"archival copy failed: $src -> $target")
        val dstLen = fs.getFileStatus(target).getLen
        if (dstLen != srcLen) {
          fs.delete(target, false)
          throw new java.io.IOException(
            s"archival verify failed: $src ($srcLen B) -> $target ($dstLen B); " +
              "source preserved")
        }
        fs.delete(src, false)
    }
    target
  }

  /** S10 — landing archival: move every file under `srcDir` (or `srcDir`
    * itself, when it is a file) to `dstDir` (flat, basename-keyed),
    * re-expressing the reference's copy+delete S3 prefix move
    * (`go-transform-elt.py:295-311`, `go-quality-elt.py:59-73`).
    * Default mode is `Rename` (atomic-per-file on HDFS/local); pass
    * [[ArchiveMode.CopyVerifyDelete]] for object-store targets — see
    * [[ArchiveMode]]. Returns the moved paths.
    */
  def archiveLanding(spark: SparkSession, srcDir: String, dstDir: String,
      mode: ArchiveMode = ArchiveMode.Rename): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) return Nil
    val dst = new Path(dstDir)
    fs.mkdirs(dst)
    val files = fs.listStatus(src).filter(_.isFile)
    files.map(st => moveOne(fs, st.getPath, dst, mode, conf).toString).toSeq
  }

  /** Run the chain on three landing CSVs (files or directories) into
    * `outRoot`. `thresholds` derives the quality stage's severity bounds
    * from the transformed frame (see [[QualityJob.withSeverity]]). With
    * `archiveTo`, a fifth stage moves each landing path there once every
    * layer is written: a file to `<archiveTo>/<name>`, a directory's files
    * to `<archiveTo>/<name>/`.
    *
    * Writes the manifest and the Workflow ledger, then throws if any stage
    * did not succeed.
    */
  def run(spark: SparkSession, orderItemsCsv: String, optionsCsv: String,
      dateDimCsv: String, thresholds: DataFrame => DataFrame, outRoot: String,
      rules: MappingRuleSet = MappingRules.default,
      archiveTo: Option[String] = None,
      archiveMode: ArchiveMode = ArchiveMode.Rename): RunResult = {
    val manifest = mutable.ArrayBuffer.empty[StageResult]
    def layer(name: String) = s"$outRoot/$name"
    def bytes(name: String) = inputBytes(spark, layer(name))

    val chain = Seq(
      Workflow.StageDef("ingest_elt")(() => {
        // CSV → typed landing with surrogate keys (S3 + the loader leg). The
        // three legs are independent, so the small options/date_dim legs
        // fill the items leg's task tails instead of running after it.
        manifest ++= concurrently(3)(Seq(
          () => write("landing_items", typed(
            CsvSource.withSurrogatePk(CsvSource.read(spark, orderItemsCsv),
              Seq("order_id", "lineitem_id")), itemTypes),
            layer("landing/order_items"), inputBytes(spark, orderItemsCsv)),
          () => write("landing_options", typed(CsvSource.read(spark, optionsCsv), optionTypes),
            layer("landing/order_item_options"), inputBytes(spark, optionsCsv)),
          () => write("landing_date_dim", typed(CsvSource.read(spark, dateDimCsv), dateDimTypes),
            layer("landing/date_dim"), inputBytes(spark, dateDimCsv), files = 1)))
      }),
      Workflow.StageDef("transform_elt", Seq("ingest_elt"))(() => {
        manifest += write("transform",
          TransformJob(spark.read.parquet(layer("landing/order_items")), rules),
          layer("transform/order_items"), bytes("landing/order_items"))
      }),
      Workflow.StageDef("quality_elt", Seq("transform_elt"))(() => {
        val transformed = spark.read.parquet(layer("transform/order_items"))
        val q = QualityJob(transformed, spark.read.parquet(layer("landing/order_item_options")),
          spark.read.parquet(layer("landing/date_dim")), thresholds(transformed))
        val in = bytes("transform/order_items")
        // the severity split is ONE write; final and quarantine are its partitions
        val canonical = write("canonical", q.canonical, layer("canonical"), in, files = 8,
          partitionBy = Seq("severity"), keyedFence = false)
        val high = footerRows(spark, layer("canonical/severity=high"))
        manifest ++= Seq(canonical,
          StageResult("quality_final", canonical.rows - high, canonical.path),
          StageResult("quality_quarantine", high, canonical.path),
          write("quality_price", q.priceIssues, layer("quality/price"), (in * 0.1).toLong),
          write("quality_quantity", q.quantityIssues, layer("quality/quantity"),
            (in * 0.1).toLong))
      }),
      Workflow.StageDef("metric_elt", Seq("quality_elt"))(() => {
        // the published final table projected to the consumed columns, with
        // the shared rename+revenue prefix (A2) persisted ONCE — the
        // reference's own idiom (`go-transform-elt.py:338`) — so the eleven
        // writers read one cached columnar table instead of eleven re-reads
        val base = MetricsJob.revenueBase(spark.read.parquet(layer("canonical"))
          .filter(col("severity") =!= "high")
          .select(MetricsJob.consumedColumns.map(col): _*))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          base.count() // materialize before the fan-out races on the cache
          // per-restaurant/date aggregates: tiny against the input
          val in = (bytes("canonical") * 0.05).toLong
          manifest ++= concurrently(4)(MetricsJob.allFromBase(base).toSeq.map {
            case (subject, df) => () =>
              write(s"metrics_$subject", df, layer(s"metrics/$subject"), in, partitionBy =
                if (df.columns.contains("restaurant_id")) Seq("restaurant_id") else Nil)
          })
        } finally base.unpersist()
      })) ++ archiveTo.map(dst => Workflow.StageDef("archive_landing", Seq("metric_elt"))(() => {
        Seq(orderItemsCsv, optionsCsv, dateDimCsv).foreach { f =>
          val p = new Path(f)
          val isFile = p.getFileSystem(spark.sparkContext.hadoopConfiguration).isFile(p)
          archiveLanding(spark, f, if (isFile) dst else s"$dst/${p.getName}", archiveMode)
        }
      }))

    val ledger = Workflow.run(chain, ledgerPath = Some(layer("workflow_ledger.json")))

    // run manifest (S8) — control plane, driver-side by design
    val manifestPath = layer("run_manifest.json")
    val json = manifest.map(s =>
      s"""{"stage":"${s.stage}","rows":${s.rows},"path":"${s.path}"}""")
      .mkString("[", ",", "]")
    Workflow.writeText(manifestPath, json, spark.sparkContext.hadoopConfiguration)

    val failed = ledger.filter(_.state != "SUCCEEDED")
    if (failed.nonEmpty)
      throw new IllegalStateException(s"pipeline: non-SUCCEEDED stages: ${failed.mkString(", ")}")
    RunResult(manifest.toSeq, manifestPath, ledger)
  }
}
