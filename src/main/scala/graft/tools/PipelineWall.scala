package graft.tools

import java.util.Locale

import graft.pipeline.PipelineRunner
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Glue-parity END-TO-END pipeline wall clock (VERDICT r14 stretch item 8):
  * one number for the full Ingest→Transform→Quality→Metrics chain plus the
  * S10 landing archival (copy-verify-delete), run as [[PipelineRunner.run]]
  * runs it — four jobs chained by the Workflow control plane, each reading
  * its predecessor's persisted parquet output.
  *
  * This intentionally does NOT reuse q63–q72's memoized single-session
  * artifacts: every stage pays its real read + compute + write, so the
  * number is comparable to the reference's 4-job capacity facts
  * (BASELINE.md:12-16 — 10 G.1X workers = 40 vCPU per job; the wall runs
  * at `graft.core.LocalSession`'s core count, every core by default).
  *
  * Untimed producer setup: the synthetic order_items/options/date_dim CSVs
  * (PipelineQ's generators — the same feed the q63 gate uses) land in
  * `<outRoot>/landing_csv` first; the measured window is the whole
  * [[PipelineRunner.run]] call, and `stages` are its Workflow ledger's
  * per-stage walls.
  *
  * Prints ONE JSON line {"metric":"pipeline_wall","sf_dir":...,
  * "stages":{...},"value":<wall s>}.
  * Usage: runMain graft.tools.PipelineWall [sfDir] [outRoot]
  */
object PipelineWall {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outRoot = args.lift(1).getOrElse("target/pipeline_wall")
    val spark = graft.core.LocalSession()
    // finer scan splits than the 128 MB default: the wall's stages are
    // scan→compute map chains, so scan splits ARE the compute
    // parallelism — at 30× the 2 GB landing parquet would otherwise
    // split 16-way on a 32-thread box (half the cores idle through the
    // regex chain). 64 MB keeps every stage core-bound at the measured
    // scale points while costing nothing at sf0.1.
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${64 * 1024 * 1024}")
    spark.sparkContext.setLogLevel("WARN")

    // ---- untimed producer setup: CSVs into the landing zone
    val landingCsv = s"$outRoot/landing_csv"
    def csvOut(df: DataFrame, name: String): String = {
      val p = s"$landingCsv/$name"
      df.write.option("header", "true").mode(SaveMode.Overwrite).csv(p)
      p
    }
    val itemsCsv = csvOut(graft.queries.PipelineQ.feed(spark, sfDir), "order_items")
    val optionsCsv = csvOut(graft.queries.PipelineQ.options(spark, sfDir), "order_item_options")
    val dateDimCsv = csvOut(graft.queries.PipelineQ.dateDim(spark, sfDir), "date_dim")

    // ---- the measured window
    val t0 = System.nanoTime()
    val r = PipelineRunner.run(spark, itemsCsv, optionsCsv, dateDimCsv,
      graft.queries.PipelineQ.thresholdsOf, outRoot, archiveTo = Some(s"$outRoot/archive"),
      archiveMode = PipelineRunner.ArchiveMode.CopyVerifyDelete)
    val wall = (System.nanoTime() - t0) / 1e9

    def sec(s: Double) = String.format(Locale.ROOT, "%.2f", Double.box(s))
    val stages = r.ledger.map(s => "\"" + s.stage + "\":" + sec(s.wallMs / 1e3)).mkString(",")
    println(s"""{"metric":"pipeline_wall","sf_dir":"$sfDir","stages":{$stages},""" +
      s""""value":${sec(wall)},"unit":"sec"}""")
    spark.stop()
  }
}
