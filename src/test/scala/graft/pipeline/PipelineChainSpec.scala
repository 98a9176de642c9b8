package graft.pipeline

import graft.SparkTestBase
import graft.queries.PipelineQ
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** [[PipelineRunner.run]] — the handoff chain `graft.tools.PipelineWall`
  * times — against the same frames built in one session with no parquet
  * handoffs, on the q63 feed's landing CSVs written the way the wall writes
  * them. Each layer is compared by (row count, order-insensitive xxhash64
  * sum over the columns in name order), so the partitioned layers' column
  * move on read-back does not matter.
  */
class PipelineChainSpec extends SparkTestBase {

  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*)
      .cast("decimal(38,0)").as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private lazy val dir = graft.core.Scratch.dir("graft-chain")

  private def csvOut(df: DataFrame, name: String): String = {
    val p = s"$dir/landing_csv/$name"
    df.write.option("header", "true").mode(SaveMode.Overwrite).csv(p)
    p
  }

  private lazy val itemsCsv = csvOut(PipelineQ.feed(spark, sf), "order_items")
  private lazy val optionsCsv = csvOut(PipelineQ.options(spark, sf), "order_item_options")
  private lazy val dateDimCsv = csvOut(PipelineQ.dateDim(spark, sf), "date_dim")

  test("the handoff chain's layers equal an in-session reference") {
    // reference: the same stage code over in-session frames
    val items = CsvSource.withSurrogatePk(CsvSource.read(spark, itemsCsv),
      Seq("order_id", "lineitem_id"))
      .withColumn("item_price", col("item_price").cast("double"))
      .withColumn("item_quantity", col("item_quantity").cast("int"))
      .withColumn("is_loyalty", col("is_loyalty").cast("boolean"))
      .cache()
    val options = CsvSource.read(spark, optionsCsv)
      .withColumn("option_price", col("option_price").cast("double"))
      .withColumn("option_quantity", col("option_quantity").cast("int"))
    val dateDim = CsvSource.read(spark, dateDimCsv)
      .withColumn("year", col("year").cast("int"))
      .withColumn("month", col("month").cast("int"))
      .withColumn("is_weekend", col("is_weekend").cast("boolean"))
      .withColumn("is_holiday", col("is_holiday").cast("boolean"))
    val transformed = TransformJob(items, MappingRules.default).cache()
    val q = QualityJob(transformed, options, dateDim, PipelineQ.thresholdsOf(transformed))
    val canonical = q.canonical.cache()
    val base = MetricsJob.revenueBase(canonical.filter(col("severity") =!= "high")
      .select(MetricsJob.consumedColumns.map(col): _*)).cache()
    val metrics = MetricsJob.allFromBase(base)
    val ref = Map(
      "landing/order_items" -> items, "landing/order_item_options" -> options,
      "landing/date_dim" -> dateDim, "transform/order_items" -> transformed,
      "canonical" -> canonical, "final" -> q.finalDf, "quality/final" -> q.quarantine,
      "quality/price" -> q.priceIssues, "quality/quantity" -> q.quantityIssues) ++
      metrics.map { case (s, df) => s"metrics/$s" -> df }
    val want = ref.map { case (layer, df) => layer -> digest(df) }
    Seq(items, transformed, canonical, base).foreach(_.unpersist())

    val out = s"$dir/out"
    val r = PipelineRunner.run(spark, itemsCsv, optionsCsv, dateDimCsv,
      PipelineQ.thresholdsOf, out)
    assert(r.ledger.map(s => s.stage -> s.state) == Seq("ingest_elt", "transform_elt",
      "quality_elt", "metric_elt").map(_ -> "SUCCEEDED"))
    val canon = spark.read.parquet(s"$out/canonical")
    val got = ref.keys.map {
      case "final" => "final" -> digest(canon.filter(col("severity") =!= "high"))
      case "quality/final" => "quality/final" -> digest(canon.filter(col("severity") === "high"))
      case layer => layer -> digest(spark.read.parquet(s"$out/$layer"))
    }.toMap
    ref.keys.toSeq.sorted.foreach { layer =>
      assert(got(layer) == want(layer), s"layer $layer")
      assert(want(layer)._1 > 0, s"layer $layer is empty; the check would be vacuous")
    }
    assert(new java.io.File(s"$out/metrics").list().toSet == metrics.keySet)

    // the manifest's footer counts are the layers' row counts
    val rows = r.stages.map(s => s.stage -> s.rows).toMap
    assert(rows("landing_items") == want("landing/order_items")._1)
    assert(rows("transform") == want("transform/order_items")._1)
    assert(rows("quality_final") == want("final")._1)
    assert(rows("quality_quarantine") == want("quality/final")._1)
    metrics.keys.foreach(s => assert(rows(s"metrics_$s") == want(s"metrics/$s")._1, s))
  }

  test("a failed stage skips its dependents, is in the ledger and fails the run") {
    val out = s"$dir/failing"
    val e = intercept[IllegalStateException] {
      PipelineRunner.run(spark, itemsCsv, optionsCsv, dateDimCsv,
        _ => sys.error("no thresholds"), out)
    }
    assert(e.getMessage.contains("quality_elt"))
    def read(name: String) = Files.readString(java.nio.file.Paths.get(s"$out/$name"))
    val ledger = read("workflow_ledger.json")
    assert(ledger.contains("\"stage\":\"quality_elt\",\"state\":\"FAILED\""))
    assert(ledger.contains("no thresholds"))
    assert(ledger.contains("\"stage\":\"metric_elt\",\"state\":\"SKIPPED\""))
    val manifest = read("run_manifest.json")
    assert(manifest.contains("\"stage\":\"transform\"") && !manifest.contains("metrics_"))
  }

  test("a file: URI out root puts the manifest and the ledger beside its layers") {
    val local = java.nio.file.Paths.get(graft.core.Scratch.dir("graft-chain-uri"))
    val out = local.toUri.toString.stripSuffix("/")
    assert(out.startsWith("file:"))
    intercept[IllegalStateException] {
      PipelineRunner.run(spark, itemsCsv, optionsCsv, dateDimCsv,
        _ => sys.error("no thresholds"), out)
    }
    assert(Files.isDirectory(local.resolve("transform/order_items")))
    val ledger = local.resolve("workflow_ledger.json")
    val manifest = local.resolve("run_manifest.json")
    assert(Files.isRegularFile(ledger), s"no ledger at $ledger")
    assert(Files.isRegularFile(manifest), s"no manifest at $manifest")
    assert(Files.readString(ledger).contains("\"stage\":\"quality_elt\",\"state\":\"FAILED\""))
    assert(Files.readString(manifest).contains("\"stage\":\"transform\""))
  }

  test("write sizing reads bytes through the path's FileSystem: file: URI = plain path") {
    // a sparse 100 MB file: three 32 MB steps above the 1-task floor, no disk used
    val sized = java.nio.file.Paths.get(graft.core.Scratch.dir("graft-sizing"))
    val f = new java.io.RandomAccessFile(sized.resolve("part-00000.csv").toFile, "rw")
    try f.setLength(100L << 20) finally f.close()
    val plain = PipelineRunner.inputBytes(spark, sized.toString)
    val qualified = PipelineRunner.inputBytes(spark, sized.toUri.toString)
    assert(sized.toUri.toString.startsWith("file:"))
    assert(plain == (100L << 20) && qualified == plain)
    assert(PipelineRunner.writeTasks(qualified, files = 1) ==
      PipelineRunner.writeTasks(plain, files = 1))
    assert(PipelineRunner.writeTasks(plain, files = 1) == 4)
  }
}
