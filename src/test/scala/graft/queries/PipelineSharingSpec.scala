package graft.queries

import graft.{SparkEntry, SparkTestBase}
import graft.core.Memo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** The pipeline family's in-session sharing: one `Memo` entry per
  * (session, dir) persists the q63 transform layer and the full canonical
  * quality frame, so q64/q65 read built frames instead of each re-running
  * the regex transform and the threshold/options/date join chain. Pins
  *  (1) q64 and q65 read ONE persisted frame, the canonical one, and scan
  *      no input file outside it;
  *  (2) that canonical frame is built from the persisted transform q63
  *      reads, not from a second transform;
  *  (3) rows equal a rebuild after the family's memo release, and the
  *      rebuild is a fresh cache entry (the release really unpersisted).
  * Correctness against DuckDB is the 10 pipeline oracles' territory.
  */
class PipelineSharingSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val readers = Seq("q64_pipeline_quality_final", "q65_pipeline_quality_quarantine")

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The persisted frames a plan reads (the optimizer substitutes an
    * InMemoryRelation for every cached subtree).
    */
  private def cachedReads(df: DataFrame): Seq[InMemoryRelation] =
    df.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }

  /** Every file a frame's plan scans — directly (inputFiles) or through a
    * persisted subtree, whose scans live in its (adaptive) cachedPlan.
    */
  private def scanFiles(df: DataFrame): Seq[String] =
    df.inputFiles.toSeq ++ cachedReads(df).flatMap(r =>
      collect(r.cachedPlan) { case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq }
        .flatten)

  /** The one persisted canonical frame `name` reads; it must be built on
    * `transform`.
    */
  private def canonicalRead(name: String, transform: InMemoryRelation): InMemoryRelation = {
    val df = query(name)
    val reads = cachedReads(df)
    assert(reads.size == 1,
      s"$name must read exactly one persisted frame:\n${df.queryExecution.optimizedPlan}")
    val canonical = reads.head
    assert(canonical.output.exists(_.name == "severity"),
      s"$name must read the persisted canonical frame, not the transform:\n$canonical")
    assert(df.inputFiles.isEmpty && scanFiles(df).nonEmpty,
      s"$name must scan its inputs only inside the canonical frame:\n" +
        df.inputFiles.mkString("\n"))
    val inner = collect(canonical.cachedPlan) { case s: InMemoryTableScanExec => s.relation }
    assert(inner.nonEmpty && inner.forall(_.cacheBuilder eq transform.cacheBuilder),
      s"$name's canonical frame must read q63's persisted transform:\n${canonical.cachedPlan}")
    canonical
  }

  private def transformRead(): InMemoryRelation = {
    val q63 = query("q63_pipeline_transform")
    val reads = cachedReads(q63)
    assert(reads.size == 1,
      s"q63 must read the persisted transform:\n${q63.queryExecution.optimizedPlan}")
    reads.head
  }

  test("q64/q65 read q63's persisted frames; rows stable") {
    Memo.release(spark, "pipeline:")
    try {
      val transform = transformRead()
      query("q63_pipeline_transform").count()
      val canonical = readers.map(canonicalRead(_, transform))
      assert(canonical.forall(_.cacheBuilder eq canonical.head.cacheBuilder),
        "q64 and q65 must share one canonical frame")
      val built = readers.map(n => rows(query(n)))

      Memo.release(spark, "pipeline:")
      val rebuilt = readers.map(canonicalRead(_, transformRead()))
      assert(!(rebuilt.head.cacheBuilder eq canonical.head.cacheBuilder),
        "the release must unpersist the canonical frame; the rebuild reused it")
      readers.zip(built).foreach { case (n, want) =>
        assert(rows(query(n)) == want, s"$n rows diverge from the rebuild")
      }
    } finally Memo.release(spark, "pipeline:")
  }
}
