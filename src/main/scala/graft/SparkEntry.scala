package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data
  * pipeline operators) is declared here as a named query with a DuckDB
  * oracle. The driver runs `queries` via [[Verify]] at sf0.01 and compares
  * against `oracleSql` results.
  */
object SparkEntry {

  /** Query definitions grouped by family (one group per query file).
    * The grouping is a REAL boundary, not just organization: every
    * [[graft.core.Memo]] artifact is shared only within its own file's
    * queries, so [[Bench]] releases all memoized caches at each group
    * boundary — the suite's pinned footprint is one family's artifacts,
    * not all 21 families' at once.
    */
  def defGroups: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> Relational.defs, "windows" -> WindowsQ.defs,
    "text" -> TextQ.defs, "dedup" -> DedupQ.defs,
    "similarity" -> SimilarityQ.defs, "events" -> EventsQ.defs,
    "parity" -> ParityQ.defs, "asof" -> AsOfQ.defs,
    "stats" -> StatsQ.defs, "pipeline" -> PipelineQ.defs,
    "jdbc" -> JdbcQ.defs, "layout" -> LayoutQ.defs,
    "skew" -> SkewQ.defs, "pack" -> PackQ.defs,
    "media" -> MediaQ.defs, "merge" -> MergeQ.defs,
    "corpusstats" -> CorpusStatsQ.defs, "graph" -> GraphQ.defs,
    "formats" -> FormatsQ.defs, "analytics" -> AnalyticsQ.defs,
    "reshape" -> ReshapeQ.defs, "streamparity" -> StreamParityQ.defs)

  /** All query definitions, in family order. */
  def allDefs: Seq[QueryDef] = defGroups.flatMap(_._2)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.core.LocalSession.adoptTaskLoader(spark)
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each entry, like
    * [[entry]], first calls [[graft.core.LocalSession.adoptTaskLoader]], so
    * it compiles each generated class once whoever built the session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> { (spark: SparkSession, dir: String) =>
      graft.core.LocalSession.adoptTaskLoader(spark); d.fn(spark, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
