package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session definition. Bench, Verify, the tools and the test
  * suites build through it, so the settings the oracle gate and the tests
  * pass under are the settings that are graded. AQE's `parallelismFirst`
  * comes from `SPARK_GRAFT_AQE_PF` (default `true`); with `false` AQE
  * coalesces toward `advisoryPartitionSizeInBytes` instead of the core
  * count. Log level and runtime SQL settings stay with each caller.
  */
object LocalSession {

  /** `local[cores]` with one shuffle partition per core, UTC, AQE on, a
    * 64 MB broadcast threshold and UI off; all but the warehouse dir. */
  private[graft] def settings(cores: Int, localDir: Option[String]): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_PF", "true"),
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
    "spark.ui.enabled" -> "false") ++ localDir.map("spark.local.dir" -> _)

  /** Build (or join) the JVM's session, with a warehouse dir deleted on exit.
    * `cores` defaults to `SPARK_GRAFT_CPUS`, else every processor. */
  def apply(cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.trim.toInt),
      localDir: Option[String] = None): SparkSession =
    SparkSession.builder().config(settings(cores, localDir))
      .config("spark.sql.warehouse.dir", Scratch.dir("graft-warehouse")).getOrCreate()
}
