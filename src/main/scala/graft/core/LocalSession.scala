package graft.core

import scala.util.chaining._

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

  /** Build (or join) the JVM's session, with a warehouse dir deleted on exit,
    * and give the caller its task loader ([[adoptTaskLoader]]). `cores`
    * defaults to `SPARK_GRAFT_CPUS`, else every processor. */
  def apply(cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.trim.toInt),
      localDir: Option[String] = None): SparkSession =
    SparkSession.builder().config(settings(cores, localDir))
      .config("spark.sql.warehouse.dir", Scratch.dir("graft-warehouse")).getOrCreate()
      .tap(adoptTaskLoader)

  @volatile private var captured: ClassLoader = _
  private val taskLoaders = new java.util.WeakHashMap[SparkSession, ClassLoader]()

  /** Set the caller's context classloader to the one `spark`'s SQL tasks run
    * under, so that each generated class is compiled once. Spark keys its
    * codegen cache on that loader. A whole-stage class is compiled on the
    * driver for its size check, on AQE pool threads that inherit their
    * creator's loader, and again in a task, under the session's executor
    * loader: two loaders, two compiles, two cache entries. Pool threads the
    * caller creates afterwards inherit the task loader.
    *
    * Local mode only, because only there do the driver and the executors
    * share one JVM. The task loader resolves parent-first and adds no
    * classes, so class lookup does not change. One tiny job per session
    * captures it; later calls only set it on the caller.
    */
  def adoptTaskLoader(spark: SparkSession): Unit =
    if (spark.sparkContext.isLocal) {
      val loader = taskLoaders.synchronized {
        taskLoaders.computeIfAbsent(spark, _ => {
          spark.range(1).foreachPartition((_: Iterator[java.lang.Long]) =>
            captured = Thread.currentThread.getContextClassLoader)
          captured
        })
      }
      Thread.currentThread.setContextClassLoader(loader)
    }
}
