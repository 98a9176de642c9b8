package graft.core

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Each whole-stage class is compiled once: the driver's size-check compile
  * on AQE pool threads and the task's compile share one codegen-cache entry
  * because [[LocalSession.adoptTaskLoader]] gives the query thread, and so
  * the pool threads it creates, the loader the tasks run under.
  *
  * The forked test JVM shares one session and one codegen cache, so the
  * measured aggregate puts a literal new to the JVM into every whole-stage
  * class. A warm-up of the same shape first compiles everything that does
  * not depend on the literal (partition-key projection, row deserializer),
  * on the same thread.
  */
class CompileOnceSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** Both whole-stage classes (range + partial aggregate; final aggregate +
    * project) carry `u` inlined in their source. */
  private def aggregate(u: Long) =
    spark.range(0, 1000, 1, 4)
      .select((col("id") * lit(u)).as("x"), (col("id") % 7).as("k"))
      .groupBy("k").agg(sum("x").as("s"))
      .select((col("s") + lit(u)).as("t"))

  /** (classes compiled, whole-stage operators in the executed plan) for one
    * run of a never-seen aggregate, after a warm-up of the same shape. */
  private def compilesAndStages(): (Long, Int) = {
    aggregate(System.nanoTime()).collect()
    val df = aggregate(System.nanoTime())
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    df.collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    (compiles, collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w }.size)
  }

  test("a session built by LocalSession compiles each whole-stage class once") {
    val (compiles, stages) = compilesAndStages()
    assert(stages >= 2)
    assert(compiles == stages, s"$compiles compiles for $stages whole-stage classes")
  }

  test("a thread on the system loader compiles once after entering through SparkEntry.queries") {
    var got: Either[Throwable, (Long, Int)] = Left(new IllegalStateException("not run"))
    val t = new Thread(() => {
      got = try {
        SparkEntry.queries("q01_pricing_summary")(spark, sf)
          .write.format("noop").mode("overwrite").save()
        Right(compilesAndStages())
      } catch { case e: Throwable => Left(e) }
    })
    t.setContextClassLoader(ClassLoader.getSystemClassLoader)
    t.start()
    t.join()
    val (compiles, stages) = got.fold(e => throw e, identity)
    assert(stages >= 2)
    assert(compiles == stages, s"$compiles compiles for $stages whole-stage classes")
  }
}
