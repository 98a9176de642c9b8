package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the traced run reads, behind Spark's package
  * boundary: draining the listener bus (so every job, stage and task event of
  * one operation is counted before the next operation starts) and the
  * process-wide codegen counters, which task threads and the driver share in
  * local mode.
  */
object Access {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (classes compiled, nanoseconds spent compiling) since JVM start. */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
