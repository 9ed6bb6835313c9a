package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The few Spark internals the benchmark reads: the listener-bus drain and
  * the JVM-wide codegen counters. They are `private[spark]`, hence this
  * package. Read-only: nothing here changes Spark's behaviour.
  */
object PerfbenchProbe {

  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Generated classes compiled so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent compiling generated code so far in this JVM. */
  def codegenNanos: Long = CodeGenerator.compileTime
}
