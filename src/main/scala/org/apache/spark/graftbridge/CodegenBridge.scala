package org.apache.spark.graftbridge

import org.apache.spark.metrics.source.CodegenMetrics

/** Bridge to Spark's `private[spark]` codegen metrics. */
object CodegenBridge {
  /** Classes Janino has compiled in this JVM so far: one per miss of
    * `CodeGenerator`'s JVM-wide class cache, whatever session or
    * thread generated the code. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
