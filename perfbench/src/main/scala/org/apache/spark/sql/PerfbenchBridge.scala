package org.apache.spark.sql

/** Read-only access to two `private[spark]` hooks the tracer needs. Lives in
  * Spark's package solely for access; nothing in Spark is modified. */
object PerfbenchBridge {
  /** Block until every event posted so far has reached every listener, so
    * the events of one op are all counted before the next op starts. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** JVM-wide Janino compile time so far, in nanoseconds. */
  def codegenCompileNanos: Long =
    catalyst.expressions.codegen.CodeGenerator.compileTime
}
