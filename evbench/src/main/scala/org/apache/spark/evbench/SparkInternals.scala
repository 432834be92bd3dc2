package org.apache.spark.evbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark's own codegen counters, behind one crossing point. */
object SparkInternals {

  /** Compilations so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Seconds spent compiling generated code so far in this JVM. */
  def codegenCompileSeconds: Double = CodeGenerator.compileTime / 1e9
}
