package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** graft's reading of Spark's code-generation bill: how many classes
  * Janino compiled and how long that took. A class served from
  * `CodeGenerator`'s cache (sized by [[GraftSession]]) costs nothing
  * here; read the two counters before and after a piece of work and
  * subtract.
  *
  * Both counters are JVM-wide and only grow: every session, and every
  * thread, counts. A streaming query's background micro-batch compiling
  * while the work runs is counted with it.
  */
object Codegen {

  /** Classes compiled so far in this JVM. Exact: each compilation
    * updates `CodegenMetrics`' compilation-time histogram once, and
    * the histogram's count is exact (only its values are sampled). */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Seconds spent compiling so far in this JVM: `CodeGenerator`'s
    * running total, which adds each compilation's `System.nanoTime`
    * difference (nanoseconds). */
  def compileSeconds(): Double = CodeGenerator.compileTime / 1e9
}
