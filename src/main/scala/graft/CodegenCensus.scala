package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** JVM-wide Janino compiles: how often, and how long, generated code
  * missed Spark's compiled-class cache. Counters, so a query's share is
  * the difference of two snapshots taken around it (other work compiling
  * in the same JVM at that time counts too). */
object CodegenCensus {
  final case class Snapshot(compiles: Long, nanos: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(compiles - o.compiles, nanos - o.nanos)
    def ms: Double = nanos / 1e6
  }

  def snapshot(): Snapshot =
    Snapshot(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** What `f` compiled, with its result. */
  def during[T](f: => T): (T, Snapshot) = {
    val before = snapshot()
    val out = f
    (out, snapshot() - before)
  }
}
