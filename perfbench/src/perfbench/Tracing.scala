package perfbench

import scala.collection.mutable

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Glue shared by the three traced runs. */
object Tracing {
  /** Run `body` with the probe registered as a `SparkListener` and a
    * `QueryExecutionListener`; the listener bus is drained before the
    * probe is read. Codegen compile counts come from `CodegenMetrics`.
    */
  def withProbe[T](spark: SparkSession, probe: SparkProbe)(body: => T): T = {
    val sc = spark.sparkContext
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    try body
    finally {
      ListenerBridge.drain(sc, 60000L)
      spark.listenerManager.unregister(probe)
      sc.removeSparkListener(probe)
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      probe.compiles += h.getCount - compiles0
      // the histogram keeps a sample, not a sum: mean × count estimates it
      probe.compileMs += (h.getCount - compiles0) * h.getSnapshot.getMean
    }
  }

  /** The catalyst / scheduler / driver split per operation (span self
    * times summed over `n` operations), plus the scheduler counters per
    * operation.
    */
  def perOp(m: mutable.Map[String, Double], planningMs: Double, jobMs: Double, gapMs: Double,
      c: Probe.Counters, n: Double, probe: SparkProbe): Unit = {
    m("catalyst.planning_ms_per_op") = planningMs / n
    m("scheduler.job_ms_per_op") = jobMs / n
    m("driver.gap_ms_per_op") = gapMs / n
    m("scheduler.jobs_per_op") = c.jobs / n
    m("scheduler.tasks_per_op") = c.tasks / n
    m("scheduler.task_cpu_ms_per_op") = c.taskCpuMs / n
    m("scheduler.shuffle_bytes_per_op") = c.shuffleBytes / n
    m("scheduler.spill_bytes_per_op") = c.spillBytes / n
    m("scheduler.records_read_per_op") = c.recordsRead / n
    m("codegen.compiles") = probe.compiles.toDouble
    m("codegen.compile_ms") = probe.compileMs
  }

  /** How much slower the median operation ran with the probe registered. */
  def overheadPct(untraced: Seq[Double], traced: Seq[Double]): Double =
    (Stats.median(traced) / Stats.median(untraced) - 1) * 100
}
