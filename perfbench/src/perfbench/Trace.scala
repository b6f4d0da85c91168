package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw Spark activity seen through the public listener APIs: job
  * intervals, task metrics, and per-execution Catalyst phase times with the
  * files each execution's scans read and its writes produced. Registered
  * only for the traced run.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val start: Double, val stages: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }
  final case class TaskRec(stage: Int, cpuMs: Double, records: Long,
      shuffleBytes: Long, spillBytes: Long)
  final case class Exec(phases: Seq[(Double, Double)], planEnd: Double,
      filesRead: Long, filesWritten: Long, bytesWritten: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  /** Codegen compiles (and their estimated ms) while the probe was on. */
  var compiles = 0L
  var compileMs = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, m.executorCpuTime / 1e6,
      m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    // analysis, optimization and planning: Catalyst's share of this
    // execution (each phase on its own, since analysis runs when the
    // Dataset is built and the other two when an action runs)
    val ph = qe.tracker.phases.filter { case (k, _) => k != "parsing" }.values.toSeq
    if (ph.nonEmpty) {
      var read, written, bytes = 0L
      walk(qe.executedPlan).foreach { p =>
        val cls = p.getClass.getSimpleName
        if (cls.contains("FileSourceScanExec"))
          read += p.metrics.get("numFiles").map(_.value).getOrElse(0L)
        else if (cls.contains("DataWritingCommandExec")) {
          written += p.metrics.get("numFiles").map(_.value).getOrElse(0L)
          bytes += p.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        }
      }
      execs.add(Exec(ph.map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble)),
        ph.map(_.endTimeMs).max.toDouble, read, written, bytes))
    }
  }

  /** Every physical node, descending through adaptive stages and command
    * wrappers (they hang their plans off `innerChildren`).
    */
  private def walk(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.innerChildren.collect { case c: SparkPlan => c }).flatMap(walk)

  /** Activity attributed to the operation that ran in [start, end]. Ops run
    * one at a time in the traced run, so time attributes exactly.
    */
  def counters(start: Double, end: Double): Probe.Counters = {
    val inOp = jobs.values.asScala.filter(j => j.start >= start && j.start <= end).toSeq
    val stages = inOp.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stages.contains(t.stage)).toSeq
    val ex = execs.asScala.filter(x => x.planEnd >= start && x.planEnd <= end).toSeq
    Probe.Counters(jobs = inOp.size, tasks = ts.size, taskCpuMs = ts.map(_.cpuMs).sum,
      recordsRead = ts.map(_.records).sum, shuffleBytes = ts.map(_.shuffleBytes).sum,
      spillBytes = ts.map(_.spillBytes).sum, filesRead = ex.map(_.filesRead).sum,
      filesWritten = ex.map(_.filesWritten).sum, bytesWritten = ex.map(_.bytesWritten).sum)
  }

  def jobIntervals: Seq[(Double, Double)] =
    jobs.values.asScala.filter(!_.end.isNaN).map(j => (j.start, j.end)).toSeq
  def planIntervals: Seq[(Double, Double)] =
    execs.asScala.flatMap(_.phases).toSeq
}

object Probe {
  final case class Counters(jobs: Long = 0, tasks: Long = 0, taskCpuMs: Double = 0,
      recordsRead: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
      filesRead: Long = 0, filesWritten: Long = 0, bytesWritten: Long = 0) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
      taskCpuMs + o.taskCpuMs, recordsRead + o.recordsRead,
      shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
      filesRead + o.filesRead, filesWritten + o.filesWritten, bytesWritten + o.bytesWritten)
  }
}

/** Interval arithmetic over closed [start, end] millisecond ranges. */
object Intervals {
  type I = (Double, Double)
  def union(xs: Seq[I]): Seq[I] = {
    val out = ArrayBuffer[I]()
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { x =>
      if (out.nonEmpty && x._1 <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, x._2))
      else out += x
    }
    out.toSeq
  }
  def clip(xs: Seq[I], s: Double, e: Double): Seq[I] =
    xs.map(x => (math.max(x._1, s), math.min(x._2, e))).filter(x => x._2 > x._1)
  /** `xs` minus `ys`, both already unions. */
  def minus(xs: Seq[I], ys: Seq[I]): Seq[I] = xs.flatMap { case (s, e) =>
    val out = ArrayBuffer[I]()
    var cur = s
    ys.filter(y => y._2 > s && y._1 < e).sortBy(_._1).foreach { case (ys0, ye) =>
      if (ys0 > cur) out += ((cur, ys0))
      cur = math.max(cur, ye)
    }
    if (cur < e) out += ((cur, e))
    out
  }
  def total(xs: Seq[I]): Double = xs.map(x => x._2 - x._1).sum
}

/** In-memory span tree, written out once when the run ends. Every span
  * has a name, start, end, parent and the key of the batch, request or
  * query it belongs to. A span's self time is its duration minus the part
  * of it its children cover; children never overlap by construction, so
  * the self times of a tree sum to its root's duration.
  */
final class Trace {
  final case class Span(id: Int, parent: Int, name: String, key: String,
      start: Double, end: Double, attrs: Map[String, Any]) {
    def dur: Double = end - start
  }
  private val spans = ArrayBuffer[Span]()

  def add(parent: Int, name: String, key: String, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = spans.size
    spans += Span(id, parent, name, key, start, end, attrs)
    id
  }

  /** Set the end of span `id`, for a parent opened before its children. */
  def finish(id: Int, end: Double): Unit = synchronized {
    spans(id) = spans(id).copy(end = end)
  }

  /** Split [start, end] of span `parent` into Spark-job and Catalyst
    * planning segments (job time wins where both overlap); the rest is the
    * parent's self time: driver work outside both.
    */
  def addSparkSegments(parent: Int, key: String, start: Double, end: Double,
      probe: SparkProbe): Unit = {
    val jobs = Intervals.union(Intervals.clip(probe.jobIntervals, start, end))
    val plan = Intervals.minus(
      Intervals.union(Intervals.clip(probe.planIntervals, start, end)), jobs)
    jobs.foreach { case (s, e) => add(parent, "spark.job", key, s, e) }
    plan.foreach { case (s, e) => add(parent, "catalyst.planning", key, s, e) }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def selfMs: Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.total(Intervals.union(
        Intervals.clip(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** (planning, job, own) self time of span `id` and its segments. */
  def split(id: Int, self: Map[Int, Double]): (Double, Double, Double) = {
    val kids = all.filter(_.parent == id)
    def sum(name: String) = kids.filter(_.name == name).map(k => self(k.id)).sum
    (sum("catalyst.planning"), sum("spark.job"), self(id))
  }

  /** Sum of self time by span name. */
  def selfByName: Map[String, Double] = {
    val self = selfMs
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** |Σ self − root duration| in ms: 0 up to float rounding when the tree
    * is well formed.
    */
  def residualMs: Double = {
    val roots = all.filter(_.parent < 0)
    math.abs(selfMs.values.sum - roots.map(_.dur).sum)
  }

  def writeJsonl(path: Path): Unit = {
    val self = selfMs
    Files.createDirectories(path.getParent)
    Files.write(path, all.map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "key" -> s.key,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id)) ++ s.attrs)
    }.asJava)
  }
}
