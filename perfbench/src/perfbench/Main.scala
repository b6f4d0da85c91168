package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as `run.py` passes them. */
final case class Opts(
    workload: String = "",
    seed: Long = 0L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    work: Path = Paths.get("."),
    data: Path = Paths.get("."),
    tiny: Boolean = false,
    corrupt: String = "none")

object Opts {
  def parse(args: Array[String]): Opts =
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v))     => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v))  => o.copy(seconds = v.toDouble)
      case (o, Array("--trace", v))    => o.copy(trace = v == "1")
      case (o, Array("--work", v))     => o.copy(work = Paths.get(v).toAbsolutePath)
      case (o, Array("--data", v))     => o.copy(data = Paths.get(v).toAbsolutePath)
      case (o, Array("--size", v))     => o.copy(tiny = v == "tiny")
      case (o, Array("--corrupt", v))  => o.copy(corrupt = v)
      case (_, a) => throw new IllegalArgumentException(s"bad argument: ${a.mkString(" ")}")
    }
}

/** What one workload reports: named correctness checks, operation counts,
  * metrics by name, and run-validity notes printed beside them.
  */
final class Outcome {
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = ok && checks.getOrElse(name, true)
    if (!ok) notes(s"check_failed.$name") = detail
  }
}

/** A workload: a set-up (inputs plus whatever the system builds before its
  * first operation), repeated and timed for `setup_s`; an untimed warm-up;
  * a timed measurement (tracing off) that yields the end-to-end metrics;
  * and a traced run that yields the per-layer ones.
  */
trait Workload {
  def setup(dir: Path): Unit
  def teardown(): Unit = ()
  def warmup(out: Outcome): Unit
  def measure(out: Outcome): Unit
  def traced(out: Outcome, probe: SparkProbe, trace: Trace): Unit
}

final class Ctx(val spark: SparkSession, val opts: Opts) {
  /** A deterministic random stream per purpose, derived from `--seed`. */
  def rng(purpose: String): java.util.Random =
    new java.util.Random(opts.seed * 1000003L ^ purpose.hashCode.toLong)
}

object Main {
  /** Set-up repetitions whose median is `setup_s`. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    // The JVM ends as soon as the result is out, without stopping Spark or
    // the listeners (whose worker pools outlive stop() anyway): the run's
    // work directory is discarded, and the seconds a shutdown takes would
    // only lengthen every run.
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val sentinelBefore = Host.sentinelMs()
    val loadBefore = Host.loadavg
    // the program's own session; only where it keeps files is set, so that
    // a run writes nothing outside its work directory
    val spark = graft.GraftSession.builder("local[4]", shufflePartitions = 4)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", opts.work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (Clock.nowMs - Host.jvmStartMs) / 1000
    val ctx = new Ctx(spark, opts)
    val w: Workload = opts.workload match {
      case "serve"     => new Serve(ctx)
      case "analytics" => new Analytics(ctx)
      case other       => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val out = new Outcome
    val stamps = mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "loadavg_before" -> loadBefore, "sentinel_ms_before" -> sentinelBefore)
    val reps = (1 to SetupReps).map { i =>
      if (i > 1) w.teardown()
      val t0 = Clock.nowMs
      w.setup(opts.work.resolve(s"setup-$i"))
      (Clock.nowMs - t0) / 1000
    }
    stamps("session_ready_s") = sessionReadyS
    stamps("setup_reps_s") = reps
    val w0 = Clock.nowMs
    w.warmup(out)
    stamps("warmup_s") = (Clock.nowMs - w0) / 1000
    val before = Host.snap()
    val m0 = Clock.nowMs
    if (opts.trace) {
      val probe = new SparkProbe
      val trace = new Trace
      w.traced(out, probe, trace)
      out.check("trace_self_time_sums_to_root", trace.residualMs < 1e-3,
        s"residual ${trace.residualMs} ms")
      trace.writeJsonl(opts.work.resolve(s"spans-${opts.workload}.jsonl"))
      out.metrics("trace.spans") = trace.all.size.toDouble
    } else {
      w.measure(out)
      out.metrics("setup_s") = sessionReadyS + Stats.median(reps)
      stamps("peak_rss_mb") = Host.peakRssMb
    }
    stamps("measure_s") = (Clock.nowMs - m0) / 1000
    val d = Host.snap().minus(before)
    stamps("iowait_ms") = d.iowaitMs
    stamps("steal_ms") = d.stealMs
    stamps("sentinel_ms_after") = Host.sentinelMs()
    stamps("loadavg_after") = Host.loadavg
    if (opts.trace) {
      out.metrics("jvm.gc_ms") = d.gcMs
      out.metrics("jvm.jit_ms") = d.jitMs
      out.metrics("jvm.cpu_ms") = d.cpuMs
      out.metrics("jvm.cpu_util") = d.cpuMs / (d.wallMs * Runtime.getRuntime.availableProcessors())
      out.metrics("jvm.peak_rss_mb") = Host.peakRssMb
      out.metrics("jvm.live_heap_mb") = Host.liveHeapMb
      out.metrics("host.iowait_ms") = d.iowaitMs
      out.metrics("host.steal_ms") = d.stealMs
      out.metrics("host.sentinel_ms") =
        math.max(sentinelBefore, stamps("sentinel_ms_after").asInstanceOf[Double])
    }
    stamps("jvm_s") = (Clock.nowMs - Host.jvmStartMs) / 1000
    stamps("checks") = out.checks
    stamps("notes") = out.notes
    println("perfbench.stamps " + Json.write(stamps))
    println(Json.write(Map(
      "correct" -> (out.checks.nonEmpty && out.checks.values.forall(identity)),
      "attempted" -> out.attempted, "failed" -> out.failed, "metrics" -> out.metrics)))
  }
}
