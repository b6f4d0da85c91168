package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One clock for every span: epoch milliseconds with sub-millisecond
  * resolution, anchored once so that spans measured with `nanoTime` line up
  * with the epoch-millisecond timestamps Spark stamps on listener events.
  */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

object Stats {
  /** Nearest-rank percentile (`p` in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Geometric mean of a non-empty sample of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of an empty sample")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** Process and host counters read from the JDK MXBeans and `/proc`. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def cpuMs: Double = os.getProcessCpuTime / 1e6
  def loadavg: Double = os.getSystemLoadAverage
  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** (iowait, steal) in milliseconds since boot, summed over all cpus. */
  def iowaitStealMs: (Double, Double) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+")
      val hz = 100.0 // USER_HZ on Linux
      (f(5).toDouble * 1000 / hz, (if (f.length > 8) f(8).toDouble else 0.0) * 1000 / hz)
    } catch { case _: Exception => (0.0, 0.0) }

  /** Peak resident set size of this process (VmHWM) in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Heap still in use after a full collection, in MB: what the run keeps
    * resident (caches, pinned frames, broadcasts), independent of when the
    * collector last ran.
    */
  def liveHeapMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  @volatile private var sink = 0L
  /** A fixed single-threaded CPU loop; its wall time tells a quiet host from
    * a contended one (the same xorshift fold the program's bench uses).
    */
  def sentinelMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e6
  }

  /** Snapshot of the process and host counters the per-layer view reports. */
  final case class Snap(gcMs: Double, jitMs: Double, cpuMs: Double,
      iowaitMs: Double, stealMs: Double, wallMs: Double) {
    def minus(o: Snap): Snap = Snap(gcMs - o.gcMs, jitMs - o.jitMs, cpuMs - o.cpuMs,
      iowaitMs - o.iowaitMs, stealMs - o.stealMs, wallMs - o.wallMs)
  }
  def snap(): Snap = {
    val (io, st) = iowaitStealMs
    Snap(gcMs, jitMs, cpuMs, io, st, Clock.nowMs)
  }
}

object Files2 {
  private def regular(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  /** Data files under `p`, skipping Spark/Hadoop bookkeeping (`.crc`,
    * `_SUCCESS`), so counts describe what a reader opens.
    */
  def dataFiles(p: Path): Seq[Path] = regular(p).filter { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }
  def bytes(p: Path): Long = dataFiles(p).map(Files.size).sum
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  /** Render nested Scala maps/seqs/primitives as one JSON line. */
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case o => o
  }
}
