package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.ListenerBridge

/** Bench harness: one warmup pass (JIT, file listing, and the one-time
  * persist/stream/publish materializations), then N timed passes per
  * query (default 3, `SPARK_GRAFT_BENCH_RUNS`). The headline per-query
  * number and the total are the per-query MINIMUM across passes — the
  * run least polluted by hypervisor contention (build-notes convention: whole-run
  * totals can inflate 2-3× under load; the best of a few runs is the
  * trustworthy one). The raw per-pass totals and per-query medians ride
  * along so the noise is visible, not hidden. Failures are NOT swallowed
  * into fake timings: a failed query reports `-1` AND an `errors` entry
  * AND a nonzero exit code. The JSON line goes to stdout (driver
  * contract) and to `bench_out.json` (immune to sbt log noise).
  *
  * Interpretability instruments (BASELINE.md §C reads off these):
  * `sentinel_ms` — a fixed single-threaded workload timed at the top of
  * each pass, so per-pass ambient steal is measured, not guessed; and the
  * per-query `shuffle_read_bytes` / `shuffle_write_bytes` / `tasks`
  * ledger captured on the last pass — bytes a plan moves are immune to
  * hypervisor contention, so byte deltas attribute to code changes.
  */
object Bench {

  /** 1-minute load average at a point in time — stamped into the output
    * (before and after the run) so a reader can tell a quiet run from a
    * contention-inflated one (build-notes convention: totals inflate 2-3x
    * under hypervisor load; trust round-over-round comparisons only when
    * the stamps are ≈ 0... aside from Spark's own 32 worker threads).
    */
  private def loadavg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case _: Exception => -1.0 }

  /** Ambient-noise sentinel: a FIXED single-threaded CPU workload
    * (deterministic xorshift64* fold, no allocation, no I/O) timed once
    * before each pass. Its nominal cost is a machine constant, so the
    * per-pass `sentinel_ms` series directly measures how much the
    * hypervisor was stealing during that pass — a pass whose sentinel ran
    * 1.4× nominal explains a 1.4× whole-pass total without blaming the
    * code. The volatile sink defeats dead-code elimination.
    */
  @volatile private var sentinelSink: Long = 0L
  private def sentinelMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 150000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL
      i += 1
    }
    sentinelSink = acc
    (System.nanoTime() - t0) / 1e6
  }

  /** Per-query shuffle/task ledger: accumulates task-level shuffle
    * read/write bytes and task counts off the listener bus. Shuffle BYTES
    * are noise-immune — contention slows tasks but cannot change how many
    * bytes a plan moves — so round-over-round byte deltas attribute to
    * code, not ambient (the r12/r13 residue-drift ambiguity this closes).
    */
  private final class Ledger extends org.apache.spark.scheduler.SparkListener {
    val read = new java.util.concurrent.atomic.AtomicLong
    val written = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        tasks.incrementAndGet()
      }
    }
    def reset(): Unit = { read.set(0L); written.set(0L); tasks.set(0L) }
  }

  def main(args: Array[String]): Unit = {
    val loadBefore = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // q_dedup_pair_pr re-runs the full-corpus exact-Jaccard ground truth
    // (already timed as q_ngram_jaccard) purely as a correctness anchor;
    // its documented operational form is the sampled readout, which is
    // what the bench times (q_dedup_pair_pr_sampled). Verify still gates
    // both.
    val benchExcluded = Set("q_dedup_pair_pr")
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b — time a subset while iterating on
    // one query's plan; the round artifact always runs the full set.
    // Names are validated against the registry: a typo'd subset would
    // otherwise silently time nothing and report a green empty run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the query registry: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
    }
    val names = (SparkEntry.queries.keySet -- benchExcluded).toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val shufRead = scala.collection.mutable.LinkedHashMap[String, Long]()
    val shufWrite = scala.collection.mutable.LinkedHashMap[String, Long]()
    val taskCounts = scala.collection.mutable.LinkedHashMap[String, Long]()

    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable =>
        errors.getOrElseUpdate(name, s"warmup: ${e.getMessage}")
      }
    }

    // pass-major order (all queries, then repeat) so one contention burst
    // degrades one PASS, not every sample of one query. Each pass opens
    // with the ambient sentinel; the shuffle/task ledger snapshots on the
    // LAST pass (steady state — cross-invocation caches are warm, so the
    // bytes describe what a repeat run actually moves).
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    val samples: Seq[Seq[(String, Double)]] = (1 to runs).map { pass =>
      sentinels += math.rint(sentinelMs() * 10) / 10
      names.map { name =>
        if (pass == runs) { ListenerBridge.drain(spark.sparkContext); ledger.reset() }
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          if (pass == runs) {
            ListenerBridge.drain(spark.sparkContext)
            shufRead(name) = ledger.read.get()
            shufWrite(name) = ledger.written.get()
            taskCounts(name) = ledger.tasks.get()
          }
          name -> dt
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name, e.getMessage)
            name -> -1.0
        }
      }
    }
    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val byName = names.map(n => n -> samples.map(_.toMap.apply(n)))
    val timings = byName.map { case (n, vs) =>
      n -> (if (vs.exists(_ < 0)) -1.0 else vs.min)
    }
    val medians = byName.map { case (n, vs) =>
      n -> (if (vs.exists(_ < 0)) -1.0 else median(vs))
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    def objL(kvs: Seq[(String, Long)]): String =
      kvs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val total = timings.collect { case (_, v) if v >= 0 => v }.sum
    val passTotals = samples
      .map(_.collect { case (_, v) if v >= 0 => v }.sum)
      .mkString("[", ",", "]")
    val sentinelJson = sentinels.mkString("[", ",", "]")
    // core-count contract, verifiable from the output alone (r17 verdict
    // item: the driver's scaling probe could not see which core count
    // actually applied and had to guess): echo the env-derived cpus, the
    // master string actually used, and the scheduler's defaultParallelism.
    val cpusJson = if (cpus.nonEmpty && cpus.forall(_.isDigit)) cpus else q(cpus)
    val contract =
      s""""cpus":$cpusJson,"master":${q(spark.sparkContext.master)},""" +
        s""""default_parallelism":${spark.sparkContext.defaultParallelism},"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(timings)},""" +
        s""""runs":$runs,"pass_totals":$passTotals,"queries_median":${obj(medians)},""" +
        contract +
        s""""sentinel_ms":$sentinelJson,""" +
        s""""shuffle_read_bytes":${objL(shufRead.toSeq)},""" +
        s""""shuffle_write_bytes":${objL(shufWrite.toSeq)},""" +
        s""""tasks":${objL(taskCounts.toSeq)},""" +
        s""""errors":$errJson,"n_failed":${errors.size},"sf":${q(sfDir)},""" +
        s""""loadavg_before":$loadBefore,"loadavg_after":${loadavg()}}"""
    println(json)
    Files.writeString(Paths.get("bench_out.json"), json)
    // The driver's round artifact keeps only the last ~2000 stdout chars,
    // so the full line above never parses there (BENCH_r*.json carried
    // `parsed: null` through round 10). Print a compact summary LAST —
    // total, pass totals, failure count, loadavg stamps, and the slowest
    // queries — sized to fit that tail window, so round-over-round totals
    // live in the round artifact itself; the full per-query map stays in
    // the committed bench_out.json.
    val slowest = timings.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => k -> math.rint(v * 1000) / 1000 }
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${names.size},""" +
        s""""runs":$runs,"pass_totals":$passTotals,"n_failed":${errors.size},""" +
        contract +
        s""""sentinel_ms":$sentinelJson,""" +
        s""""sf":${q(sfDir)},"loadavg_before":$loadBefore,""" +
        s""""loadavg_after":${loadavg()},"slowest":${obj(slowest)},""" +
        s""""queries_full":"bench_out.json"}"""
    println(summary)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
