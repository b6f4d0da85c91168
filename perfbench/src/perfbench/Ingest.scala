package perfbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.operators.Replay
import graft.streaming.PersistPipeline

/** The persist path over a seeded backlog: drained by
  * `PersistPipeline.runStream` (`Trigger.AvailableNow`, one file per
  * trigger), checked, and traced as a layer. The write path does nearly all
  * the work here: Avro records, the indexer topic and its read-back, the
  * index, the dead-letter topic, and the per-batch job overhead.
  */
final class Ingest(ctx: Ctx, val backlog: Inputs.Backlog) {
  import ctx.{opts, spark}

  /** Drain the backlog into `wd`; returns wall start/end (epoch ms) and the
    * progress of every trigger that carried data, as a
    * `StreamingQueryListener` received it.
    */
  def drain(wd: Path): (Double, Double, Seq[StreamingQueryProgress]) = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val terminated = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(listener)
    val t0 = Clock.nowMs
    val t1 = try {
      PersistPipeline.runStream(spark, backlog.dir, wd.toString, maxFilesPerTrigger = 1)
      val t = Clock.nowMs
      // events arrive in order on the listener bus: once the termination
      // is in, so is every trigger's progress
      require(terminated.await(60, TimeUnit.SECONDS), "no termination event from the drain")
      t
    } finally spark.streams.removeListener(listener)
    (t0, t1, progress.asScala.toSeq.filter(_.numInputRows > 0))
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Drain into `wd` with the probe on: one span per trigger under
    * `parent`, split into planning, job and driver time, and the `ingest.*`
    * per-layer metrics.
    */
  def traced(out: Outcome, probe: SparkProbe, trace: Trace, parent: Int, wd: Path): Unit = {
    val (t0, t1, prog) = Tracing.withProbe(spark, probe)(drain(wd))
    val drainId = trace.add(parent, "ingest.drain", "drain", t0, t1)
    var prevEnd = t0
    val perTrigger = prog.map { p =>
      val s = math.max(prevEnd, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      val e = math.min(t1, math.max(s, s + ms(p, "triggerExecution")))
      prevEnd = e
      val key = s"batch-${p.batchId}"
      val id = trace.add(drainId, "stream.trigger", key, s, e,
        Map("addBatch_ms" -> ms(p, "addBatch"), "rows" -> p.numInputRows))
      trace.addSparkSegments(id, key, s, e, probe)
      (id, probe.counters(s, e))
    }
    val self = trace.selfMs
    val split = perTrigger.map { case (id, _) => trace.split(id, self) }
    val c = perTrigger.map(_._2).foldLeft(Probe.Counters())(_ + _)
    val n = prog.size.toDouble
    val msgs = backlog.messages.toDouble
    val trig = prog.map(ms(_, "triggerExecution"))
    val m = out.metrics
    m("ingest.msgs_per_s") = msgs / ((t1 - t0) / 1000)
    m("ingest.batch_p50_ms") = Stats.median(trig)
    m("ingest.batch_p90_ms") = Stats.pct(trig, 90)
    m("ingest.persist_batch_ms_p50") = Stats.median(prog.map(ms(_, "addBatch")))
    m("ingest.trigger_overhead_ms_p50") =
      Stats.median(prog.map(p => ms(p, "triggerExecution") - ms(p, "addBatch")))
    m("ingest.planning_ms_per_batch") = split.map(_._1).sum / n
    m("ingest.job_ms_per_batch") = split.map(_._2).sum / n
    m("ingest.gap_ms_per_batch") = split.map(_._3).sum / n
    m("ingest.jobs_per_batch") = c.jobs / n
    m("ingest.task_cpu_ms_per_msg") = c.taskCpuMs / msgs
    m("ingest.shuffle_bytes_per_msg") = c.shuffleBytes / msgs
    m("ingest.records_read_per_msg") = c.recordsRead / msgs
    val sinks = Seq("records", "indexer_topic", "index", "dead_letter").map(wd.resolve)
    val bytes = sinks.map(Files2.bytes).sum.toDouble
    m("ingest.bytes_written_per_msg") = bytes / msgs
    m("ingest.space_amp") = bytes / backlog.payloadBytes
    m("ingest.files_per_batch") = sinks.map(Files2.dataFiles(_).size).sum / n
    m("ingest.dead_letter_frac") =
      spark.read.parquet(wd.resolve("dead_letter").toString).count() / msgs
    out.attempted += backlog.files
    out.failed += backlog.files - prog.size
  }

  /** Correctness of what a drain wrote, read back through the program's
    * own read path: counts against the generated backlog, and a seeded
    * sample of payloads replayed through `readRecords` + `positionalJoin`.
    */
  def verify(out: Outcome, wd: Path): Unit = {
    var records = PersistPipeline.readRecords(spark, wd.toString)
    var index = spark.read.parquet(wd.resolve("index").toString)
    var dl = spark.read.parquet(wd.resolve("dead_letter").toString)
    // corruption for the benchmark's own tests: drop one row by its key
    def dropOne(df: org.apache.spark.sql.DataFrame, key: String) =
      df.filter(col(key) =!= lit(df.select(key).head().get(0)))
    opts.corrupt match {
      case "record_row"      => records = dropOne(records, "id")
      case "index_row"       => index = dropOne(index, "unique_id")
      case "dead_letter_row" => dl = dropOne(dl, "value")
      case _                 => ()
    }
    val (nRec, nIdx, nDl) = (records.count(), index.count(), dl.count())
    out.check("ingest.records_equal_generated", nRec == backlog.messages,
      s"$nRec records for ${backlog.messages} messages")
    out.check("ingest.index_plus_dead_letter_equal_messages", nIdx + nDl == backlog.messages,
      s"$nIdx index + $nDl dead-letter rows for ${backlog.messages} messages")
    out.check("ingest.dead_letter_equals_injected", nDl == backlog.nullTs,
      s"$nDl dead letters for ${backlog.nullTs} injected null-ts events")

    val rnd = ctx.rng("ingest.sample")
    val sample = Seq.fill(64)(backlog.idShift + rnd.nextInt(backlog.messages.toInt))
      .distinct.map(_.toString)
    val expected = backlog.events(spark)
      .filter(col("event_id").cast("string").isin(sample: _*) && col("ts").isNotNull)
      .select(col("event_id").cast("string"), col("props").cast("binary"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    var got = Replay.positionalJoin(records, index.filter(col("broker_msg_id").isin(sample: _*)))
      .select(col("broker_msg_id"), col("data"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    if (opts.corrupt == "payload" && got.nonEmpty)
      got = got.updated(got.keys.min, "tampered".getBytes.toSeq)
    val bad = (expected.keySet ++ got.keySet).filter(k => expected.get(k) != got.get(k))
    out.check("ingest.sampled_payloads_round_trip", expected.nonEmpty && bad.isEmpty,
      s"${bad.size} of ${expected.size} sampled payloads differ: ${bad.take(3).mkString(",")}")
  }
}
