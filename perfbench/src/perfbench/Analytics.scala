package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `analytics`: the registry's store-lifecycle, pair-enumeration and
  * iterative query families over the fixed tables, in a seed-permuted
  * order, each timed to full materialization with the `noop` sink. Operator
  * kernels, shuffle and the store lifecycle (build, append, delete, retrain
  * and publish, each writing and then reading back inside one query) do
  * nearly all the work; HTTP and streaming are absent.
  */
final class Analytics(ctx: Ctx) extends Workload {
  import Analytics._
  import ctx.{opts, spark}

  private var sfDir: String = _
  private var order: Seq[String] = Nil

  def setup(dir: Path): Unit = {
    sfDir = Inputs.copyTables(opts.data, dir.resolve("tables"))
    val t = graft.Tables(spark, sfDir)
    Seq(t.documents, t.embeddings, t.events, t.lineitem, t.orders).foreach(_.schema)
    val q = if (opts.tiny) Tiny else Queries
    order = scala.util.Random.javaRandomToRandom(ctx.rng("analytics.order")).shuffle(q)
  }

  /** The registry writes its stores under the program's work root. */
  private def storeFiles: Int =
    Files2.dataFiles(Paths.get(graft.streaming.PersistPipeline.workRoot)).size

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** A traced run warms up with an untimed pass that computes every
    * query's digest. A timed run computes them in [[measure]], each right
    * before the query is timed, so it only warms up on one query a family.
    */
  def warmup(out: Outcome): Unit =
    if (opts.trace) checkDigests(out, order.map(q => q -> digestOf(q)).toMap)
    else order.filter(Tiny.contains).foreach(run)

  private def digestOf(name: String): (Long, String) =
    digest(SparkEntry.queries(name)(spark, sfDir))

  /** Each query's row count and order-insensitive digest against the
    * recorded ones.
    */
  private def checkDigests(out: Outcome, got: Map[String, (Long, String)]): Unit = {
    Files.write(ctx.opts.work.resolve("analytics_digests.json"),
      Json.write(got.toSeq.sortBy(_._1).map { case (k, (r, d)) =>
        k -> Map("rows" -> r, "digest" -> d) }.toMap).getBytes)
    val expected = loadExpected()
    var checked = expected.digests
    if (opts.corrupt == "digest")
      checked = checked.map { case (k, (r, d)) => k -> (r, if (k == order.head) d + "0" else d) }
    // a query whose digest does not repeat is checked on its row count only
    val diff = order.filter { q =>
      if (expected.rowsOnly.contains(q)) checked.get(q).map(_._1) != got.get(q).map(_._1)
      else checked.get(q) != got.get(q)
    }
    out.check("analytics.digests_match_recorded", diff.isEmpty,
      diff.take(4).map(q => s"$q: got ${got(q)}, recorded ${checked.get(q)}").mkString("; "))
  }

  private def digest(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  private def loadExpected(): Expected = {
    val n = Json.mapper.readTree(opts.data.resolveSibling("expected").resolve("analytics_digests.json").toFile)
    val q = n.get("queries")
    Expected(
      q.fieldNames().asScala.map(k => k -> (q.get(k).get("rows").asLong(), q.get(k).get("digest").asText())).toMap,
      Option(n.get("rows_only")).map(_.fieldNames().asScala.toSet).getOrElse(Set.empty))
  }

  /** Time every query once, in the seeded order; per-query wall seconds. */
  private def pass(out: Outcome): Map[String, Double] =
    order.map(name => name -> timed(out, name)).toMap

  /** Time one query; wall seconds. */
  private def timed(out: Outcome, name: String): Double = {
    val t0 = System.nanoTime()
    out.attempted += 1
    try run(name)
    catch { case e: Exception =>
      out.failed += 1
      out.check("analytics.queries_run", ok = false, s"$name: ${e.getMessage}")
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The first pass times each query right after an untimed run of it that
    * computes its digest and rewrites its stores. The store versions the
    * timed run replaces are then seconds old and still in the page cache.
    * Replacing versions that have reached the disk costs several times more
    * on a file system mounted with `discard`, and how many have depends on
    * the kernel's writeback and the other tenants' disk traffic, which made
    * a timed pass after a separate warm-up pass spread by up to 40 % from
    * run to run (README). Further passes run while less than `--seconds`
    * has passed; a first pass outlasts ten seconds. Returns per-query
    * medians over the passes, and the store file count after the untimed
    * and the timed run of each query, and after each further pass.
    */
  private def passes(out: Outcome): (Map[String, Double], Seq[(String, Int, Int)], Seq[Int]) = {
    val t0 = Clock.nowMs
    val digests = mutable.LinkedHashMap[String, (Long, String)]()
    val counts = mutable.ArrayBuffer[(String, Int, Int)]()
    val first = order.map { name =>
      digests(name) = digestOf(name)
      val n = storeFiles
      val t = timed(out, name)
      counts += ((name, n, storeFiles))
      name -> t
    }.toMap
    checkDigests(out, digests.toMap)
    val runs = mutable.ArrayBuffer(first)
    val files = mutable.ArrayBuffer[Int]()
    while ((Clock.nowMs - t0) < opts.seconds * 1000) {
      runs += pass(out)
      files += storeFiles
    }
    (order.map(q => q -> Stats.median(runs.map(_(q)).toSeq)).toMap, counts.toSeq, files.toSeq)
  }

  private def familyS(med: Map[String, Double], fam: Seq[String]): Double =
    fam.filter(med.contains).map(med).sum

  def measure(out: Outcome): Unit = {
    val (med, counts, files) = passes(out)
    val total = med.values.sum
    out.metrics("throughput_per_s") = med.size / total
    out.metrics("latency_geomean_ms") = Stats.geomean(med.values.toSeq) * 1000
    out.notes("analytics_total_s") = total
    out.notes("analytics_lifecycle_s") = familyS(med, Lifecycle)
    out.notes("analytics_pair_enum_s") = familyS(med, PairEnum)
    out.notes("passes") = 1 + files.size
    out.notes("store_files_per_pass") = counts.last._3 +: files
    out.notes("query_median_s") = med
    // a query run twice must leave as many store files as run once
    val checked =
      if (opts.corrupt == "store_files") counts.updated(0, counts(0).copy(_3 = counts(0)._3 + 1))
      else counts
    val piled = checked.filter { case (_, a, b) => a != b }
    out.check("analytics.store_files_steady_across_runs", piled.isEmpty,
      piled.take(4).map { case (q, a, b) => s"$q: $a then $b" }.mkString("; "))
    checkNoPileUp(out, counts.last._3 +: files)
  }

  /** Repeated passes must not pile up store versions on disk. */
  private def checkNoPileUp(out: Outcome, files: Seq[Int]): Unit =
    out.check("analytics.store_files_steady_across_passes", files.distinct.size == 1,
      s"store files per pass: ${files.mkString(",")}")

  def traced(out: Outcome, probe: SparkProbe, trace: Trace): Unit = {
    val m = out.metrics
    val filesBefore = storeFiles
    val before = pass(out)
    val filesUntraced = storeFiles
    val t0 = Clock.nowMs
    val ops = Tracing.withProbe(spark, probe) {
      order.map { name =>
        val h0 = Host.snap()
        val s = Clock.nowMs
        run(name)
        (name, s, Clock.nowMs, Host.snap().minus(h0))
      }
    }
    val rootId = trace.add(-1, "analytics.pass", "pass", t0, Clock.nowMs)
    val ids = ops.map { case (name, s, e, h) =>
      val id = trace.add(rootId, "analytics.query", name, s, e, Map("family" -> family(name),
        "cpu_ms" -> h.cpuMs, "gc_ms" -> h.gcMs, "jit_ms" -> h.jitMs, "iowait_ms" -> h.iowaitMs))
      trace.addSparkSegments(id, name, s, e, probe)
      id
    }
    // untraced passes on both sides of the traced one, so the overhead is
    // not confounded with the JVM still warming up
    val after = pass(out)
    val untraced = order.map(q => q -> (before(q) + after(q)) / 2).toMap
    val self = trace.selfMs
    val split = ops.zip(ids).map { case ((name, s, e, h), id) =>
      (name, trace.split(id, self), probe.counters(s, e), h)
    }
    val all = split.map(_._3).foldLeft(Probe.Counters())(_ + _)
    Tracing.perOp(m, split.map(_._2._1).sum, split.map(_._2._2).sum, split.map(_._2._3).sum,
      all, ops.size.toDouble, probe)
    m("analytics.total_s") = untraced.values.sum
    Seq("lifecycle" -> Lifecycle, "pair_enum" -> PairEnum, "iterative" -> Iterative).foreach {
      case (f, fam) =>
        val rows = split.filter(r => fam.contains(r._1))
        val c = rows.map(_._3).foldLeft(Probe.Counters())(_ + _)
        m(s"analytics.$f.wall_s") = familyS(untraced, fam)
        m(s"analytics.$f.planning_ms") = rows.map(_._2._1).sum
        m(s"analytics.$f.job_ms") = rows.map(_._2._2).sum
        m(s"analytics.$f.gap_ms") = rows.map(_._2._3).sum
        m(s"analytics.$f.jobs") = c.jobs.toDouble
        m(s"analytics.$f.task_cpu_ms") = c.taskCpuMs
        m(s"analytics.$f.shuffle_bytes") = c.shuffleBytes.toDouble
        m(s"analytics.$f.files_written") = c.filesWritten.toDouble
        m(s"analytics.$f.bytes_written") = c.bytesWritten.toDouble
        m(s"analytics.$f.cpu_ms") = rows.map(_._4.cpuMs).sum
        m(s"analytics.$f.gc_ms") = rows.map(_._4.gcMs).sum
        m(s"analytics.$f.jit_ms") = rows.map(_._4.jitMs).sum
        m(s"analytics.$f.iowait_ms") = rows.map(_._4.iowaitMs).sum
    }
    m("trace.overhead_pct") = Tracing.overheadPct(Seq(untraced.values.sum),
      Seq(ops.map { case (_, s, e, _) => e - s }.sum / 1000))
    checkNoPileUp(out, Seq(filesBefore, filesUntraced, storeFiles))
  }
}

object Analytics {
  /** Registry queries that build, append to, delete from, retrain or
    * publish a persistent store.
    */
  val Lifecycle = Seq("q_ivf_stored", "q_ivf_assigned", "q_ann_delete", "q_ivf_retrain",
    "q_bm25_stored", "q_bm25_delete", "q_bm25_multi_stored", "q_phrase_stored",
    "q_phrase_append", "q_phrase_delete", "q_pq_codes", "q_pq_delete", "q_pq_retrain")
  val PairEnum = Seq("q_ngram_jaccard", "q_dedup_edit", "q_dedup_edit_against",
    "q_containment_pairs", "q_winnow_spans", "q_dedup_pair_pr_sampled")
  val Iterative = Seq("q_pagerank", "q_label_prop", "q_dedup_clusters_inc")
  val Queries: Seq[String] = Lifecycle ++ PairEnum ++ Iterative
  /** One query per family, for the tiny smoke run. */
  val Tiny = Seq("q_bm25_stored", "q_ngram_jaccard", "q_pagerank")

  def family(q: String): String =
    if (Lifecycle.contains(q)) "lifecycle" else if (PairEnum.contains(q)) "pair_enum" else "iterative"

  final case class Expected(digests: Map[String, (Long, String)], rowsOnly: Set[String])
}
