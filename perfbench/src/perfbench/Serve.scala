package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{ApiFacade, ApiServer, Cmp, Eq, QueryService, Resubmitter, RetrievalService, Similarity, TextAnalysis}
import graft.operators.ApiFacade._
import graft.store.StoreCatalog
import graft.streaming.PersistPipeline

/** `serve`: an Indexer-role and a Resubmitter-role `ApiServer` on
  * ephemeral ports, over the index and records a seeded ingest wrote and
  * over BM25, phrase, IVF and PQ stores published to a `StoreCatalog` and
  * loaded with `RetrievalService.fromCatalog` (no retrieval memo). Planning,
  * job launch, scan pruning, rendering and HTTP do nearly all the work;
  * nothing is written.
  */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  import ctx.{opts, spark}

  private var root: Path = _
  private var tables: String = _
  private var ingest: Ingest = _
  private var facade: ApiFacade = _
  private var retrieval: RetrievalService = _
  private var servers: Seq[ApiServer] = Nil
  private var bases: Seq[String] = Nil
  private var space: Space = _
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def setup(dir: Path): Unit = {
    root = dir
    tables = Inputs.copyTables(opts.data, dir.resolve("tables"))
    // the index and records are what a seeded stream wrote through the
    // persist pipeline: the layout the write path produces is the one the
    // read path serves
    ingest = new Ingest(ctx, Inputs.backlog(spark, tables, dir.resolve("backlog"),
      if (opts.tiny) 1 else IndexFiles, ctx.rng("ingest")))
    val wd = dir.resolve("persist").toString
    PersistPipeline.runStream(spark, ingest.backlog.dir, wd)
    val index = spark.read.parquet(s"$wd/index")
    facade = ApiFacade(Map(Coll -> QueryService(index)),
      resubmitters = Map(Coll -> Resubmitter(QueryService(index),
        PersistPipeline.readRecords(spark, wd))),
      envTopic = Some("replay"))

    val t = graft.Tables(spark, tables)
    val docs = t.documents.select("doc_id", "text")
    val emb = t.embeddings
    val v1 = dir.resolve("stores/docs-v1").toString
    val p1 = dir.resolve("stores/phrase-v1").toString
    val catalog = dir.resolve("catalog").toString
    TextAnalysis.saveBm25Index(spark, v1, docs)
    val cents = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2)
    Similarity.saveIvfIndex(spark, v1, cents, Some(Similarity.cellStats(emb, cents)))
    Similarity.saveIvfAssigned(spark, v1, Similarity.assignIvfCells(emb, cents), cents)
    val books = Similarity.pqCodebooks(Similarity.pqTrainSet(emb, 0.3), m = 8, ksub = 16, iters = 2)
    Similarity.savePqBooks(spark, v1, books)
    Similarity.savePqCodes(spark, v1, Similarity.encodePqCodes(emb, books, cellBits = 4), books, cellBits = 4)
    TextAnalysis.saveBm25Positional(spark, p1, docs)
    StoreCatalog.publish(spark, catalog, Docs, v1)
    StoreCatalog.publish(spark, catalog, Phrases, p1)
    retrieval = RetrievalService.fromCatalog(spark, catalog, bm25Names = Seq(Docs),
      phraseNames = Seq(Phrases), annNames = Seq(Docs), pqNames = Map(Docs -> emb))

    servers = Seq(new ApiServer(facade, ApiServer.Indexer, retrieval = Some(retrieval)),
      new ApiServer(facade, ApiServer.Resubmitter))
    servers.foreach(_.start())
    bases = servers.map(s => s"http://127.0.0.1:${s.boundPort}")

    // what requests draw from: the index's ids, brokers and time span, and
    // the corpus's words, word pairs and vector ids
    val span = index.agg(min("publish_time"), max("publish_time")).head()
    val texts = docs.orderBy("doc_id").select("text").collect().map(_.getString(0))
    space = Space(
      ids = index.select("unique_id").orderBy("unique_id").collect().map(_.getString(0)),
      brokers = index.select("broker_id").distinct().orderBy("broker_id").collect().map(_.getString(0)),
      fromMs = span.getTimestamp(0).getTime, toMs = span.getTimestamp(1).getTime,
      words = texts.flatMap(_.split(" ")).groupBy(identity).toSeq
        .sortBy { case (w, xs) => (-xs.length, w) }.map(_._1).toArray,
      pairs = texts.flatMap(_.split(" ").sliding(2).filter(_.length == 2).map(_.toSeq))
        .groupBy(identity).toSeq.sortBy { case (p, xs) => (-xs.length, p.mkString(" ")) }.map(_._1),
      vecIds = emb.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0)))
  }

  override def teardown(): Unit = {
    servers.foreach(_.stop(0))
    servers = Nil
  }

  /** Every route once, then the closed loop for a while, so the measured
    * phases start on compiled code paths.
    */
  def warmup(out: Outcome): Unit = {
    val g = new Gen(space, ctx.rng("serve.warmup"))
    Routes.foreach(r => send(g.next(r)))
    closedLoop(if (opts.tiny) 1 else WarmupSeconds, "serve.warmup")
  }

  // ------------------------------------------------------------- requests

  /** One request: its HTTP form and the same call made in-process. */
  final case class Req(route: String, server: Int, method: String, path: String, body: String,
      call: () => ApiResponse) {
    def expected: Int = 200
  }

  /** Seeded request stream: every route equally often, ids, intervals,
    * terms and vectors drawn Zipf-skewed across the whole index and corpus.
    */
  final class Gen(s: Space, rnd: java.util.Random) {
    private val ids = new Zipf(s.ids.length, rnd)
    // terms and phrases are hot in corpus-frequency order, so a query's
    // cost does not hinge on which term the seed happens to make hot
    private val words = new Zipf(s.words.length, rnd, permute = false)
    private val pairs = new Zipf(s.pairs.length, rnd, permute = false)
    private val vecs = new Zipf(s.vecIds.length, rnd)
    private val days = new Zipf(math.max(1, ((s.toMs - s.fromMs) / DayMs).toInt), rnd)
    // every client cycles through its own shuffled deck with one slot per
    // route, so routes are equally frequent over each deck and close to it
    // over any window
    private val deck = scala.util.Random.javaRandomToRandom(rnd).shuffle(Routes).toIndexedSeq
    private var dealt = 0
    private def q(x: String) = "\"" + x + "\""
    private def arr(xs: Seq[String]) = xs.map(q).mkString("[", ",", "]")
    private def wire(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString

    def next(): Req = {
      dealt += 1
      next(deck(dealt % deck.size))
    }

    def next(route: String): Req = route match {
      case "exact" =>
        val id = s.ids(ids.draw())
        Req(route, 0, "GET", s"/exact/$Coll/$id", "",
          () => facade.getUnique(GetUniqueRequest(Coll, id)))
      case "all" =>
        val xs = Seq.fill(1 + rnd.nextInt(8))(s.ids(ids.draw())).distinct
        Req(route, 0, "POST", s"/all/$Coll", s"""{"ids":${arr(xs)}}""",
          () => facade.getAll(GetAllRequest(Coll, Some(xs))))
      case "range" =>
        val b = s.brokers(rnd.nextInt(s.brokers.length))
        val from = s.fromMs + days.draw() * DayMs
        val (f, t) = (wire(from), wire(from + (1 + rnd.nextInt(3)) * DayMs))
        Req(route, 0, "GET", s"/range/$Coll/$b?from=$f&to=$t&limit=20", "",
          () => facade.getRange(GetRangeRequest(Coll, b, Some(f), Some(t), Some("20"))))
      case "query" =>
        val b = s.brokers(rnd.nextInt(s.brokers.length))
        val k = (10 + rnd.nextInt(90)).toString
        Req(route, 0, "POST", s"/query/$Coll?limit=20",
          s"""{"filters":[{"broker_id":${q(b)},"meta_k":{"$$gte":${q(k)}}}]}""",
          () => facade.getQueried(GetQueriedRequest(Coll,
            Some(Seq(Map("broker_id" -> Eq(b), "meta_k" -> Cmp("gte", k)))), Some("20"))))
      case "search" =>
        val ts = Seq.fill(1 + rnd.nextInt(3))(s.words(words.draw())).distinct
        Req(route, 0, "POST", s"/search/$Docs", s"""{"terms":${arr(ts)},"k":10}""",
          () => retrieval.search(Docs, Some(ts), Some(10)))
      case "phrase" =>
        val ph = s.pairs(pairs.draw())
        Req(route, 0, "POST", s"/phrase/$Phrases", s"""{"phrase":${arr(ph)},"k":10}""",
          () => retrieval.phraseSearch(Phrases, Some(ph), Some(10)))
      case "ann" =>
        val v = s.vecIds(vecs.draw())
        Req(route, 0, "POST", s"/ann/$Docs", s"""{"query_ids":[$v],"k":10,"nprobe":2}""",
          () => retrieval.annSearch(Docs, Some(Seq(v)), Some(10), Some(2)))
      case "pq" =>
        val v = s.vecIds(vecs.draw())
        Req(route, 0, "POST", s"/pq/$Docs", s"""{"query_ids":[$v],"k":10,"rerank":32}""",
          () => retrieval.pqSearch(Docs, Some(Seq(v)), Some(10), Some(32)))
      case "hybrid" =>
        val ts = Seq.fill(1 + rnd.nextInt(2))(s.words(words.draw())).distinct
        val v = s.vecIds(vecs.draw())
        Req(route, 0, "POST", s"/hybrid/$Docs",
          s"""{"terms":${arr(ts)},"query_id":$v,"k":10,"nprobe":2}""",
          () => retrieval.hybrid(Docs, Some(ts), Some(v), None, Some(10), Some(2), Some(60)))
      case "resubmit" =>
        val xs = Seq.fill(1 + rnd.nextInt(4))(s.ids(ids.draw())).distinct
        Req(route, 1, "POST", s"/resubmit/$Coll?topic=replay", s"""{"ids":${arr(xs)}}""",
          () => facade.resubmitIds(ResubmitIdsRequest(Coll, Some(xs), Some("replay"))))
    }
  }

  /** Send over HTTP; returns (status, body). */
  private def send(r: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(bases(r.server) + r.path))
    val req =
      if (r.method == "GET") b.GET().build()
      else b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(r.body, UTF_8)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** The response body `ApiServer` renders for an in-process call. */
  private def render(r: ApiResponse): String = {
    val m = Json.mapper.writeValueAsString(r.message)
    r.data match {
      case None     => s"""{"message":$m}"""
      case Some(df) => s"""{"message":$m,"data":[${df.toJSON.collect().mkString(",")}]}"""
    }
  }

  /** Bodies compare as message plus the multiset of row objects. */
  private def canonical(body: String): (String, Seq[String]) = {
    val n = Json.mapper.readTree(body)
    val rows = Option(n.get("data")).map(_.elements().asScala.map(_.toString).toSeq.sorted)
    (Option(n.get("message")).map(_.asText()).getOrElse(""), rows.getOrElse(Nil))
  }

  // ----------------------------------------------------------------- loads

  final case class Done(req: Req, status: Int, body: String, dueMs: Double,
      sentMs: Double, endMs: Double) {
    def ok: Boolean = status == req.expected
  }

  private def attempt(r: Req, due: Double): Done = {
    val s = Clock.nowMs
    val (st, body) =
      try send(r) catch { case e: Exception => (-1, e.toString) }
    Done(r, st, body, due, s, Clock.nowMs)
  }

  /** Closed loop: `Clients` threads, each sending its next request when
    * the previous one completes.
    */
  private def closedLoop(seconds: Double, purpose: String,
      clients: Int = Clients): (Seq[Done], Double) = {
    val gens = (0 until clients).map(c => new Gen(space, ctx.rng(s"$purpose.$c")))
    val t0 = Clock.nowMs
    val deadline = t0 + seconds * 1000
    val results = gens.map { g =>
      val buf = ArrayBuffer[Done]()
      val th = new Thread(() => {
        while (Clock.nowMs < deadline) { val r = g.next(); buf += attempt(r, Clock.nowMs) }
      })
      th.start()
      (th, buf)
    }
    results.foreach(_._1.join())
    (results.flatMap(_._2), (Clock.nowMs - t0) / 1000)
  }

  /** Open loop: requests due at a fixed rate, sent by at most `Clients`
    * threads; latency counts from the due time, so a stall also charges
    * the requests queued behind it.
    */
  private def openLoop(seconds: Double, rate: Double, purpose: String): Seq[Done] = {
    val g = new Gen(space, ctx.rng(purpose))
    val n = math.max(1, (seconds * rate).toInt)
    val reqs = Seq.fill(n)(g.next())
    val t0 = Clock.nowMs + 20
    val nextIdx = new AtomicInteger(0)
    val out = new Array[Done](n)
    val threads = (0 until Clients).map { _ =>
      val th = new Thread(() => {
        var i = nextIdx.getAndIncrement()
        while (i < n) {
          val due = t0 + i * 1000.0 / rate
          val wait = due - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          out(i) = attempt(reqs(i), due)
          i = nextIdx.getAndIncrement()
        }
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    out.toSeq
  }

  private def tally(out: Outcome, done: Seq[Done]): Unit = {
    val ds = if (opts.corrupt == "status") done.updated(0, done.head.copy(status = 500)) else done
    out.attempted += ds.size
    out.failed += ds.count(!_.ok)
    val bad = ds.filterNot(_.ok)
    out.check("serve.statuses_as_expected", bad.isEmpty,
      bad.take(3).map(d => s"${d.req.method} ${d.req.path} -> ${d.status}").mkString("; "))
  }

  /** Replay `ds` in-process through the facade / retrieval service and
    * compare with the HTTP bodies.
    */
  private def checkBodies(out: Outcome, ds: Seq[Done]): Unit = {
    val mismatched = ds.zipWithIndex.filter { case (d, i) =>
      val http = if (opts.corrupt == "response_body" && i == 0) d.body.replace("\"", "'") else d.body
      val local = render(d.req.call())
      scala.util.Try(canonical(http)).toOption != Some(canonical(local))
    }
    out.check("serve.sampled_bodies_equal_facade", ds.nonEmpty && mismatched.isEmpty,
      s"${mismatched.size} of ${ds.size} bodies differ, e.g. " +
        mismatched.take(2).map(_._1.req.path).mkString(", "))
  }

  /** Every `SampleEvery`-th response, starting with the first. */
  private def sample(ds: Seq[Done]): Seq[Done] =
    ds.zipWithIndex.collect { case (d, i) if i % SampleEvery == 0 => d }

  def measure(out: Outcome): Unit = {
    val (ds, wallS) = closedLoop(opts.seconds, "serve.measure", clients = 1)
    val ok = ds.filter(_.ok)
    out.metrics("throughput_per_s") = ok.size / wallS
    // every request counts, and every route weighs the same whatever its
    // share of the requests
    val byRoute = ok.groupBy(_.req.route).map { case (r, xs) =>
      r -> Stats.geomean(xs.map(d => d.endMs - d.sentMs))
    }
    out.metrics("latency_geomean_ms") = Stats.geomean(byRoute.values.toSeq)
    out.notes("route_geomean_ms") = byRoute
    out.notes("requests") = ds.size
    tally(out, ds)
    checkBodies(out, sample(ds))
    ingest.verify(out, root.resolve("persist"))
  }

  def traced(out: Outcome, probe: SparkProbe, trace: Trace): Unit = {
    val m = out.metrics
    val rootId = trace.add(-1, "serve.traced", "serve", Clock.nowMs, Double.NaN)
    // the persist path as a layer: a traced drain of its own seeded backlog
    val drained = new Ingest(ctx, Inputs.backlog(spark, tables, root.resolve("traced-backlog"),
      if (opts.tiny) 1 else TracedIngestFiles, ctx.rng("ingest.traced")))
    drained.traced(out, probe, trace, rootId, root.resolve("traced-persist"))
    drained.verify(out, root.resolve("traced-persist"))

    // untraced: capacity and CPU use under the 4-client closed loop, the
    // open-loop latency and tail at about half that capacity, the
    // generator's lateness, and a sequential baseline for the overhead
    val part = opts.seconds / 4
    val cpu0 = Host.cpuMs
    val (closed, wallS) = closedLoop(part, "serve.closed")
    m("serve.cpu_util") = (Host.cpuMs - cpu0) / (wallS * 1000 * Clients)
    m("serve.capacity_rps") = closed.count(_.ok) / wallS
    val open = openLoop(part, if (opts.tiny) 2.0 else OpenRate, "serve.open")
    val lat = open.filter(_.ok).map(d => d.endMs - d.dueMs)
    m("serve.open_p50_ms") = Stats.median(lat)
    m("serve.p99_ms") = Stats.pct(lat, 99)
    m("serve.generator_late_ms_p99") = Stats.pct(open.map(d => d.sentMs - d.dueMs), 99)
    val g = new Gen(space, ctx.rng("serve.sequential"))
    val seq = Routes.flatMap(r => Seq.fill(if (opts.tiny) 1 else SequentialPerRoute)(g.next(r)))
    val base = seq.map(r => attempt(r, Clock.nowMs))

    // traced: the same requests one at a time over HTTP, then each replayed
    // in-process as facade call + render
    val (http, local) = Tracing.withProbe(spark, probe) {
      val http = seq.map(r => attempt(r, Clock.nowMs))
      val local = seq.map { r =>
        val s = Clock.nowMs
        val resp = r.call()
        val f = Clock.nowMs
        val body = render(resp)
        (s, f, Clock.nowMs, body)
      }
      (http, local)
    }
    // a second untraced pass after the traced one, so the overhead is not
    // confounded with the JVM still warming up
    val after = seq.map(r => attempt(r, Clock.nowMs))
    trace.finish(rootId, Clock.nowMs)
    http.zipWithIndex.foreach { case (d, i) =>
      trace.add(rootId, "http.request", s"req-$i", d.sentMs, d.endMs, Map("route" -> d.req.route))
    }
    var c = Probe.Counters()
    local.zipWithIndex.foreach { case ((s, f, e, _), i) =>
      val key = s"req-$i"
      val id = trace.add(rootId, "serve.request", key, s, e, Map("route" -> seq(i).route))
      val fa = trace.add(id, "serve.facade", key, s, f)
      trace.addSparkSegments(fa, key, s, f, probe)
      val re = trace.add(id, "serve.render", key, f, e)
      trace.addSparkSegments(re, key, f, e, probe)
      c = c + probe.counters(s, e)
    }
    val self = trace.selfByName
    val n = seq.size.toDouble
    Tracing.perOp(m, self.getOrElse("catalyst.planning", 0.0), self.getOrElse("spark.job", 0.0),
      Seq("serve.request", "serve.facade", "serve.render").map(self.getOrElse(_, 0.0)).sum,
      c, n, probe)
    Routes.foreach { r =>
      m(s"serve.route.$r.p50_ms") = Stats.median(http.filter(_.req.route == r).map(d => d.endMs - d.sentMs))
    }
    val facadeMs = local.map { case (s, f, _, _) => f - s }
    val renderMs = local.map { case (_, f, e, _) => e - f }
    m("serve.facade_ms_p50") = Stats.median(facadeMs)
    m("serve.render_ms_p50") = Stats.median(renderMs)
    m("serve.http_ms_p50") = Stats.median(http.indices.map(i =>
      (http(i).endMs - http(i).sentMs) - facadeMs(i) - renderMs(i)))
    val rows = local.map(l => canonical(l._4)._2.size).sum
    m("serve.rows_scanned_per_row_returned") = c.recordsRead.toDouble / math.max(1, rows)
    m("serve.files_read_per_req") = c.filesRead / n
    m("trace.overhead_pct") = Tracing.overheadPct(
      base.indices.map(i => (base(i).endMs - base(i).sentMs + after(i).endMs - after(i).sentMs) / 2),
      http.map(d => d.endMs - d.sentMs))
    tally(out, closed ++ open ++ base ++ http ++ after)
    val mismatched = http.indices.filter(i => canonical(http(i).body) != canonical(local(i)._4))
    out.check("serve.traced_bodies_equal_facade", mismatched.isEmpty,
      s"${mismatched.size} of ${http.size} bodies differ")
  }
}

object Serve {
  val Coll = "events"
  val Docs = "docs"
  val Phrases = "phrases"
  val Routes = Seq("exact", "all", "range", "query", "search", "phrase", "ann", "pq", "hybrid", "resubmit")
  val Clients = 4
  /** Open-loop offered rate, req/s: fixed once at about half the
    * closed-loop capacity measured on a 4-core host.
    */
  val OpenRate = 5.0
  /** Backlog files the serve index is ingested from (5 000 messages each). */
  val IndexFiles = 2
  val SequentialPerRoute = 6
  val WarmupSeconds = 4.0
  /** Backlog files of the traced drain that measures the persist layer. */
  val TracedIngestFiles = 8
  val SampleEvery = 8
  val DayMs = 86400000L

  final case class Space(ids: Array[String], brokers: Array[String], fromMs: Long, toMs: Long,
      words: Array[String], pairs: Seq[Seq[String]], vecIds: Array[Long])

  /** Zipf(1.1) ranks over `n` items, taken in their given order or in a
    * seeded permutation of it.
    */
  final class Zipf(n: Int, rnd: java.util.Random, permute: Boolean = true) {
    private val perm =
      if (permute) scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until n).toVector)
      else (0 until n).toVector
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      perm(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }
}
