package graft.operators

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.LocalJson

/** A live HTTP listener over [[ApiFacade]] — the reference's two gin
  * servers rebuilt on the JDK's built-in `com.sun.net.httpserver` (the
  * one HTTP server this zero-egress build can host):
  *
  *   - Indexer API routes (indexer-api/lib/server.go:139-163):
  *     GET  /exact/:coll/:id
  *     POST /all/:coll                        {"ids": […]}
  *     GET  /range/:coll/:brokerId            ?from&to&limit&offset
  *     POST /query/:coll                      {"filters": […]}?limit&offset
  *   - Resubmitter routes (resubmitter-api/lib/resubmitter/server.go:176-194):
  *     POST /resubmit/:coll                   {"ids": […]}?topic
  *     POST /range/:coll                      {"broker_id", "lb"?, "ub"?}?topic
  *     POST /query/:coll                      {"filters": […]}?topic
  *
  * The two route sets collide on /range and /query because the reference
  * runs them as SEPARATE processes on separate ports — mirrored here as a
  * per-instance [[ApiServer.Role]].
  *
  * When a `retrievalMemo` ([[TwoQCache]]) is wired, the retrieval routes
  * memoize their RENDERED (status, body) per (route, collection,
  * canonicalized request body) with single-flight on concurrent misses —
  * the reference's one caching idea (the 2Q CountCache, cache.go:35-37)
  * applied to the routes clients actually hammer. Sound because a
  * server instance's stores are immutable for its lifetime (a catalog
  * swap implies a rebuilt listener); eviction is correctness-neutral.
  *
  * Both roles additionally serve `GET /metrics` — Prometheus text
  * exposition of a wired [[MetricsRegistry]] (the reference's :2112
  * metrics server, common/metrics.go:148-169) — when the caller passes
  * one; unwired instances 404 the route. Likewise both roles serve the
  * stored-index retrieval routes when a [[RetrievalService]] is wired
  * (beyond the reference surface — the HTTP face of the persisted
  * BM25/ANN stores):
  *     POST /search/:coll                     {"terms": […], "k"?}
  *                                       or   {"queries": [{"query_id", "terms"}…], "k"?}
  *     POST /phrase/:coll                     {"phrase": […], "k"?}
  *     POST /ann/:coll                        {"query_ids": […], "k"?, "nprobe"?}
  *                                       or   {"vectors": [[…]…], "k"?, "nprobe"?}
  *     POST /pq/:coll                         {"query_ids": […], "k"?, "rerank"?}
  *                                       or   {"vectors": [[…]…], "k"?, "rerank"?}
  *     POST /hybrid/:coll                     {"terms": […], "query_id" | "vector": […], "k"?, "nprobe"?, "k_rrf"?}
  *
  * Contract fidelity:
  *   - status/message/data come verbatim from the facade (which carries
  *     the handler.go mapping ApiFacadeSpec pins down);
  *   - responses serialize as `{"message": …, "data": [row-objects…]}`,
  *     row objects via Spark's own JSON encoder (`df.toJSON`) — data
  *     frames at this layer are ≤(limit)-row pages or resubmit plans, so
  *     the collect is bounded by construction;
  *   - filter bodies accept the reference's Mongo wire shape: a filter
  *     map value is either a scalar (equality) or a single-operator
  *     object `{"$gte": v}` with $-prefixed Mongo operators
  *     (mongo.go:222 passes them straight through as `{"$or": filters}`);
  *   - malformed JSON or a missing required field binds to the facade's
  *     `None` body → the same 400 a gin bind failure produces;
  *   - the reference's ReadHeaderTimeout (server.go:36-42, default 2 s)
  *     maps to the JDK server's `sun.net.httpserver.maxReqTime` — a
  *     JVM-GLOBAL system property read at server creation, set by the
  *     caller/launcher, not per-instance (documented limitation);
  *   - graceful drain: [[stop]] delays up to `drainSec` for in-flight
  *     exchanges, the analog of the reference's waitGroup-then-5s
  *     shutdown (server.go:180-196), then ends the worker pool.
  *
  * Port 0 binds an ephemeral port ([[boundPort]] reports it) so specs can
  * run hermetically in parallel.
  */
final class ApiServer(
    facade: ApiFacade,
    role: ApiServer.Role,
    port: Int = 0,
    metrics: Option[MetricsRegistry] = None,
    retrieval: Option[RetrievalService] = None,
    retrievalMemo: Option[TwoQCache[(Int, String)]] = None) {
  import ApiFacade._
  import ApiServer._

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", (exchange: HttpExchange) => handle(exchange))
  // one worker pool, not a thread per request; the facade itself is
  // thread-safe (immutable routing maps over lazy frames). The server
  // never shuts down an executor it was handed, so [[stop]] does.
  private val workers = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"${WorkerPrefix}${boundPort}-${n.incrementAndGet()}"))
  }
  server.setExecutor(workers)

  def start(): Unit = server.start()
  def boundPort: Int = server.getAddress.getPort

  /** Stop accepting, drain in-flight exchanges for up to `drainSec`, then
    * end the worker pool: its threads are non-daemon, so a stopped server
    * must not leave them running.
    */
  def stop(drainSec: Int = 5): Unit = {
    server.stop(drainSec)
    workers.shutdownNow()
    workers.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def handle(x: HttpExchange): Unit = {
    // Set (conservatively, just before sendResponseHeaders) so a crash
    // AFTER the status line is on the wire — e.g. the socket write of a
    // rendered body failing mid-stream — does not attempt a second
    // reply: sendResponseHeaders throws once headers are sent, and the
    // secondary exception would escape into the executor thread. The
    // client then sees a truncated body, the only honest option left;
    // the well-formed 500 is reserved for crashes BEFORE headers, which
    // render() pre-materialization makes the overwhelmingly common case.
    var headersSent = false
    def reply(
        status: Int, bodyStr: String,
        contentType: String = "application/json"): Unit = {
      val bytes = bodyStr.getBytes(UTF_8)
      x.getResponseHeaders.set("Content-Type", contentType)
      headersSent = true
      x.sendResponseHeaders(status, bytes.length.toLong)
      val os = x.getResponseBody
      try os.write(bytes)
      finally os.close()
    }
    try {
      val segs = x.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq
      val q = queryParams(x.getRequestURI.getRawQuery)
      val method = x.getRequestMethod
      // Prometheus scrape endpoint — the reference runs this as a SEPARATE
      // :2112 server beside each component (metrics.go:148-169, wired at
      // persistor/run.go:64); folded into this listener as a route since a
      // graft instance hosts one JDK server. Served in BOTH roles (every
      // reference component calls RunMetricsServer); absent registry → 404
      // falls through, same as an unwired reference deployment.
      if (method == "GET" && segs == Seq("metrics") && metrics.isDefined)
        reply(200, metrics.get.prometheusText, PrometheusContentType)
      else routeJson(x, method, segs, q, (s, b) => reply(s, b))
    } catch {
      // a handler crash must produce a well-formed 500, never a hung
      // socket — unless the status line already went out (see above)
      case _: Exception if !headersSent =>
        reply(500, render(ApiFacade.OnFailureMessage, None))
      case _: Exception => ()
    } finally x.close()
  }

  private def routeJson(
      x: HttpExchange,
      method: String,
      segs: Seq[String],
      q: Map[String, String],
      reply: (Int, String) => Unit): Unit = {
    // stored-index retrieval routes (beyond the reference surface) —
    // served in EITHER role when a RetrievalService is wired, like
    // /metrics; unwired instances 404 them. Memoizable: the stores are
    // immutable within a process lifetime (the CountCache argument), so
    // identical requests may serve the memoized rendered response.
    (method, segs) match {
      case ("POST", Seq(route @ ("search" | "phrase" | "ann" | "pq" | "hybrid"), coll))
          if retrieval.isDefined =>
        val b = body(x)
        def run(): (Int, String) = {
          val r = retrievalResponse(route, coll, b)
          (r.status, render(r.message, r.data))
        }
        val (status, bodyStr) = (retrievalMemo, b) match {
          // memo only requests that parsed — an unbindable body is a
          // cheap 400, and raw bytes would make a poor canonical key
          case (Some(memo), Some(node)) =>
            memo.getOrCompute(s"POST /$route/$coll ${canonicalJson(node)}")(run())
          case _ => run()
        }
        reply(status, bodyStr)
        return
      case _ => ()
    }
    val resp: Option[ApiResponse] = (role, method, segs) match {
      case (Indexer, "GET", Seq("exact", coll, id)) =>
        Some(facade.getUnique(GetUniqueRequest(coll, id)))
      case (Indexer, "POST", Seq("all", coll)) =>
        Some(facade.getAll(GetAllRequest(coll, parseIds(body(x)))))
      case (Indexer, "GET", Seq("range", coll, brokerId)) =>
        Some(facade.getRange(GetRangeRequest(coll, brokerId,
          from = q.get("from"), to = q.get("to"),
          limit = q.get("limit"), offset = q.get("offset"))))
      case (Indexer, "POST", Seq("query", coll)) =>
        Some(facade.getQueried(GetQueriedRequest(coll,
          parseFilters(body(x)),
          limit = q.get("limit"), offset = q.get("offset"))))
      case (Resubmitter, "POST", Seq("resubmit", coll)) =>
        Some(facade.resubmitIds(ResubmitIdsRequest(coll,
          parseIds(body(x)), topic = q.get("topic"))))
      case (Resubmitter, "POST", Seq("range", coll)) =>
        val b = body(x)
        Some(facade.resubmitInterval(ResubmitIntervalRequest(coll,
          brokerId = b.flatMap(n => textField(n, "broker_id")),
          lb = b.flatMap(n => textField(n, "lb")),
          ub = b.flatMap(n => textField(n, "ub")),
          topic = q.get("topic"))))
      case (Resubmitter, "POST", Seq("query", coll)) =>
        Some(facade.resubmitQuery(ResubmitQueryRequest(coll,
          parseFilters(body(x)), topic = q.get("topic"))))
      case _ => None
    }
    resp match {
      // render() runs to completion (including the bounded collect)
      // BEFORE reply() touches the exchange, so a facade/Spark crash
      // lands in the catch with headers still unsent
      case Some(r) => reply(r.status, render(r.message, r.data))
      case None => reply(404, """{"message":"not found"}""")
    }
  }

  /** Dispatch one retrieval route to the wired [[RetrievalService]] —
    * the request-to-bind mapping the memo path and the direct path
    * share, so memoized and computed responses are identical by
    * construction.
    */
  private def retrievalResponse(
      route: String, coll: String, b: Option[JsonNode]): ApiResponse =
    route match {
      case "search" =>
        // a "queries" field selects the batch mode; "terms" the single
        if (b.exists(_.has("queries")))
          retrieval.get.searchBatch(coll,
            queryBatchField(b, "queries"), intFieldOr(b, "k", 10))
        else
          retrieval.get.search(coll,
            stringArrayField(b, "terms"), intFieldOr(b, "k", 10))
      case "phrase" =>
        retrieval.get.phraseSearch(coll,
          stringArrayField(b, "phrase"), intFieldOr(b, "k", 10))
      case "ann" =>
        // a "vectors" field selects the caller-supplied-vector mode
        if (b.exists(_.has("vectors")))
          retrieval.get.annSearchVectors(coll,
            doubleMatrixField(b, "vectors"),
            intFieldOr(b, "k", 10), intFieldOr(b, "nprobe", 1))
        else
          retrieval.get.annSearch(coll,
            longArrayField(b, "query_ids"),
            intFieldOr(b, "k", 10), intFieldOr(b, "nprobe", 1))
      case "pq" =>
        if (b.exists(_.has("vectors")))
          retrieval.get.pqSearchVectors(coll,
            doubleMatrixField(b, "vectors"),
            intFieldOr(b, "k", 10), intFieldOr(b, "rerank", 32))
        else
          retrieval.get.pqSearch(coll,
            longArrayField(b, "query_ids"),
            intFieldOr(b, "k", 10), intFieldOr(b, "rerank", 32))
      case "hybrid" =>
        // present-but-mistyped must 400, never silently fall back to the
        // OTHER mode (the intFieldOr convention: a malformed field is a
        // bind failure, not an absence)
        val qid = longField(b, "query_id")
        val vec = doubleArrayField(b, "vector")
        if ((b.exists(_.has("query_id")) && qid.isEmpty) ||
            (b.exists(_.has("vector")) && vec.isEmpty))
          ApiResponse(400, OnBadRequestMessage, None)
        else
          retrieval.get.hybrid(coll,
            stringArrayField(b, "terms"), qid, vec,
            intFieldOr(b, "k", 10), intFieldOr(b, "nprobe", 1),
            intFieldOr(b, "k_rrf", 60))
    }

  private def body(x: HttpExchange): Option[JsonNode] =
    try {
      // bounded read: a body past MaxBodyBytes is a bind failure (400),
      // never an unbounded driver-side buffer a client can grow at will
      val bytes = x.getRequestBody.readNBytes(MaxBodyBytes + 1)
      if (bytes.length > MaxBodyBytes) None
      else {
        val raw = new String(bytes, UTF_8)
        if (raw.trim.isEmpty) None else Some(Json.readTree(raw))
      }
    } catch { case _: Exception => None } // malformed JSON → bind failure
}

object ApiServer {

  /** Which of the reference's two API processes this instance plays. */
  sealed trait Role
  case object Indexer extends Role
  case object Resubmitter extends Role

  private[operators] val Json = new ObjectMapper()

  /** The response body: `{"message": …, "data": [row-objects…]}`, rows
    * through Spark's own JSON encoder — on the driver when the frame holds
    * rows the facade already fetched (a local relation), so serving them
    * runs no job.
    */
  private[operators] def render(message: String, data: Option[DataFrame]): String = {
    val m = Json.writeValueAsString(message)
    data match {
      case None => s"""{"message":$m}"""
      case Some(df) =>
        // bounded by construction: a ≤limit-row page or a resubmit plan
        val rows = LocalJson.rows(df).getOrElse(df.toJSON.collect().toSeq)
        s"""{"message":$m,"data":[${rows.mkString(",")}]}"""
    }
  }

  /** Worker thread names: this prefix, the bound port, the thread's index. */
  private[operators] val WorkerPrefix = "api-server-"

  // serializes java Maps with keys sorted — the canonicalizer's engine
  private val SortedJson = {
    val m = new ObjectMapper()
    m.configure(
      com.fasterxml.jackson.databind.SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS,
      true)
    m
  }

  /** Canonical serialization of a request body for the retrieval memo's
    * key: object fields sort by name at every nesting level (via a
    * detour through java Maps, which [[SortedJson]] serializes sorted);
    * array element order is preserved — it is semantic in terms lists
    * and vectors. Two bodies differing only in field order therefore
    * hit the same memo entry.
    */
  private[operators] def canonicalJson(n: JsonNode): String =
    SortedJson.writeValueAsString(SortedJson.treeToValue(n, classOf[Object]))

  /** Request-body ceiling: bodies at this layer are id lists, filter
    * maps, or query-vector batches — all bounded by the serve valves
    * downstream — so 8 MiB is generous; anything larger is a client bug
    * or abuse and binds to 400 instead of buffering on the driver.
    */
  private[operators] val MaxBodyBytes: Int = 8 << 20

  /** Prometheus text exposition format 0.0.4 — the Content-Type
    * promhttp.Handler() negotiates for a plain scrape.
    */
  val PrometheusContentType = "text/plain; version=0.0.4; charset=utf-8"

  /** `{"ids": […]}` → Some(ids); anything else is a bind failure (None),
    * matching gin's `binding:"required"` on the ids field
    * (handler.go:55-69).
    */
  private[operators] def parseIds(body: Option[JsonNode]): Option[Seq[String]] =
    body.flatMap { n =>
      val ids = n.get("ids")
      if (ids == null || !ids.isArray) None
      else {
        val it = ids.elements()
        val out = Seq.newBuilder[String]
        var ok = true
        while (it.hasNext) {
          val e = it.next()
          if (e.isTextual) out += e.asText() else ok = false
        }
        if (ok) Some(out.result()) else None
      }
    }

  /** `{"filters": [{k: v | {"$op": v}}…]}` → facade filter maps. Scalars
    * bind as equality; a single-field object binds as the $-prefixed
    * Mongo comparison the reference forwards verbatim
    * (GetQueriedRequestBody handler.go:116-118 → mongo.go:222). Any other
    * shape is a bind failure.
    */
  private[operators] def parseFilters(
      body: Option[JsonNode]): Option[Seq[Map[String, FilterValue]]] =
    body.flatMap { n =>
      val fs = n.get("filters")
      if (fs == null || !fs.isArray) None
      else {
        val out = Seq.newBuilder[Map[String, FilterValue]]
        val it = fs.elements()
        var ok = true
        while (it.hasNext && ok) {
          val el = it.next()
          if (!el.isObject) ok = false
          else {
            val m = Map.newBuilder[String, FilterValue]
            val fields = el.fields()
            while (fields.hasNext && ok) {
              val entry = fields.next()
              val v = entry.getValue
              if (v.isValueNode) m += entry.getKey -> Eq(v.asText())
              else if (v.isObject && v.size() == 1) {
                val op = v.fieldNames().next()
                val inner = v.get(op)
                if (op.startsWith("$") && inner.isValueNode)
                  m += entry.getKey -> Cmp(op.substring(1), inner.asText())
                else ok = false
              } else ok = false
            }
            if (ok) out += m.result()
          }
        }
        if (ok) Some(out.result()) else None
      }
    }

  /** A required array-of-strings body field → Some(values); absent,
    * non-array, or mixed-type → bind failure (None), the gin
    * `binding:"required"` convention [[parseIds]] follows.
    */
  private[operators] def stringArrayField(
      body: Option[JsonNode], name: String): Option[Seq[String]] =
    body.flatMap { n =>
      val arr = n.get(name)
      if (arr == null || !arr.isArray) None
      else {
        val it = arr.elements()
        val out = Seq.newBuilder[String]
        var ok = true
        while (it.hasNext) {
          val e = it.next()
          if (e.isTextual) out += e.asText() else ok = false
        }
        if (ok) Some(out.result()) else None
      }
    }

  /** A required array-of-integers body field, same bind rules. */
  private[operators] def longArrayField(
      body: Option[JsonNode], name: String): Option[Seq[Long]] =
    body.flatMap { n =>
      val arr = n.get(name)
      if (arr == null || !arr.isArray) None
      else {
        val it = arr.elements()
        val out = Seq.newBuilder[Long]
        var ok = true
        while (it.hasNext) {
          val e = it.next()
          if (e.isIntegralNumber) out += e.asLong() else ok = false
        }
        if (ok) Some(out.result()) else None
      }
    }

  /** An OPTIONAL integer body field: absent → Some(default); present and
    * integral → Some(value); present but mistyped OR outside Int range →
    * bind failure (None), so a malformed k/nprobe 400s instead of
    * silently defaulting — and k=4294967301 400s instead of silently
    * truncating to 5 (asInt wraps out-of-range longs).
    */
  private[operators] def intFieldOr(
      body: Option[JsonNode], name: String, default: Int): Option[Int] =
    body match {
      case None => Some(default)
      case Some(n) =>
        val v = n.get(name)
        if (v == null) Some(default)
        else if (v.isIntegralNumber && v.canConvertToInt) Some(v.asInt())
        else None
    }

  /** A REQUIRED integer body field: present and integral → Some(value);
    * absent or mistyped → bind failure (None).
    */
  private[operators] def longField(
      body: Option[JsonNode], name: String): Option[Long] =
    body.flatMap { n =>
      val v = n.get(name)
      if (v != null && v.isIntegralNumber) Some(v.asLong()) else None
    }

  /** A required array-of-numbers body field (one query vector), same
    * bind rules.
    */
  private[operators] def doubleArrayField(
      body: Option[JsonNode], name: String): Option[Seq[Double]] =
    body.flatMap { n =>
      val arr = n.get(name)
      if (arr == null || !arr.isArray) None
      else {
        val out = Seq.newBuilder[Double]
        val it = arr.elements()
        var ok = true
        while (it.hasNext && ok) {
          val e = it.next()
          if (e.isNumber) out += e.asDouble() else ok = false
        }
        if (ok) Some(out.result()) else None
      }
    }

  /** A required array-of-arrays-of-numbers body field (the query-vector
    * batch shape), same bind rules: any non-numeric element or
    * non-array row is a bind failure.
    */
  private[operators] def doubleMatrixField(
      body: Option[JsonNode], name: String): Option[Seq[Seq[Double]]] =
    body.flatMap { n =>
      val arr = n.get(name)
      if (arr == null || !arr.isArray) None
      else {
        val rows = Seq.newBuilder[Seq[Double]]
        val it = arr.elements()
        var ok = true
        while (it.hasNext && ok) {
          val row = it.next()
          if (!row.isArray) ok = false
          else {
            val vs = Seq.newBuilder[Double]
            val jt = row.elements()
            while (jt.hasNext && ok) {
              val e = jt.next()
              if (e.isNumber) vs += e.asDouble() else ok = false
            }
            if (ok) rows += vs.result()
          }
        }
        if (ok) Some(rows.result()) else None
      }
    }

  /** A required array of `{"query_id": n, "terms": […]}` objects (the
    * batch-search suite shape), same bind rules.
    */
  private[operators] def queryBatchField(
      body: Option[JsonNode], name: String): Option[Seq[(Long, Seq[String])]] =
    body.flatMap { n =>
      val arr = n.get(name)
      if (arr == null || !arr.isArray) None
      else {
        val out = Seq.newBuilder[(Long, Seq[String])]
        val it = arr.elements()
        var ok = true
        while (it.hasNext && ok) {
          val q = it.next()
          val qid = q.get("query_id")
          val terms = stringArrayField(Some(q), "terms")
          if (q.isObject && qid != null && qid.isIntegralNumber && terms.isDefined)
            out += ((qid.asLong(), terms.get))
          else ok = false
        }
        if (ok) Some(out.result()) else None
      }
    }

  private[operators] def textField(n: JsonNode, name: String): Option[String] = {
    val v = n.get(name)
    if (v != null && v.isValueNode) Some(v.asText()) else None
  }

  private[operators] def queryParams(rawQuery: String): Map[String, String] =
    if (rawQuery == null || rawQuery.isEmpty) Map.empty
    else rawQuery.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(java.net.URLDecoder.decode(k, UTF_8) ->
            java.net.URLDecoder.decode(v, UTF_8))
        case Array(k) => Some(java.net.URLDecoder.decode(k, UTF_8) -> "")
        case _ => None
      }
    }.toMap
}
