package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** HTTP-parity facade over [[QueryService]] — the routing/validation layer
  * of the reference's Indexer API (indexer-api/lib/server.go:139-163,
  * handler.go) re-expressed as a request-case-class → DataFrame dispatcher.
  * No socket: everything an HTTP layer would decide — param parsing,
  * defaulting, key whitelisting, and the 200/206/400/500 status mapping —
  * happens here; serving it is a transport detail this sandbox can't host.
  *
  * Endpoint ↔ request mapping (server.go:139-163):
  *   - GET  /exact/:coll/:id                  → [[GetUniqueRequest]]
  *   - POST /all/:coll   {ids:[…]}            → [[GetAllRequest]]
  *   - GET  /range/:coll/:id?from&to&limit&offset → [[GetRangeRequest]]
  *   - POST /query/:coll {filters:[…]}?limit&offset → [[GetQueriedRequest]]
  *
  * Status fidelity (handler.go): GetUnique maps repo errors to 400
  * (handler.go:40-47); GetAll and GetAllInInterval map body/param errors to
  * 400 and repo errors to 500 (handler.go:63-69,92-99,103-110); GetQueried
  * maps every failure — bind, invalid keys, bad timestamps, repo — to 400
  * (handler.go:130-171). Pagination defaults are limit=20 / offset=0 with
  * Atoi semantics: a non-numeric or non-positive limit and a non-numeric or
  * negative offset silently fall back (util.go:39-66).
  */
object ApiFacade {

  /** Raw query params arrive as strings, exactly like URL params; None =
    * absent. A body of None models a malformed/unbindable JSON body.
    */
  final case class GetUniqueRequest(collection: String, id: String)
  final case class GetAllRequest(collection: String, ids: Option[Seq[String]])
  final case class GetRangeRequest(
      collection: String,
      brokerId: String,
      from: Option[String] = None,
      to: Option[String] = None,
      limit: Option[String] = None,
      offset: Option[String] = None)
  final case class GetQueriedRequest(
      collection: String,
      filters: Option[Seq[Map[String, FilterValue]]],
      limit: Option[String] = None,
      offset: Option[String] = None)

  /** Resubmitter endpoints (resubmitter-api/lib/resubmitter/handler.go:
    * 68-103, 146-186, 203-240): topic comes from the `topic` query param,
    * falling back to the deployment-level default (the TOPIC_ID env var in
    * the reference, a constructor field here); a None body models an
    * unbindable JSON body; the interval body's broker_id is
    * binding:"required" (handler.go:141) while lb/ub are optional with
    * zero-time/now defaults (handler.go:188-199).
    */
  final case class ResubmitIdsRequest(
      collection: String,
      ids: Option[Seq[String]],
      topic: Option[String] = None)
  final case class ResubmitIntervalRequest(
      collection: String,
      brokerId: Option[String],
      lb: Option[String] = None,
      ub: Option[String] = None,
      topic: Option[String] = None)
  final case class ResubmitQueryRequest(
      collection: String,
      filters: Option[Seq[Map[String, FilterValue]]],
      topic: Option[String] = None)

  /** What the HTTP layer would serialize: the status code, the message the
    * reference's gin handlers attach, and the lazy result frame (None on
    * error responses, like the error-body-only responses).
    */
  final case class ApiResponse(status: Int, message: String, data: Option[DataFrame])

  val OnBadRequestMessage = "bad request"
  val OnFailureMessage = "request failed"
  val OkMessage = "ok"
  /** handler.go:40: topic neither in query param nor environment. */
  val OnNoTopicMessage =
    "topic was not defined as a query parameter nor as an environment variable"

  /** Reference response projections (util.go:146-188), restricted to the
    * columns this index materializes.
    */
  val UniqueAttrs: Seq[String] = graft.model.IndexModel.Columns
  val IntervalAttrs: Seq[String] = Seq(
    "broker_id", "broker_msg_id", "business_source_key", "business_object_key",
    "unique_id", "ordering_key", "additional_metadata",
    "location_key", "location_position", "publish_time")

  private val DefaultLimit = 20
  private val DefaultOffset = 0

  /** RFC3339 wire format, identical to the reference's dateFormat
    * `2006-01-02T15:04:05.99999999Z` (util.go:77).
    */
  private def parseWire(s: String): Timestamp =
    Timestamp.from(java.time.Instant.parse(s))
}

/** One facade per served index; `collections` routes the `:mongo_collection`
  * path segment (the reference resolves it to a Mongo collection handle).
  */
final case class ApiFacade(
    collections: Map[String, QueryService],
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    resubmitters: Map[String, Resubmitter] = Map.empty,
    envTopic: Option[String] = None) {
  import ApiFacade._

  def getUnique(req: GetUniqueRequest): ApiResponse =
    collections.get(req.collection) match {
      // GetUnique maps ALL failures to 400 (handler.go:40-47), including
      // not-found — Mongo's FindOne surfaces ErrNoDocuments (mongo.go:
      // 90-119). A point lookup is inherently an action, so this endpoint
      // executes eagerly (one pushed-down point predicate) to keep that
      // contract, and serves the rows it fetched rather than running the
      // lookup again; the other endpoints stay lazy.
      case None => bad()
      case Some(service) =>
        val hit = service.get(req.id, UniqueAttrs)
        val rows = hit.collect()
        if (rows.isEmpty) bad() else ok(local(hit, rows))
    }

  def getAll(req: GetAllRequest): ApiResponse =
    req.ids match {
      case None => bad() // unbindable body (handler.go:63-69)
      case Some(ids) =>
        collections.get(req.collection) match {
          case None          => fail() // repo-level error → 500 (handler.go:73-79)
          case Some(service) => ok(service.getAll(ids, IntervalAttrs))
        }
    }

  def getRange(req: GetRangeRequest): ApiResponse = {
    val (limit, offset) = pagination(req.limit, req.offset)
    // interval params: absent from → beginning of time, absent to → now;
    // malformed values and future upper bounds are 400s (util.go:80-121)
    val bounds =
      try {
        val from = req.from.map(parseWire).getOrElse(new Timestamp(0L))
        val to = req.to.map(parseWire).getOrElse(now())
        require(!to.after(now()), "upper bound in the future")
        Some((from, to))
      } catch { case _: Exception => None }
    bounds match {
      case None => bad()
      case Some((from, to)) =>
        collections.get(req.collection) match {
          case None => fail() // repo-level error → 500 (handler.go:103-110)
          case Some(service) =>
            ok(service.getAllInInterval(from, to, req.brokerId, limit, offset,
              IntervalAttrs, now))
        }
    }
  }

  def getQueried(req: GetQueriedRequest): ApiResponse =
    // every failure — bind, whitelist, timestamp coercion, repo — is a 400
    // on this endpoint (handler.go:130-171); QueryService.compile throws on
    // non-whitelisted keys (T12) and malformed timestamp literals (T11)
    req.filters match {
      case None => bad()
      case Some(filters) =>
        val (limit, offset) = pagination(req.limit, req.offset)
        collections.get(req.collection) match {
          case None => bad()
          case Some(service) =>
            try ok(service.getQueried(filters, limit, offset, IntervalAttrs))
            catch { case _: IllegalArgumentException => bad() }
        }
    }

  /** The resubmitter's response-status rule (resubmitter-api/lib/
    * resubmitter/handler.go:115-139): clean run → 200, nothing published →
    * 400, anything in between → 206 partial content.
    */
  def resubmitStatus(
      indexerErrors: Long, pipelineErrors: Long, published: Long): (Int, String) =
    if (indexerErrors == 0 && pipelineErrors == 0) (200, "resubmission successful")
    else if (published == 0) (400, "resubmission failed due to bad request")
    else (206, "partial resubmission")

  /** POST /resubmit/:coll {ids:[…]}?topic — mode 1 (handler.go:68-103 →
    * resubmitter_job.go:93). A resubmission is a JOB, not a view, so these
    * endpoints execute eagerly (the reference runs the pipeline inside the
    * request) and derive the status from the run's counters.
    */
  def resubmitIds(req: ResubmitIdsRequest): ApiResponse =
    withTopic(req.topic) {
      req.ids match {
        case None      => (400, "resubmission failed due to bad request", None)
        case Some(ids) => runResubmit(req.collection)(_.byIds(ids))
      }
    }

  /** POST /range_resubmit/:coll {broker_id, lb?, ub?}?topic — mode 2
    * (handler.go:146-199 → resubmitter_job.go:147). Missing broker_id is a
    * bind failure (binding:"required"); absent bounds default to
    * zero-time/now; malformed bounds are bind failures too.
    */
  def resubmitInterval(req: ResubmitIntervalRequest): ApiResponse =
    withTopic(req.topic) {
      val bounds =
        try Some((
          req.lb.map(parseWire).getOrElse(new Timestamp(0L)),
          req.ub.map(parseWire).getOrElse(now())))
        catch { case _: Exception => None }
      (req.brokerId, bounds) match {
        case (Some(broker), Some((from, to))) =>
          runResubmit(req.collection)(_.byInterval(from, to, broker, now))
        case _ => (400, "resubmission failed due to bad request", None)
      }
    }

  /** POST /query_resubmit/:coll {filters:[…]}?topic — mode 3
    * (handler.go:203-240 → resubmitter_job.go:202). Non-whitelisted keys
    * and bad operators surface as indexer errors → 400 with nothing
    * published, like the reference's IndexerError path.
    */
  def resubmitQuery(req: ResubmitQueryRequest): ApiResponse =
    withTopic(req.topic) {
      req.filters match {
        case None          => (400, "resubmission failed due to bad request", None)
        case Some(filters) => runResubmit(req.collection)(_.byQuery(filters))
      }
    }

  private def withTopic(topic: Option[String])(
      body: => (Int, String, Option[DataFrame])): ApiResponse =
    // an EMPTY topic param falls back to the env topic exactly like the
    // reference (handler.go getTopicIDFromQueryOrEnv: "" → env), so the
    // param filters to nonEmpty BEFORE the orElse
    topic.filter(_.nonEmpty).orElse(envTopic).filter(_.nonEmpty) match {
      case None => ApiResponse(400, OnNoTopicMessage, None)
      case Some(_) =>
        val (status, msg, data) = body
        ApiResponse(status, msg, data)
    }

  /** Run one composed mode and map its counters through [[resubmitStatus]]:
    * an unknown collection or a rejected query is an indexer error with
    * nothing published (→ 400); index rows that found no stored record are
    * the pipeline's storage/deserialization failures (→ 206 partial if
    * anything else made it); a clean drain is a 200 even when empty
    * (chooseHTTPStatusCode: no errors → 200).
    *
    * The publish plan runs ONCE: its rows are fetched (the response
    * renders them all anyway, so the driver holds nothing it would not
    * have held), counted for the status, and served in fetch order as
    * the response frame; the indexed slice is counted in one more job.
    * These are the reference's job counters (resubmitter_job.go:28-58:
    * indexed / fetched-deserialized-publishable).
    */
  private def runResubmit(collection: String)(
      mode: Resubmitter => ResubmitRun): (Int, String, Option[DataFrame]) =
    resubmitters.get(collection) match {
      case None =>
        val (s, m) = resubmitStatus(indexerErrors = 1, pipelineErrors = 0, published = 0)
        (s, m, None)
      case Some(r) =>
        try {
          val run = mode(r)
          val rows = run.publish.collect()
          val published = rows.length.toLong
          val (s, m) = resubmitStatus(
            indexerErrors = 0,
            pipelineErrors = run.indexed.count() - published,
            published = published)
          (s, m, Some(local(run.publish, rows)))
        } catch {
          case _: IllegalArgumentException =>
            val (s, m) = resubmitStatus(indexerErrors = 1, pipelineErrors = 0, published = 0)
            (s, m, None)
        }
    }

  private def pagination(limit: Option[String], offset: Option[String]): (Int, Int) = (
    limit.flatMap(_.toIntOption).filter(_ > 0).getOrElse(DefaultLimit),
    offset.flatMap(_.toIntOption).filter(_ >= 0).getOrElse(DefaultOffset))

  /** Already-fetched rows of `df` as a frame of the same schema and row
    * order — a local relation, so serving it re-runs nothing.
    */
  private def local(df: DataFrame, rows: Array[org.apache.spark.sql.Row]): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)

  private def ok(df: DataFrame) = ApiResponse(200, OkMessage, Some(df))
  private def bad() = ApiResponse(400, OnBadRequestMessage, None)
  private def fail() = ApiResponse(500, OnFailureMessage, None)
}
