package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** Facade tests: the four reference endpoints (indexer-api/lib/
  * server.go:139-163) as request dispatch — status mapping, pagination
  * defaults (limit=20/offset=0, util.go:39-66), interval param parsing,
  * key-whitelist 400s — plus the resubmitter's 200/206/400 rule
  * (resubmitter-api/lib/resubmitter/handler.go:115-139).
  */
class ApiFacadeSpec extends SparkSpec {
  import spark.implicits._
  import ApiFacade._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val fixedNow = ts("2024-02-01 00:00:00")

  private lazy val index = {
    val rows = (1 to 30).map { i =>
      (s"b${i % 3}", s"m$i", f"id_$i%03d", s"bsk${i % 2}", s"bok$i", "src",
        if (i % 4 == 0) "" else s"u$i", s"${i * 7 % 100}",
        Map("k" -> s"${i * 7 % 100}"), s"blob-${i / 10}", (i % 10 + 1).toLong,
        ts(f"2024-01-${i % 28 + 1}%02d 00:00:00"),
        ts(f"2024-01-${i % 28 + 1}%02d 00:00:01"), true)
    }
    rows.toDF(graft.model.IndexModel.Columns: _*)
  }

  private lazy val api =
    ApiFacade(Map("meta" -> QueryService(index)), now = () => fixedNow)

  test("GET /exact returns the projected row; not-found and bad collection are 400s") {
    val hit = api.getUnique(GetUniqueRequest("meta", "id_007"))
    assert(hit.status === 200)
    assert(hit.data.get.columns.toSeq === UniqueAttrs)
    assert(hit.data.get.select("unique_id").as[String].collect().toSeq === Seq("id_007"))
    assert(api.getUnique(GetUniqueRequest("meta", "id_999")).status === 400)
    assert(api.getUnique(GetUniqueRequest("nope", "id_007")).status === 400)
  }

  test("POST /all binds ids; malformed body 400, unknown collection 500") {
    val hit = api.getAll(GetAllRequest("meta", Some(Seq("id_001", "id_010"))))
    assert(hit.status === 200)
    assert(hit.data.get.columns.toSeq === IntervalAttrs)
    assert(hit.data.get.count() === 2)
    assert(api.getAll(GetAllRequest("meta", None)).status === 400)
    assert(api.getAll(GetAllRequest("nope", Some(Seq("id_001")))).status === 500)
  }

  test("GET /range applies limit=20/offset=0 defaults with Atoi fallback semantics") {
    // all params absent: from = beginning of time, to = now, limit 20
    val full = api.getRange(GetRangeRequest("meta", "b1"))
    assert(full.status === 200)
    val b1Total = index.filter($"broker_id" === "b1").count()
    assert(b1Total === 10) // fixture: fewer than a page for one broker
    assert(full.data.get.count() === b1Total)
    // non-numeric limit and negative offset silently fall back (util.go:49-66)
    val fallback = api.getRange(GetRangeRequest("meta", "b1",
      limit = Some("abc"), offset = Some("-3")))
    assert(fallback.status === 200 && fallback.data.get.count() === b1Total)
    // explicit pagination slices deterministically
    val page = api.getRange(GetRangeRequest("meta", "b1",
      limit = Some("4"), offset = Some("4")))
    assert(page.data.get.count() === 4)
    // wire-format bounds narrow the scan
    val narrowed = api.getRange(GetRangeRequest("meta", "b1",
      from = Some("2024-01-05T00:00:00Z"), to = Some("2024-01-10T00:00:00Z")))
    assert(narrowed.status === 200)
    assert(narrowed.data.get.count() ===
      index.filter($"broker_id" === "b1" &&
        $"publish_time" >= ts("2024-01-05 00:00:00") &&
        $"publish_time" < ts("2024-01-10 00:00:00")).count())
  }

  test("GET /range rejects malformed and future bounds with 400, bad collection 500") {
    assert(api.getRange(GetRangeRequest("meta", "b1",
      from = Some("01/05/2024"))).status === 400)
    assert(api.getRange(GetRangeRequest("meta", "b1",
      to = Some("2999-01-01T00:00:00Z"))).status === 400)
    assert(api.getRange(GetRangeRequest("nope", "b1")).status === 500)
  }

  test("POST /query whitelists keys and coerces timestamps; every failure is 400") {
    val hit = api.getQueried(GetQueriedRequest("meta",
      Some(Seq(Map("broker_id" -> Eq("b1"), "meta_k" -> Cmp("gte", "50"))))))
    assert(hit.status === 200)
    assert(hit.data.get.columns.toSeq === IntervalAttrs)
    assert(hit.data.get.count() ===
      index.filter($"broker_id" === "b1" && $"meta_k" >= "50").count())
    // default limit caps an otherwise-unbounded page at 20
    val wide = api.getQueried(GetQueriedRequest("meta",
      Some(Seq(Map("broker_id" -> Cmp("ne", "zzz"))))))
    assert(wide.data.get.count() === 20)
    // bad key, malformed timestamp literal, unbindable body, bad collection
    assert(api.getQueried(GetQueriedRequest("meta",
      Some(Seq(Map("no_such_attr" -> Eq("x")))))).status === 400)
    assert(api.getQueried(GetQueriedRequest("meta",
      Some(Seq(Map("publish_time" -> Cmp("gte", "not-a-time")))))).status === 400)
    assert(api.getQueried(GetQueriedRequest("meta", None)).status === 400)
    assert(api.getQueried(GetQueriedRequest("nope",
      Some(Seq(Map("broker_id" -> Eq("b1")))))).status === 400)
  }

  test("resubmit status: clean 200, nothing published 400, partial 206") {
    assert(api.resubmitStatus(0, 0, 42) === ((200, "resubmission successful")))
    assert(api.resubmitStatus(3, 1, 0) === ((400, "resubmission failed due to bad request")))
    assert(api.resubmitStatus(0, 2, 40) === ((206, "partial resubmission")))
  }

  // record store for the composed modes: every index row's blob record
  // EXCEPT i=7 — the one hole turns any slice containing id_007 into the
  // reference's partial-resubmission case (storage failure → 206)
  private lazy val records =
    (1 to 30).filter(_ != 7)
      .map(i => (s"blob-${i / 10}", (i % 10 + 1).toLong, s"payload-$i"))
      .toDF("location_key", "location_position", "payload")

  private lazy val rApi = ApiFacade(
    Map("meta" -> QueryService(index)),
    now = () => fixedNow,
    resubmitters = Map("meta" -> Resubmitter(QueryService(index), records)),
    envTopic = Some("env-topic"))

  test("resubmit by ids: clean 200 with the publish plan; a missing record → 206 partial") {
    val clean = rApi.resubmitIds(ResubmitIdsRequest("meta", Some(Seq("id_001", "id_002"))))
    assert(clean.status === 200 && clean.message === "resubmission successful")
    assert(clean.data.get.count() === 2)
    // repackaged attributes made the plan (T13 ran inside the composition)
    assert(clean.data.get.columns.contains("attributes"))
    val partial = rApi.resubmitIds(ResubmitIdsRequest("meta", Some(Seq("id_007", "id_008"))))
    assert(partial.status === 206 && partial.message === "partial resubmission")
    assert(partial.data.get.count() === 1)
    // unbindable body and unknown collection are 400s with nothing published
    assert(rApi.resubmitIds(ResubmitIdsRequest("meta", None)).status === 400)
    assert(rApi.resubmitIds(ResubmitIdsRequest("nope", Some(Seq("id_001")))).status === 400)
  }

  test("resubmit topic routing: query param or env, neither → 400 no-topic") {
    val noEnv = ApiFacade(Map("meta" -> QueryService(index)),
      now = () => fixedNow,
      resubmitters = Map("meta" -> Resubmitter(QueryService(index), records)))
    val missing = noEnv.resubmitIds(ResubmitIdsRequest("meta", Some(Seq("id_001"))))
    assert(missing.status === 400 && missing.message === OnNoTopicMessage)
    assert(noEnv.resubmitIds(
      ResubmitIdsRequest("meta", Some(Seq("id_001")), topic = Some("t"))).status === 200)
    // an EMPTY topic param falls back to the env topic (handler.go:
    // getTopicIDFromQueryOrEnv), it does not mask it
    assert(rApi.resubmitIds(
      ResubmitIdsRequest("meta", Some(Seq("id_001")), topic = Some(""))).status === 200)
    val emptyBoth = noEnv.resubmitIds(
      ResubmitIdsRequest("meta", Some(Seq("id_001")), topic = Some("")))
    assert(emptyBoth.status === 400 && emptyBoth.message === OnNoTopicMessage)
  }

  test("resubmit interval: lb/ub default to zero-time/now; broker required; bad bounds 400") {
    // b1 holds i=7 (the record hole) → partial; b2 is whole → clean
    val b1 = rApi.resubmitInterval(ResubmitIntervalRequest("meta", Some("b1")))
    assert(b1.status === 206)
    assert(b1.data.get.count() ===
      index.filter($"broker_id" === "b1").count() - 1)
    val b2 = rApi.resubmitInterval(ResubmitIntervalRequest("meta", Some("b2")))
    assert(b2.status === 200)
    assert(b2.data.get.count() === index.filter($"broker_id" === "b2").count())
    // explicit wire-format bounds narrow the slice
    val narrowed = rApi.resubmitInterval(ResubmitIntervalRequest("meta", Some("b2"),
      lb = Some("2024-01-05T00:00:00Z"), ub = Some("2024-01-10T00:00:00Z")))
    assert(narrowed.status === 200)
    assert(narrowed.data.get.count() ===
      index.filter($"broker_id" === "b2" &&
        $"publish_time" >= ts("2024-01-05 00:00:00") &&
        $"publish_time" < ts("2024-01-10 00:00:00")).count())
    assert(rApi.resubmitInterval(
      ResubmitIntervalRequest("meta", brokerId = None)).status === 400)
    assert(rApi.resubmitInterval(ResubmitIntervalRequest("meta", Some("b1"),
      lb = Some("01/05/2024"))).status === 400)
    assert(rApi.resubmitInterval(ResubmitIntervalRequest("meta", Some("b1"),
      ub = Some("2999-01-01T00:00:00Z"))).status === 400)
  }

  test("resubmit singleton mode delivers null-position single-record blobs; default treats them as pipeline loss") {
    val idxS = Seq(
      // singleton blob: one index row, NO position (external writer shape)
      ("b9", "m1", "id_x1", "bsk", "bok1", "src", "u1", "1",
        Map("k" -> "1"), "blobS", None: Option[Long], ts("2024-01-02 00:00:00"),
        ts("2024-01-02 00:00:01"), true),
      ("b9", "m2", "id_x2", "bsk", "bok2", "src", "u2", "2",
        Map("k" -> "2"), "blobP", Some(1L), ts("2024-01-03 00:00:00"),
        ts("2024-01-03 00:00:01"), true))
      .toDF(graft.model.IndexModel.Columns: _*)
    val recs = Seq(("blobS", 1L, "pay-s"), ("blobP", 1L, "pay-p"))
      .toDF("location_key", "location_position", "payload")
    def apiWith(singletons: Boolean) = ApiFacade(
      Map("meta" -> QueryService(idxS)), now = () => fixedNow,
      resubmitters = Map("meta" ->
        Resubmitter(QueryService(idxS), recs, singletons = singletons)),
      envTopic = Some("t"))
    val withSc = apiWith(singletons = true)
      .resubmitIds(ResubmitIdsRequest("meta", Some(Seq("id_x1", "id_x2"))))
    assert(withSc.status === 200 && withSc.data.get.count() === 2)
    val without = apiWith(singletons = false)
      .resubmitIds(ResubmitIdsRequest("meta", Some(Seq("id_x1", "id_x2"))))
    assert(without.status === 206 && without.data.get.count() === 1)
  }

  test("exact and resubmit bodies equal their plans rendered directly, in row order") {
    // the facade serves the rows it fetched once; the body must be the
    // one the lookup / publish plan renders to on its own
    val direct = QueryService(index)
    for (id <- Seq("id_007", "id_030")) {
      val r = rApi.getUnique(GetUniqueRequest("meta", id))
      assert(r.status === 200)
      assert(ApiServer.render(r.message, r.data)
        === ApiServer.render(OkMessage, Some(direct.get(id, UniqueAttrs))))
    }
    val rs = Resubmitter(QueryService(index), records)
    // 200 clean, 206 partial (the id_007 hole), 400 nothing published
    for ((ids, status) <- Seq(
        Seq("id_001", "id_002", "id_013", "id_024") -> 200,
        Seq("id_007", "id_008") -> 206,
        Seq("id_007") -> 400)) {
      val r = rApi.resubmitIds(ResubmitIdsRequest("meta", Some(ids)))
      assert(r.status === status, ids)
      assert(ApiServer.render(r.message, r.data)
        === ApiServer.render(r.message, Some(rs.byIds(ids).publish)), ids)
    }
    // the interval and query modes share the same run
    val b1 = rApi.resubmitInterval(ResubmitIntervalRequest("meta", Some("b1")))
    assert(b1.status === 206)
    assert(ApiServer.render(b1.message, b1.data) === ApiServer.render(b1.message,
      Some(rs.byInterval(new Timestamp(0L), fixedNow, "b1", () => fixedNow).publish)))
    val filters = Seq(Map[String, FilterValue]("broker_id" -> Eq("b2")))
    val q = rApi.resubmitQuery(ResubmitQueryRequest("meta", Some(filters)))
    assert(q.status === 200)
    assert(ApiServer.render(q.message, q.data)
      === ApiServer.render(q.message, Some(rs.byQuery(filters).publish)))
  }

  test("resubmit query: whitelist failures 400; a clean empty drain is still 200") {
    val hit = rApi.resubmitQuery(ResubmitQueryRequest("meta",
      Some(Seq(Map("broker_id" -> Eq("b2"))))))
    assert(hit.status === 200)
    assert(hit.data.get.count() === index.filter($"broker_id" === "b2").count())
    assert(rApi.resubmitQuery(ResubmitQueryRequest("meta",
      Some(Seq(Map("no_such_attr" -> Eq("x")))))).status === 400)
    assert(rApi.resubmitQuery(ResubmitQueryRequest("meta", None)).status === 400)
    // zero matches, zero errors → 200 (chooseHTTPStatusCode's no-error arm)
    val empty = rApi.resubmitQuery(ResubmitQueryRequest("meta",
      Some(Seq(Map("broker_id" -> Eq("zzz"))))))
    assert(empty.status === 200 && empty.data.get.isEmpty)
  }
}
