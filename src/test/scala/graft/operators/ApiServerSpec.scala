package graft.operators

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import graft.SparkSpec

/** End-to-end exercise of the REAL socket path: [[ApiServer]] bound on an
  * ephemeral localhost port, driven with the JDK HTTP client, asserting
  * the same status matrix ApiFacadeSpec pins at the facade layer — the
  * round-trip proof that the HTTP listener (the last unreproduced
  * reference surface, indexer-api/lib/server.go:111-163 +
  * resubmitter-api/lib/resubmitter/server.go:176-194) serves the
  * contract over a wire, not just in-process.
  */
class ApiServerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val fixedNow = ts("2024-02-01 00:00:00")

  // the ApiFacadeSpec fixture: 30 rows across 3 brokers, record store with
  // a hole at i=7 so id_007 resubmissions go partial
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
  private lazy val records =
    (1 to 30).filter(_ != 7)
      .map(i => (s"blob-${i / 10}", (i % 10 + 1).toLong, s"payload-$i"))
      .toDF("location_key", "location_position", "payload")

  private lazy val facade = ApiFacade(
    Map("meta" -> QueryService(index)),
    now = () => fixedNow,
    resubmitters = Map("meta" -> Resubmitter(QueryService(index), records)),
    envTopic = Some("env-topic"))

  private val client = HttpClient.newHttpClient()

  private def get(base: String, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(base: String, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def dataRows(body: String): Int = {
    val n = ApiServer.Json.readTree(body).get("data")
    if (n == null) -1 else n.size()
  }

  private def withServer(role: ApiServer.Role)(f: String => Unit): Unit = {
    val srv = new ApiServer(facade, role)
    srv.start()
    try f(s"http://127.0.0.1:${srv.boundPort}")
    finally srv.stop(0)
  }

  test("indexer routes serve the facade's status matrix over a real socket") {
    withServer(ApiServer.Indexer) { base =>
      // GET /exact: hit, miss, bad collection
      val hit = get(base, "/exact/meta/id_007")
      assert(hit.statusCode() == 200)
      assert(hit.body().contains("\"unique_id\":\"id_007\""))
      assert(get(base, "/exact/meta/id_999").statusCode() == 400)
      assert(get(base, "/exact/nope/id_007").statusCode() == 400)

      // POST /all: bound ids, malformed body 400, unknown collection 500
      val all = post(base, "/all/meta", """{"ids":["id_001","id_010"]}""")
      assert(all.statusCode() == 200 && dataRows(all.body()) == 2)
      assert(post(base, "/all/meta", """{"ids":"id_001"}""").statusCode() == 400)
      assert(post(base, "/all/meta", """not json at all""").statusCode() == 400)
      assert(post(base, "/all/nope", """{"ids":["id_001"]}""").statusCode() == 500)

      // GET /range: defaults, pagination, Atoi fallback, malformed bounds
      val full = get(base, "/range/meta/b1")
      assert(full.statusCode() == 200 && dataRows(full.body()) == 10)
      val page = get(base, "/range/meta/b1?limit=4&offset=4")
      assert(dataRows(page.body()) == 4)
      val fallback = get(base, "/range/meta/b1?limit=abc&offset=-3")
      assert(fallback.statusCode() == 200 && dataRows(fallback.body()) == 10)
      val narrowed =
        get(base, "/range/meta/b1?from=2024-01-05T00:00:00Z&to=2024-01-10T00:00:00Z")
      assert(narrowed.statusCode() == 200)
      assert(get(base, "/range/meta/b1?from=01%2F05%2F2024").statusCode() == 400)
      assert(get(base, "/range/meta/b1?to=2999-01-01T00:00:00Z").statusCode() == 400)
      assert(get(base, "/range/nope/b1").statusCode() == 500)

      // POST /query: the Mongo wire shape, whitelist 400s, default limit 20
      val q = post(base, "/query/meta",
        """{"filters":[{"broker_id":"b1","meta_k":{"$gte":"50"}}]}""")
      assert(q.statusCode() == 200)
      val wide = post(base, "/query/meta",
        """{"filters":[{"broker_id":{"$ne":"zzz"}}]}""")
      assert(dataRows(wide.body()) == 20)
      assert(post(base, "/query/meta",
        """{"filters":[{"no_such_attr":"x"}]}""").statusCode() == 400)
      assert(post(base, "/query/meta",
        """{"filters":[{"publish_time":{"$gte":"not-a-time"}}]}""").statusCode() == 400)
      assert(post(base, "/query/meta", """{"nope":1}""").statusCode() == 400)
      // multi-operator objects and non-$ operators are bind failures
      assert(post(base, "/query/meta",
        """{"filters":[{"meta_k":{"$gte":"1","$lte":"2"}}]}""").statusCode() == 400)

      // unknown route
      assert(get(base, "/nope/meta/x").statusCode() == 404)
      // resubmitter routes are NOT served by the indexer process
      assert(post(base, "/resubmit/meta", """{"ids":["id_001"]}""").statusCode() == 404)
    }
  }

  test("resubmitter routes run the composed pipeline and report 200/206/400") {
    withServer(ApiServer.Resubmitter) { base =>
      // clean resubmit by ids → 200 with the publish plan
      val clean = post(base, "/resubmit/meta", """{"ids":["id_001","id_002"]}""")
      assert(clean.statusCode() == 200 && dataRows(clean.body()) == 2)
      assert(clean.body().contains("resubmission successful"))
      // the record hole at id_007 → 206 partial
      val partial = post(base, "/resubmit/meta", """{"ids":["id_007","id_008"]}""")
      assert(partial.statusCode() == 206 && dataRows(partial.body()) == 1)
      // unbindable body / unknown collection → 400
      assert(post(base, "/resubmit/meta", """{}""").statusCode() == 400)
      assert(post(base, "/resubmit/nope", """{"ids":["id_001"]}""").statusCode() == 400)
      // topic routing: explicit param over env; empty falls back to env
      assert(post(base, "/resubmit/meta?topic=t2",
        """{"ids":["id_001"]}""").statusCode() == 200)
      assert(post(base, "/resubmit/meta?topic=",
        """{"ids":["id_001"]}""").statusCode() == 200)

      // interval mode: required broker_id, defaulted bounds
      val b2 = post(base, "/range/meta", """{"broker_id":"b2"}""")
      assert(b2.statusCode() == 200 && dataRows(b2.body()) == 10)
      val b1 = post(base, "/range/meta", """{"broker_id":"b1"}""")
      assert(b1.statusCode() == 206) // the i=7 hole lives in b1
      assert(post(base, "/range/meta", """{}""").statusCode() == 400)
      assert(post(base, "/range/meta",
        """{"broker_id":"b1","lb":"01/05/2024"}""").statusCode() == 400)

      // query mode: whitelist 400, clean empty drain 200
      val q = post(base, "/query/meta", """{"filters":[{"broker_id":"b2"}]}""")
      assert(q.statusCode() == 200 && dataRows(q.body()) == 10)
      assert(post(base, "/query/meta",
        """{"filters":[{"no_such_attr":"x"}]}""").statusCode() == 400)
      val empty = post(base, "/query/meta", """{"filters":[{"broker_id":"zzz"}]}""")
      assert(empty.statusCode() == 200 && dataRows(empty.body()) == 0)

      // indexer-only routes are absent in this role
      assert(get(base, "/exact/meta/id_001").statusCode() == 404)
    }
  }

  test("/metrics scrapes the six Prometheus families over a real socket") {
    // injectable clock, exactly the MetricsSpec pattern, so window expiry
    // is drivable without sleeping
    var now = 0L
    val reg = new MetricsRegistry("persistor", clock = () => now)
    reg.updateSuccess(messages = 3, bytes = 1024, Seq(10.0, 20.0, 30.0))
    reg.updateFailure(messages = 1, bytes = 64, Seq(5.0))

    def samples(body: String): Map[String, Double] =
      body.linesIterator.filterNot(_.startsWith("#")).map { line =>
        val i = line.lastIndexOf(' ')
        line.substring(0, i) -> line.substring(i + 1).toDouble
      }.toMap

    val srv = new ApiServer(facade, ApiServer.Indexer, metrics = Some(reg))
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val r = get(base, "/metrics")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/plain"))
      val body = r.body()
      // all six families carry HELP + TYPE headers
      for (fam <- Seq(
          ("persistor_processed_messages_total", "counter"),
          ("persistor_processed_bytes_total", "counter"),
          ("persistor_processing_times_milliseconds", "summary"),
          ("persistor_failed_messages_total", "counter"),
          ("persistor_failed_processed_bytes_total", "counter"),
          ("persistor_failed_processing_times_milliseconds", "summary"))) {
        assert(body.contains(s"# HELP ${fam._1} "), fam._1)
        assert(body.contains(s"# TYPE ${fam._1} ${fam._2}"), fam._1)
      }
      val m = samples(body)
      assert(m("persistor_processed_messages_total") == 3.0)
      assert(m("persistor_processed_bytes_total") == 1024.0)
      // exact order statistics over [10,20,30]: rank ⌈φn⌉ → 20, 30, 30
      assert(m("""persistor_processing_times_milliseconds{quantile="0.5"}""") == 20.0)
      assert(m("""persistor_processing_times_milliseconds{quantile="0.9"}""") == 30.0)
      assert(m("""persistor_processing_times_milliseconds{quantile="0.99"}""") == 30.0)
      assert(m("persistor_processing_times_milliseconds_sum") == 60.0)
      assert(m("persistor_processing_times_milliseconds_count") == 3.0)
      assert(m("persistor_failed_messages_total") == 1.0)
      assert(m("persistor_failed_processed_bytes_total") == 64.0)
      assert(m("""persistor_failed_processing_times_milliseconds{quantile="0.5"}""") == 5.0)
      assert(m("persistor_failed_processing_times_milliseconds_count") == 1.0)

      // past MaxAge the window drains: quantiles render NaN (client_golang
      // summary behavior) while the cumulative samples hold
      now = 300001L
      val m2 = samples(get(base, "/metrics").body())
      assert(m2("""persistor_processing_times_milliseconds{quantile="0.9"}""").isNaN)
      assert(m2("""persistor_failed_processing_times_milliseconds{quantile="0.99"}""").isNaN)
      assert(m2("persistor_processing_times_milliseconds_sum") == 60.0)
      assert(m2("persistor_processing_times_milliseconds_count") == 3.0)
      assert(m2("persistor_processed_messages_total") == 3.0)

      // the scrape route never shadows the JSON API
      assert(get(base, "/exact/meta/id_007").statusCode() == 200)
    } finally srv.stop(0)

    // without a wired registry the route 404s, like an unwired deployment
    withServer(ApiServer.Indexer) { base =>
      assert(get(base, "/metrics").statusCode() == 404)
    }
  }

  test("stored-index retrieval routes serve BM25 and ANN over a real socket") {
    import org.apache.spark.sql.functions.col
    // BM25 store over a tiny corpus; ANN store over the driver embeddings
    val docs = Seq(
      (1L, "vector stream window vector"),
      (2L, "stream stream batch"),
      (3L, "window sort dup"),
      (4L, "unrelated words only")).toDF("doc_id", "text")
    val wd = java.nio.file.Files.createTempDirectory("retrsrv").toString
    TextAnalysis.saveBm25Index(spark, s"$wd/bm25", docs)
    val (postings, doclen) = TextAnalysis.loadBm25Index(spark, s"$wd/bm25")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 1, salt = "srv")
    Similarity.saveIvfAssigned(spark, s"$wd/ann",
      Similarity.assignIvfCells(emb, cents), cents)
    val assigned = Similarity.loadIvfAssigned(spark, s"$wd/ann", cents)
    val retrieval = RetrievalService(
      bm25 = Map("docs" -> ((postings, doclen))),
      // a tiny probe cap so the oversized-probe case actually trips it
      ann = Map("vecs" -> RetrievalService.AnnStore(assigned, cents,
        maxBroadcastProbes = 4)))
    val srv = new ApiServer(facade, ApiServer.Indexer, metrics = None,
      retrieval = Some(retrieval))
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // BM25 serve: ranked hits — docs 1 and 2 carry query terms, 3/4 not
      val ok = post(base, "/search/docs", """{"terms":["vector","stream"],"k":10}""")
      assert(ok.statusCode() == 200)
      assert(dataRows(ok.body()) == 2)
      assert(!ok.body().contains("\"doc_id\":3"))
      assert(!ok.body().contains("\"doc_id\":4"))
      // unbuilt store → 404; bad bodies → 400
      assert(post(base, "/search/nope", """{"terms":["x"]}""").statusCode() == 404)
      assert(post(base, "/search/docs", """{}""").statusCode() == 400)
      assert(post(base, "/search/docs", """{"terms":[]}""").statusCode() == 400)
      assert(post(base, "/search/docs",
        """{"terms":["x"],"k":"ten"}""").statusCode() == 400)
      assert(post(base, "/search/docs", """{"terms":["x"],"k":0}""").statusCode() == 400)
      // ANN serve: small probe (broadcast path)
      val annOk = post(base, "/ann/vecs", """{"query_ids":[0],"k":3,"nprobe":2}""")
      assert(annOk.statusCode() == 200)
      assert(dataRows(annOk.body()) == 3)
      // oversized probe set: the serve falls back to the sweep join and
      // stays result-identical to the in-line serve of the same probes
      val manyIds = (0L until 40L).map(_ * 5)
      val big = post(base, "/ann/vecs",
        s"""{"query_ids":[${manyIds.mkString(",")}],"k":3,"nprobe":2}""")
      assert(big.statusCode() == 200)
      val expect = Similarity.ivfTopKWithCentroids(
        emb, col("vec_id").isin(manyIds: _*), 3, cents, nprobe = 2).count()
      assert(dataRows(big.body()).toLong == expect)
      // ANN bind failures: 404 / missing ids / bad nprobe
      assert(post(base, "/ann/nope", """{"query_ids":[1]}""").statusCode() == 404)
      assert(post(base, "/ann/vecs", """{}""").statusCode() == 400)
      assert(post(base, "/ann/vecs",
        """{"query_ids":[1],"nprobe":99}""").statusCode() == 400)
      assert(post(base, "/ann/vecs",
        """{"query_ids":["a"]}""").statusCode() == 400)
      // the retrieval routes never shadow the reference surface
      assert(get(base, "/exact/meta/id_007").statusCode() == 200)
    } finally srv.stop(0)
    // unwired instances 404 the retrieval routes, like /metrics
    withServer(ApiServer.Indexer) { base =>
      assert(post(base, "/search/docs", """{"terms":["x"]}""").statusCode() == 404)
      assert(post(base, "/ann/vecs", """{"query_ids":[1]}""").statusCode() == 404)
    }
  }

  test("retrieval memo: identical requests hit, field order canonicalizes, concurrent misses single-flight") {
    val docs = Seq(
      (1L, "vector stream window vector"),
      (2L, "stream stream batch"),
      (3L, "window sort dup")).toDF("doc_id", "text")
    val wd = java.nio.file.Files.createTempDirectory("retrmemo").toString
    TextAnalysis.saveBm25Index(spark, s"$wd/bm25", docs)
    val (postings, doclen) = TextAnalysis.loadBm25Index(spark, s"$wd/bm25")
    val memo = new TwoQCache[(Int, String)](32)
    val srv = new ApiServer(facade, ApiServer.Indexer,
      retrieval = Some(RetrievalService(bm25 = Map("docs" -> ((postings, doclen))))),
      retrievalMemo = Some(memo))
    srv.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val req = """{"terms":["vector","stream"],"k":10}"""
      val b1 = post(base, "/search/docs", req)
      assert(b1.statusCode() == 200)
      assert(memo.missCount == 1 && memo.hitCount == 0)
      // an identical request serves the memoized rendered body
      val b2 = post(base, "/search/docs", req)
      assert(b2.statusCode() == 200 && b2.body() === b1.body())
      assert(memo.missCount == 1 && memo.hitCount == 1)
      // field ORDER canonicalizes to the same key…
      val b3 = post(base, "/search/docs",
        """{"k":10,"terms":["vector","stream"]}""")
      assert(b3.body() === b1.body())
      assert(memo.missCount == 1 && memo.hitCount == 2)
      // …but ELEMENT order inside arrays is semantic — its own entry
      post(base, "/search/docs", """{"terms":["stream","vector"],"k":10}""")
      assert(memo.missCount == 2)
      // deterministic bind failures memoize too (same wiring, same 400)
      assert(post(base, "/search/docs",
        """{"terms":[],"k":10}""").statusCode() == 400)
      assert(post(base, "/search/docs",
        """{"terms":[],"k":10}""").statusCode() == 400)
      assert(memo.missCount == 3)
      // concurrent identical misses on a FRESH key compute once
      // (single-flight): all callers get the same body, one miss
      val missesBefore = memo.missCount
      val tasks = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            post(base, "/search/docs", """{"terms":["window"],"k":5}""").body()
        })
      }
      val bodies = tasks.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(bodies.toSet.size === 1)
      assert(memo.missCount === missesBefore + 1)
    } finally {
      pool.shutdown()
      srv.stop(0)
    }
  }

  // BM25, positional, IVF and PQ stores over the sf0.001 corpus, saved
  // and reloaded — the retrieval fixture the full-route specs share
  private lazy val stores = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val wd = java.nio.file.Files.createTempDirectory("retrsrv2").toString
    TextAnalysis.saveBm25Index(spark, s"$wd/bm25", docs)
    TextAnalysis.saveBm25Positional(spark, s"$wd/pos", docs)
    val (postings, doclen) = TextAnalysis.loadBm25Index(spark, s"$wd/bm25")
    val (postPos, doclenP) = TextAnalysis.loadBm25Positional(spark, s"$wd/pos")
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 1, salt = "srv2")
    Similarity.saveIvfAssigned(spark, s"$wd/ann",
      Similarity.assignIvfCells(emb, cents), cents)
    val assigned = Similarity.loadIvfAssigned(spark, s"$wd/ann", cents)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 1, salt = "srv2")
    Similarity.savePqCodes(spark, s"$wd/pq",
      Similarity.encodePqCodes(emb, books, cellBits = 4), books, cellBits = 4)
    val (pqCodes, pqCb) = Similarity.loadPqCodes(spark, s"$wd/pq", books)
    Stores(emb, postings, doclen, postPos, doclenP, cents, assigned, books, pqCodes, pqCb)
  }

  private case class Stores(
      emb: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame,
      doclen: org.apache.spark.sql.DataFrame,
      postPos: org.apache.spark.sql.DataFrame,
      doclenP: org.apache.spark.sql.DataFrame,
      cents: Array[Array[Double]],
      assigned: org.apache.spark.sql.DataFrame,
      books: Array[Array[Array[Double]]],
      pqCodes: org.apache.spark.sql.DataFrame,
      pqCb: Int) {
    def retrieval: RetrievalService = RetrievalService(
      bm25 = Map("docs" -> ((postings, doclen)), "lexonly" -> ((postings, doclen))),
      ann = Map("docs" -> RetrievalService.AnnStore(assigned, cents),
        "capped" -> RetrievalService.AnnStore(assigned, cents, maxQueryIds = 2)),
      phrase = Map("docs" -> ((postPos, doclenP))),
      pq = Map("docs" -> RetrievalService.PqStore(pqCodes, emb, books, pqCb)))
  }

  test("vector, phrase, batch-search, and hybrid retrieval routes over a real socket") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val Stores(emb, postings, doclen, postPos, doclenP, cents, assigned, books,
      pqCodes, pqCb) = stores
    val srv = new ApiServer(facade, ApiServer.Indexer, retrieval = Some(stores.retrieval))
    srv.start()
    def dataNodes(body: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val d = ApiServer.Json.readTree(body).get("data")
      (0 until d.size()).map(d.get)
    }
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"

      // --- caller-supplied vectors: result-identical to the id route for
      // corpus vectors sent by value (float32 round-trips through JSON)
      val v0 = emb.filter(col("vec_id") === 0L)
        .select("embedding").as[Array[Float]].head()
      // k=4 by vector vs k=3 by id: the external-query contract retrieves
      // the stored twin of the query at rank 1, cosine 1, then the same
      // neighbors the corpus-resident serve ranks — so (top-4 minus self)
      // must equal the id route's top-3
      val vecBody =
        s"""{"vectors":[[${v0.map(_.toDouble).mkString(",")}]],"k":4,"nprobe":2}"""
      val byVec = post(base, "/ann/docs", vecBody)
      assert(byVec.statusCode() == 200)
      val byId = post(base, "/ann/docs", """{"query_ids":[0],"k":3,"nprobe":2}""")
      def neighbors(r: java.net.http.HttpResponse[String]) = dataNodes(r.body())
        .map(n => (n.get("rank").asLong(), n.get("neighbor_id").asLong()))
      val viaVec = neighbors(byVec)
      assert(viaVec.head === ((1L, 0L)), "the stored twin leads at rank 1")
      assert(viaVec.map(_._2).drop(1).toSet === neighbors(byId).map(_._2).toSet)
      assert(viaVec.size === 4)
      // bind failures: wrong dimension, empty batch, non-numeric, over cap
      assert(post(base, "/ann/docs",
        """{"vectors":[[1.0,2.0]],"k":3}""").statusCode() == 400)
      assert(post(base, "/ann/docs", """{"vectors":[]}""").statusCode() == 400)
      assert(post(base, "/ann/docs",
        """{"vectors":[["x"]]}""").statusCode() == 400)
      val three = Seq(v0, v0, v0)
        .map(v => s"[${v.map(_.toDouble).mkString(",")}]").mkString(",")
      assert(post(base, "/ann/capped",
        s"""{"vectors":[$three],"k":3,"nprobe":1}""").statusCode() == 400)
      assert(post(base, "/ann/nope", vecBody).statusCode() == 404)

      // --- phrase route: matches the direct positional serve
      val ph = post(base, "/phrase/docs",
        """{"phrase":["stream","window"],"k":5}""")
      assert(ph.statusCode() == 200)
      val expectPh = TextAnalysis.phraseTopKFromIndex(
        postPos, doclenP, Seq("stream", "window"), 5)
        .select("doc_id").as[Long].collect().toSeq
      assert(dataNodes(ph.body()).map(_.get("doc_id").asLong()) === expectPh)
      assert(expectPh.nonEmpty)
      // one-term "phrase" and unbuilt positional store bind/route-fail
      assert(post(base, "/phrase/docs",
        """{"phrase":["stream"],"k":5}""").statusCode() == 400)
      assert(post(base, "/phrase/lexonly",
        """{"phrase":["stream","window"]}""").statusCode() == 404)

      // --- batch mode on /search: per-query pages from one store scan
      val batch = post(base, "/search/docs",
        """{"queries":[{"query_id":1,"terms":["vector","stream"]},
          |{"query_id":2,"terms":["window"]}],"k":4}""".stripMargin)
      assert(batch.statusCode() == 200)
      val got = dataNodes(batch.body())
        .map(n => (n.get("query_id").asLong(), n.get("rnk").asLong(),
          n.get("doc_id").asLong())).toSet
      val expectBatch = TextAnalysis.bm25PerQueryFromIndex(
        postings, doclen,
        Seq((1L, Seq("vector", "stream")), (2L, Seq("window")))
          .toDF("query_id", "terms"), 4)
        .select("query_id", "rnk", "doc_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === expectBatch)
      assert(got.nonEmpty)
      // a query with no terms, or a malformed suite entry, bind-fails
      assert(post(base, "/search/docs",
        """{"queries":[{"query_id":1,"terms":[]}]}""").statusCode() == 400)
      assert(post(base, "/search/docs",
        """{"queries":[{"terms":["x"]}]}""").statusCode() == 400)
      assert(post(base, "/search/docs", """{"queries":[]}""").statusCode() == 400)

      // --- PQ route: stored-codes ADC + exact re-rank, both id and
      // vector modes, matching the engine-side serves
      val pqId = post(base, "/pq/docs",
        """{"query_ids":[0],"k":3,"rerank":16}""")
      assert(pqId.statusCode() == 200)
      val gotPq = dataNodes(pqId.body())
        .map(n => (n.get("rank").asLong(), n.get("neighbor_id").asLong())).toSet
      val expectPq = Similarity.pqTopKWithCodes(
        pqCodes, emb, col("vec_id") === 0L, 3, books,
        cellBits = pqCb, rerank = 16)
        .select("rank", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(gotPq === expectPq)
      assert(gotPq.nonEmpty)
      val pqVec = post(base, "/pq/docs",
        s"""{"vectors":[[${v0.map(_.toDouble).mkString(",")}]],"k":4,"rerank":16}""")
      assert(pqVec.statusCode() == 200)
      val viaPqVec = dataNodes(pqVec.body())
        .map(n => (n.get("rank").asLong(), n.get("neighbor_id").asLong()))
      assert(viaPqVec.head === ((1L, 0L)), "the stored twin leads at rank 1")
      assert(viaPqVec.map(_._2).drop(1).toSet === gotPq.map(_._2))
      // rerank < k, wrong dim, and unbuilt store fail the bind matrix
      assert(post(base, "/pq/docs",
        """{"query_ids":[0],"k":5,"rerank":3}""").statusCode() == 400)
      assert(post(base, "/pq/docs",
        """{"vectors":[[1.0,2.0]],"k":2,"rerank":4}""").statusCode() == 400)
      assert(post(base, "/pq/lexonly",
        """{"query_ids":[0]}""").statusCode() == 404)

      // --- hybrid route: fused order replays the engine-side composition
      val terms = Seq("vector", "stream", "window")
      val hy = post(base, "/hybrid/docs",
        s"""{"terms":[${terms.map(t => s""""$t"""").mkString(",")}],
           |"query_id":0,"k":10,"nprobe":2}""".stripMargin)
      assert(hy.statusCode() == 200)
      val gotFused = dataNodes(hy.body())
        .map(n => (n.get("doc_id").asLong(), n.get("fused_rank").asLong())).toMap
      val lex = TextAnalysis.bm25TopKFromIndex(postings, doclen, terms, 10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "rank")
      val sem = Similarity.ivfTopKAssigned(
        assigned, col("vec_id") === 0L, 10, cents, nprobe = 2)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      val expectFused = Similarity.rrfFuse(lex, sem, "doc_id", kRrf = 60, topK = 10)
        .select("doc_id", "fused_rank").as[(Long, Long)].collect().toMap
      assert(gotFused === expectFused)
      assert(gotFused.nonEmpty)
      // vector mode: the caller-supplied query vector fuses through the
      // same composition, with the ANN half self-exclusion OFF — the
      // stored twin of vec 0 joins the semantic list at rank 1
      val hyVec = post(base, "/hybrid/docs",
        s"""{"terms":[${terms.map(t => s""""$t"""").mkString(",")}],
           |"vector":[${v0.map(_.toDouble).mkString(",")}],
           |"k":10,"nprobe":2}""".stripMargin)
      assert(hyVec.statusCode() == 200)
      val gotFusedVec = dataNodes(hyVec.body())
        .map(n => (n.get("doc_id").asLong(), n.get("fused_rank").asLong())).toMap
      val semVec = Similarity.ivfTopKAssignedWith(assigned,
        Seq((0L, v0)).toDF("query_id", "embedding"), 10, cents, nprobe = 2,
        excludeSelf = false)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      val expectFusedVec = Similarity.rrfFuse(lex, semVec, "doc_id",
        kRrf = 60, topK = 10)
        .select("doc_id", "fused_rank").as[(Long, Long)].collect().toMap
      assert(gotFusedVec === expectFusedVec)
      assert(gotFusedVec.nonEmpty)
      // missing half of the store pair is a routing miss; bad binds 400
      assert(post(base, "/hybrid/lexonly",
        """{"terms":["x"],"query_id":0}""").statusCode() == 404)
      assert(post(base, "/hybrid/docs",
        """{"terms":["x"]}""").statusCode() == 400)
      assert(post(base, "/hybrid/docs",
        """{"terms":[],"query_id":0}""").statusCode() == 400)
      assert(post(base, "/hybrid/docs",
        """{"terms":["x"],"query_id":0,"nprobe":99}""").statusCode() == 400)
      // both or neither of query_id/vector, and a wrong-dim vector, 400
      assert(post(base, "/hybrid/docs",
        """{"terms":["x"],"query_id":0,"vector":[1.0]}""").statusCode() == 400)
      assert(post(base, "/hybrid/docs",
        """{"terms":["x"],"vector":[1.0,2.0]}""").statusCode() == 400)
      // present-but-mistyped query_id must NOT silently fall back to the
      // valid vector mode — a malformed field is a bind failure
      assert(post(base, "/hybrid/docs",
        s"""{"terms":["x"],"query_id":"abc",
           |"vector":[${v0.map(_.toDouble).mkString(",")}]}""".stripMargin)
        .statusCode() == 400)
      // in-range-but-huge k is a bind failure on every route: the
      // response is one bounded collect, so k itself must be bounded
      assert(post(base, "/search/docs",
        """{"terms":["x"],"k":100000}""").statusCode() == 400)
      assert(post(base, "/ann/docs",
        """{"query_ids":[0],"k":100000,"nprobe":1}""").statusCode() == 400)
      assert(post(base, "/pq/docs",
        """{"query_ids":[0],"k":5,"rerank":100000}""").statusCode() == 400)
      assert(post(base, "/phrase/docs",
        """{"phrase":["stream","window"],"k":100000}""").statusCode() == 400)
      assert(post(base, "/hybrid/docs",
        """{"terms":["x"],"query_id":0,"k":100000}""").statusCode() == 400)
    } finally srv.stop(0)
  }

  test("each serve route runs at most its measured number of Spark jobs") {
    // one request per route, counted after a warm-up request of the same
    // route (first-use work — the lazily folded corpus stats, codegen —
    // stays out of the count). The ceilings are the counts measured on
    // these fixtures once every request ran each of its subplans once: an
    // eager count, a distinct-collect of the probed cells, a stats frame
    // joined per request, or a second run of the exact / resubmit plan
    // pushes a route past its ceiling.
    val ceilings = Map("exact" -> 1, "all" -> 1, "range" -> 1, "query" -> 1,
      "search" -> 4, "phrase" -> 8, "ann" -> 4, "pq" -> 5, "hybrid" -> 9,
      "resubmit" -> 6)
    // the index and records as the store scans a deployment serves (a
    // local fixture frame would answer lookups without any job at all)
    val wd = java.nio.file.Files.createTempDirectory("servejobs").toString
    index.write.parquet(s"$wd/index")
    records.write.parquet(s"$wd/records")
    val stored = QueryService(spark.read.parquet(s"$wd/index"))
    val scanned = ApiFacade(Map("meta" -> stored), now = () => fixedNow,
      resubmitters = Map("meta" -> Resubmitter(stored, spark.read.parquet(s"$wd/records"))))
    val indexer = new ApiServer(scanned, ApiServer.Indexer, retrieval = Some(stores.retrieval))
    val resubmitter = new ApiServer(scanned, ApiServer.Resubmitter)
    Seq(indexer, resubmitter).foreach(_.start())
    val ix = s"http://127.0.0.1:${indexer.boundPort}"
    val rs = s"http://127.0.0.1:${resubmitter.boundPort}"
    val requests: Seq[(String, () => HttpResponse[String])] = Seq(
      "exact" -> (() => get(ix, "/exact/meta/id_007")),
      "all" -> (() => post(ix, "/all/meta", """{"ids":["id_001","id_010"]}""")),
      "range" -> (() => get(ix, "/range/meta/b1?limit=4")),
      "query" -> (() => post(ix, "/query/meta",
        """{"filters":[{"broker_id":"b1","meta_k":{"$gte":"50"}}]}""")),
      "search" -> (() => post(ix, "/search/docs", """{"terms":["vector","stream"],"k":10}""")),
      "phrase" -> (() => post(ix, "/phrase/docs", """{"phrase":["stream","window"],"k":5}""")),
      "ann" -> (() => post(ix, "/ann/docs", """{"query_ids":[0],"k":3,"nprobe":2}""")),
      "pq" -> (() => post(ix, "/pq/docs", """{"query_ids":[0],"k":3,"rerank":16}""")),
      "hybrid" -> (() => post(ix, "/hybrid/docs",
        """{"terms":["vector","stream"],"query_id":0,"k":10,"nprobe":2}""")),
      "resubmit" -> (() => post(rs, "/resubmit/meta?topic=t", """{"ids":["id_001","id_002"]}""")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val counts = requests.map { case (route, send) =>
        assert(send().statusCode() == 200, route)
        org.apache.spark.graft.ListenerBridge.drain(sc)
        jobs.set(0)
        val r = send()
        org.apache.spark.graft.ListenerBridge.drain(sc)
        assert(r.statusCode() == 200, route)
        assert(dataRows(r.body()) > 0, route)
        route -> jobs.get()
      }
      info(counts.map { case (r, n) => s"$r=$n" }.mkString(" "))
      counts.foreach { case (route, n) =>
        assert(n <= ceilings(route), s"/$route ran $n Spark jobs, ceiling ${ceilings(route)}")
      }
    } finally {
      sc.removeSparkListener(listener)
      Seq(indexer, resubmitter).foreach(_.stop(0))
    }
  }

  test("stop ends the worker pool: no worker thread outlives the server") {
    import scala.jdk.CollectionConverters._
    val srv = new ApiServer(facade, ApiServer.Indexer)
    srv.start()
    val prefix = s"${ApiServer.WorkerPrefix}${srv.boundPort}-"
    def workers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(prefix) && t.isAlive)
    // concurrent requests, so the pool has spun up several threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = get(base, "/range/meta/b1").statusCode()
      })).foreach(f => assert(f.get(60, java.util.concurrent.TimeUnit.SECONDS) == 200))
    } finally pool.shutdown()
    assert(workers.nonEmpty, "the requests ran on the server's named workers")
    srv.stop(0)
    assert(workers.isEmpty, s"worker threads left after stop: ${workers.map(_.getName)}")
  }

  test("a handler crash surfaces as a well-formed 500, not a hung socket") {
    // a facade whose collection frame is broken (missing columns) → the
    // eager /exact path throws inside the handler
    val broken = ApiFacade(
      Map("meta" -> QueryService(Seq(("x", 1)).toDF("a", "b"))),
      now = () => fixedNow)
    val srv = new ApiServer(broken, ApiServer.Indexer)
    srv.start()
    try {
      val r = get(s"http://127.0.0.1:${srv.boundPort}", "/exact/meta/id_001")
      assert(r.statusCode() == 500)
      assert(r.body().contains(ApiFacade.OnFailureMessage))
    } finally srv.stop(0)
  }
}
