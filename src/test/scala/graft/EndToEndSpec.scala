package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators._
import graft.operators.ApiFacade._

/** The complete reference user journey, chained through real artifacts:
  * persist the events (Avro records + index store), query the index
  * through the HTTP-parity facade, replay the returned slice against the
  * written blobs (positional join), repackage and publish in ordering-key
  * order, and read the topic back — every hop consumes the previous hop's
  * actual output, nothing is mocked. A user of the reference switching to
  * this library runs exactly this composition.
  */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def ts(s: String) = Timestamp.valueOf(s)

  test("persist → index → facade range query → replay → ordered publish → read-back") {
    val wd = streaming.PersistPipeline.ensureRun(spark, dir)
    val index = store.IndexStore.materialized(spark, dir)

    // 1. facade range query (GET /range/:coll/t-click) over the real store
    val api = ApiFacade(Map("index" -> QueryService(index)))
    val resp = api.getRange(GetRangeRequest("index", "t-click",
      from = Some("2024-01-01T00:00:00Z"), to = Some("2024-02-01T00:00:00Z"),
      limit = Some("100000")))
    assert(resp.status === 200)
    val slice = resp.data.get
    val nSlice = slice.count()
    assert(nSlice > 0)

    // 2. replay: fetch jobs manifest + positional join against the Avro
    // blobs the pipeline actually wrote
    val jobs = Replay.fetchJobs(slice)
    assert(jobs.count() > 0 && jobs.agg(sum("n_records")).head().getLong(0) === nSlice)
    val records = streaming.PersistPipeline.readRecords(spark, wd)
    val joined = Replay.positionalJoin(records, slice, broadcastIndex = true)
    assert(joined.count() === nSlice) // every queried row finds its record

    // 3. repackage + ordered publish to a file topic, then read it back
    val topicDir = java.nio.file.Files.createTempDirectory("graft-e2e-topic").toString
    Publisher.publishOrdered(joined, topicDir) // publishOrdered repackages internally
    val topic = Publisher.readTopic(spark, topicDir)
    assert(topic.count() === nSlice)

    // keyed messages carry a dense per-key 1..n publish sequence; keyless
    // messages carry none (reference: fully parallel)
    val keyedSeqs = topic.filter(col("ordering_key") =!= "")
      .groupBy("ordering_key")
      .agg(count(lit(1)).as("n"), min("publish_seq").as("mn"),
        max("publish_seq").as("mx"), countDistinct("publish_seq").as("d"))
      .filter(!(col("mn") === 1 && col("mx") === col("n") && col("d") === col("n")))
    assert(keyedSeqs.isEmpty, "keyed publish sequences must be dense 1..n")
    assert(topic.filter(col("ordering_key") === "" && col("publish_seq").isNotNull).isEmpty)

    // 4. the republished attribute maps round-trip the business keys
    val attrs = topic.select(from_json(col("value"),
      org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")).as("m"))
    assert(attrs.filter(!col("m").getItem("business_object_key").isNotNull).isEmpty)
  }

  test("composed resubmit over the real store: facade interval mode drains clean with a 200") {
    val wd = streaming.PersistPipeline.ensureRun(spark, dir)
    val index = store.IndexStore.materialized(spark, dir)
    val records = streaming.PersistPipeline.readRecords(spark, wd)
    val api = ApiFacade(
      Map("index" -> QueryService(index)),
      resubmitters = Map("index" ->
        Resubmitter(QueryService(index), records, broadcastIndex = true)),
      envTopic = Some("replay-topic"))
    val resp = api.resubmitInterval(ResubmitIntervalRequest("index",
      brokerId = Some("t-click"),
      lb = Some("2024-01-05T00:00:00Z"), ub = Some("2024-01-15T00:00:00Z")))
    // the store holds every persisted record, so the drain is clean (200)
    // and the publish plan carries exactly the interval slice, repackaged
    assert(resp.status === 200 && resp.message === "resubmission successful")
    val expected = index.filter(col("broker_id") === "t-click" &&
      col("publish_time") >= lit(ts("2024-01-05 00:00:00")) &&
      col("publish_time") < lit(ts("2024-01-15 00:00:00"))).count()
    assert(expected > 0)
    val plan = resp.data.get
    assert(plan.count() === expected)
    assert(plan.filter(!col("attributes").getItem("business_object_key").isNotNull).isEmpty)
    // the same slice through the by-ids mode reaches the same plan size
    val ids = index.filter(col("broker_id") === "t-click" &&
      col("publish_time") >= lit(ts("2024-01-05 00:00:00")) &&
      col("publish_time") < lit(ts("2024-01-15 00:00:00")))
      .select("unique_id").as[String].collect().toSeq
    val byIds = api.resubmitIds(ResubmitIdsRequest("index", Some(ids)))
    assert(byIds.status === 200 && byIds.data.get.count() === expected)
  }

  test("curation journey: quality gate → dedup → decontaminate → cap → budget → chunk → pack") {
    // the training-data twin of the replay journey: every hop consumes the
    // previous hop's actual output, with the hop's contract asserted on it
    val docs = Tables(spark, dir).documents

    // 1. quality + language gate (pure row filters — only ever removes)
    val quality = TextAnalysis.qualityScores(docs)
      .filter(col("n_tokens") >= 5).select("doc_id")
    val lang = TextAnalysis.languageId(docs)
      .filter(col("guessed_lang") =!= "und").select("doc_id")
    val gated = docs.join(quality, "doc_id").join(lang, "doc_id")
    assert(gated.count() > 0 && gated.count() <= docs.count())

    // 2. exact dedup → one representative per distinct text
    val reps = gated.join(
      Dedup.exact(gated).filter(col("doc_id") === col("canonical_id"))
        .select("doc_id"), "doc_id")
    assert(reps.groupBy("text").count().filter(col("count") > 1).isEmpty)

    // 3. bloom decontamination against a held-out eval slice
    val eval_ = docs.filter(col("doc_id") % 23 === 1)
    val clean = Curate.decontaminateBloom(reps, eval_)
    val evalTexts = eval_.select(col("text").as("et")).distinct()
    assert(clean.join(evalTexts, col("text") === col("et"), "left_semi").isEmpty)

    // 4. per-source cap — no source contributes more than 10 docs
    val capped = Curate.capPerKey(clean, col("source"), col("doc_id"), 10, "e2e")
    assert(capped.groupBy("source").count().filter(col("count") > 10).isEmpty)

    // 5. token budget in reproducible shuffle order — the doc that crosses
    // the budget is the last one kept
    val budget = 5000L
    val kept = Curate.takeTokenBudget(capped, budget, "e2e")
    val keptTokens = TextAnalysis.tokenCounts(kept.select("doc_id", "text"))
      .agg(sum("n_tokens")).head().getLong(0)
    val maxDoc = TextAnalysis.tokenCounts(kept.select("doc_id", "text"))
      .agg(max("n_tokens")).head().getLong(0)
    assert(keptTokens - maxDoc <= budget,
      s"all but the crossing doc must fit: $keptTokens tokens, max doc $maxDoc")

    // 6. chunk + pack — chunks tile every kept doc and bins respect the window
    val chunks = Curate.chunk(kept, windowTokens = 64, strideTokens = 64)
    assert(chunks.select("doc_id").distinct().count() ===
      kept.filter(length(col("text")) > 0).count())
    val packed = Curate.pack(chunks, windowTokens = 256L)
    val binOver = packed.groupBy("bin_id").agg(sum("chunk_tokens").as("t"))
      .filter(col("t") > 256 + 64) // a bin holds whole chunks; one may straddle
    assert(binOver.isEmpty)
    assert(packed.count() === chunks.count()) // packing loses nothing
  }

  test("model-driven curation journey: classifier gate → LM buckets → span dedup → semantic dedup → mix") {
    // the round-5 composition: every model is TRAINED in the pipeline run
    // that uses it, and every hop consumes the previous hop's real output
    val docs = Tables(spark, dir).documents

    // 1. trained-classifier gate (weak label distilled from the langID
    // heuristic) — keeps predicted-quality docs, drops the 'und' cluster
    val lf = Classify.labeledFeatures(docs).localCheckpoint()
    val w = Classify.trainLogistic(lf, Classify.featureVector, col("label"),
      lr = 16.0, iters = 16)
    val gated = docs.join(
      Classify.scoreLogistic(lf, Classify.featureVector, w)
        .filter(col("pred")).select("doc_id"), "doc_id")
    assert(gated.count() > 0 && gated.count() < docs.count())

    // 2. bigram-LM quality tertiles over the GATED corpus; drop the tail
    val scored = TextAnalysis.bigramScores(gated)
      .select(col("doc_id"), col("mean_pair_prob"))
    val headMid = Diagnostics.ntileExact(
      scored, Seq(col("mean_pair_prob").desc, col("doc_id")), 3)
      .filter(col("bucket") <= 2).select("doc_id")
    val nScored = scored.count()
    val nKept = headMid.count()
    assert(nKept === nScored - nScored / 3) // exact tertiles: tail = ⌊n/3⌋
    val curated = gated.join(headMid, "doc_id")

    // 3. exact-substring span dedup on the survivors — untouched docs keep
    // their text verbatim, touched docs lose exactly their removed tokens
    val spanned = Dedup.substringDedup(curated, k = 8)
    val joined = spanned.join(curated.select(col("doc_id"), col("text")), "doc_id")
    assert(joined.filter(col("n_removed") === 0 &&
      col("text_dedup") =!= lower(regexp_replace(trim(col("text")), " +", " "))).isEmpty)
    assert(spanned.agg(sum("n_removed")).head().getLong(0) > 0) // corpus has dups

    // 4. semantic dedup over the curated docs' embeddings (vec_id ≡ doc_id
    // in this corpus): keep one representative per near-dup cell group
    val emb = Tables(spark, dir).embeddings
      .join(curated.select(col("doc_id").as("vec_id")), "vec_id")
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "e2e")
    val semKept = Similarity.semDedup(emb, cents, tau = 0.4)
      .filter(col("kept")).select(col("vec_id").as("doc_id"))
    assert(semKept.count() > 0 && semKept.count() <= emb.count())

    // 5. mix the survivors to target source proportions — realized mix
    // tracks the target, binding source never upsampled
    val survivors = curated.join(semKept, "doc_id")
    val targets = survivors.groupBy("source").count()
      .orderBy(col("count").desc, col("source")).limit(3)
      .select("source").as[String].collect()
    val mixed = Curate.mixToTarget(survivors, col("source"), col("doc_id"),
      Map(targets(0) -> 0.5, targets(1) -> 0.25, targets(2) -> 0.25), "e2e5")
    val got = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(got.keySet === targets.toSet)
    val total = got.values.sum.toDouble
    assert(total > 0 && math.abs(got(targets(0)) / total - 0.5) < 0.25)
  }

  test("budgeted-release journey: semantic decontaminate → overlap dedup → exact-N budget → temperature mix → length report") {
    // the release-cut composition: scrub eval leakage (embedding-side),
    // drop partial copies, cut an exact-count corpus, balance sources,
    // and publish the mergeable length report — each hop consumes the
    // previous hop's real output
    val docs = Tables(spark, dir).documents
    val emb = Tables(spark, dir).embeddings // vec_id ≡ doc_id in this corpus

    // 1. semantic decontamination of the train split vs the eval split
    val clean = Similarity.decontaminateSemantic(
      emb.filter(col("vec_id") % 3 =!= 0),
      emb.filter(col("vec_id") % 97 === 1), tau = 0.35)
      .select(col("vec_id").as("doc_id"))
    val cleanDocs = docs.join(clean, "doc_id")
    assert(cleanDocs.count() > 0 && cleanDocs.count() < docs.count())

    // 2. overlap dedup: drop the doc_b of every winnow-overlap pair; the
    // keep-min rule leaves NO pair intact (every pair lost its doc_b)
    val pairs = Dedup.winnowOverlapPairs(cleanDocs, minShared = 3L, maxDf = 16L)
    assert(pairs.count() > 0, "corpus has no overlaps: journey exercises nothing")
    val deduped = cleanDocs.join(
      pairs.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    // every detected pair is resolved; fresh pairs MAY surface because
    // shrinking the corpus can thaw a boilerplate fingerprint below maxDf
    assert(Dedup.winnowOverlapPairs(deduped, 3L, 16L)
      .join(pairs, Seq("doc_a", "doc_b")).isEmpty)

    // 3. exact-N budget cut with a reproducible rank
    val n = 300L
    val budgeted = Curate.sampleExactN(deduped, col("doc_id"), n, "release1")
    assert(budgeted.count() === math.min(n, deduped.count()))

    // 4. temperature mix over the budgeted corpus: binding source whole
    val mixed = Curate.mixTemperature(
      budgeted.drop("sample_rank"), col("source"), col("doc_id"), 0.5, "relmix")
    val before = budgeted.groupBy("source").count().as[(String, Long)].collect().toMap
    val after = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(after.exists { case (s, k) => k === before(s) }, "some source binds (kept whole)")
    assert(after.forall { case (s, k) => k <= before(s) }) // downsample-only

    // 5. the per-source length report: registers bracket the exact medians
    val hist = Sketches.logHistogram(mixed, col("n_chars"), 5, col("source"))
    val report = Sketches.logHistQuantiles(hist, Seq(0.5))
    report.select("source", "est_lo", "est_hi").as[(String, Long, Long)]
      .collect().foreach { case (src, lo, hi) =>
        val vals = mixed.filter(col("source") === src)
          .select("n_chars").as[Long].collect().sorted
        val exact = vals((vals.length + 1) / 2 - 1)
        assert(lo <= exact && exact <= hi, s"$src: [$lo,$hi] misses $exact")
      }
  }

  test("hybrid-retrieval journey: stored BM25 index ⊕ cosine ANN → RRF fusion invariants") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    val emb = Tables(spark, dir).embeddings // vec_id ≡ doc_id in this corpus
    val terms = Seq("vector", "stream", "window")

    // 1. lexical ranking SERVED FROM the persisted index lifecycle
    val wd = java.nio.file.Files.createTempDirectory("e2e-bm25").toString
    TextAnalysis.saveBm25Index(spark, wd, docs)
    val (postings, doclen) = TextAnalysis.loadBm25Index(spark, wd)
    def rankOf(df: org.apache.spark.sql.DataFrame) = df.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
    val lex = rankOf(TextAnalysis.bm25TopKFromIndex(postings, doclen, terms, 25))
    // stored serving ≡ direct corpus scoring, rank for rank
    val direct = rankOf(TextAnalysis.bm25TopK(docs, terms, 25))
    assert(lex.select("doc_id", "rank").as[(Long, Long)].collect().sorted.toSeq ===
      direct.select("doc_id", "rank").as[(Long, Long)].collect().sorted.toSeq)

    // 2. semantic ranking around anchor vec 0
    val sem = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 25)
      .select(col("neighbor_id").as("doc_id"), col("rank"))

    // 3. fuse; k=25 ⇒ a doc in BOTH lists contributes ≥ 2·(10^6 DIV 85) =
    // 23528 > 16393 ≥ any single-list doc — both-list docs must occupy a
    // strict prefix of the fused order
    val fused = Similarity.rrfFuse(lex, sem, "doc_id", topK = 50)
      .orderBy("fused_rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(fused.nonEmpty)
    val inBothFlags = fused.map { case (_, ra, rb, _, _) => ra > 0 && rb > 0 }
    assert(inBothFlags === inBothFlags.sorted(Ordering[Boolean].reverse),
      "a single-list doc outranked a both-list doc")

    // 4. self-fusion sanity: fusing a ranking with itself preserves it
    // (contributions strictly decrease in rank for ranks ≤ 25)
    val self = Similarity.rrfFuse(lex, lex, "doc_id", topK = 25)
      .orderBy("fused_rank")
      .select("doc_id").as[Long].collect().toSeq
    assert(self === lex.orderBy("rank").select("doc_id").as[Long].collect().toSeq)
  }

  test("ops-monitor journey: batch-maintained daily-count state serves decay and anomaly readouts") {
    val events = Tables(spark, dir).events
    val batches = Seq(0, 1, 2).map(i => events.filter(col("event_id") % 3 === i))
    val state = batches.map(Analytics.dailyCounts).reduce(Analytics.mergeDailyCounts)
    // both readouts off the merged store equal their one-shot forms
    assert(Analytics.volumeAnomalyFromState(state, 3L)
      .orderBy("event_type", "day").collect().toSeq ===
      Analytics.volumeAnomaly(events, 3L)
        .orderBy("event_type", "day").collect().toSeq)
    val decayedNow = Analytics.decayedFromState(state, "2024-02-01", 7)
      .select("event_type", "decayed_mass").as[(String, Long)].collect().toMap
    assert(decayedNow ===
      Analytics.decayedCounts(events, "2024-02-01", 7)
        .select("event_type", "decayed_mass").as[(String, Long)].collect().toMap)
    // a later as-of from the SAME store never increases any type's mass
    // (every stored day predates the first as-of — sf0.001 events span
    // January only — so the later readout adds no new days, only age)
    val decayedLater = Analytics.decayedFromState(state, "2024-03-01", 7)
      .select("event_type", "decayed_mass").as[(String, Long)].collect().toMap
    decayedNow.foreach { case (t, m) =>
      assert(decayedLater.getOrElse(t, 0L) <= m, s"$t mass grew as time passed")
    }
    assert(decayedNow.nonEmpty)
  }

  test("deployment-surface journey: streamed pipeline feeds the registry the live listener scrapes") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    // the three ops pieces composed like a real deployment: a streaming
    // persist run updating the registry per micro-batch (the reference's
    // UpdateSuccessMetrics path), served by the live listener's /metrics
    // route, scraped over a real socket
    val reg = new MetricsRegistry("persistor")
    val stage = java.nio.file.Files.createTempDirectory("graft-e2e-mstage").toString
    val wd = java.nio.file.Files.createTempDirectory("graft-e2e-mwd").toString
    Tables(spark, dir).events.limit(120).coalesce(1).write.parquet(s"$stage/f0")
    streaming.PersistPipeline.runStream(spark, s"$stage/f*", wd,
      maxFilesPerTrigger = 1, metrics = Some(reg))
    val api = new ApiServer(ApiFacade(Map.empty), ApiServer.Indexer,
      metrics = Some(reg))
    api.start()
    try {
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${api.boundPort}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      def sample(name: String): Double = r.body().linesIterator
        .find(_.startsWith(name + " ")).get.split(" ").last.toDouble
      assert(sample("persistor_processed_messages_total") == 120.0)
      assert(sample("persistor_processing_times_milliseconds_count") == 120.0)
      assert(sample("persistor_failed_messages_total") == 0.0)
      // and the stream's output is the real store the other journeys read
      assert(spark.read.parquet(s"$wd/index").count() === 120L)
    } finally api.stop(0)
  }

  test("serve-under-accretion journey: a crawl stream grows BM25+IVF+PQ stores; the listener serves between batches, one compaction + catalog swap mid-stream") {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.net.URI
    import graft.store.StoreCatalog
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val root = java.nio.file.Files.createTempDirectory("graft-e2e-accrete").toString
    val cat = s"$root/catalog"
    val annDir = s"$root/ann"
    val pqDir = s"$root/pq"
    val terms = Seq("vector", "stream", "window")
    // quantizer + books train once, on the crawl's FIRST wave only (the
    // realistic bootstrap; later waves ride the stamped artifacts)
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val embSeed = emb.filter(col("vec_id") % 3 === 0)
    val cents = Similarity.kmeansCentroids(embSeed, numCells = 4, iters = 1, salt = "e2eacc")
    val books = Similarity.pqCodebooks(embSeed, m = 8, ksub = 16, iters = 1, salt = "e2eacc")
    TextAnalysis.saveBm25Index(spark, s"$root/bm25/v1", seed)
    StoreCatalog.publish(spark, cat, "bm25", s"$root/bm25/v1")
    Similarity.saveIvfAssigned(spark, annDir,
      Similarity.assignIvfCells(embSeed, cents), cents)
    Similarity.savePqCodes(spark, pqDir,
      Similarity.encodePqCodes(embSeed, books, cellBits = 4), books, cellBits = 4)
    // data seen so far, tracked by crawl wave (batches are doc_id mod 3)
    val seenMods = scala.collection.mutable.Set(0L)
    val client = HttpClient.newHttpClient()
    def post(base: String, path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def dataNodes(body: String) = {
      val d = json.readTree(body).get("data")
      (0 until d.size()).map(d.get)
    }
    // between batches: reload the stores THROUGH the catalog, serve over
    // a real socket, and assert bit-exact equality with a one-shot build
    // of exactly the documents seen so far
    def serveAndAssert(): Unit = {
      val mods = seenMods.toSeq
      val docsSeen = docs.filter(pmod(col("doc_id"), lit(3L)).isin(mods: _*))
      val embSeen = emb.filter(pmod(col("vec_id"), lit(3L)).isin(mods: _*))
      val (p, d) = TextAnalysis.loadBm25Index(
        spark, StoreCatalog.resolve(spark, cat, "bm25"))
      val assigned = Similarity.loadIvfAssigned(spark, annDir, cents)
      val srv = new ApiServer(ApiFacade(Map.empty), ApiServer.Indexer,
        retrieval = Some(RetrievalService(
          bm25 = Map("docs" -> ((p, d))),
          ann = Map("docs" -> RetrievalService.AnnStore(assigned, cents)))))
      srv.start()
      try {
        val base = s"http://127.0.0.1:${srv.boundPort}"
        // lexical: integer BM25 scores replay bit-for-bit vs the one-shot
        // corpus scan of the seen documents
        val lex = post(base, "/search/docs",
          s"""{"terms":[${terms.map(t => s""""$t"""").mkString(",")}],"k":15}""")
        assert(lex.statusCode() == 200)
        val gotLex = dataNodes(lex.body())
          .map(n => (n.get("doc_id").asLong(), n.get("score").asLong(),
            n.get("n_hit").asLong()))
        val oneShot = TextAnalysis.bm25TopK(docsSeen, terms, 15)
          .select("doc_id", "score", "n_hit")
          .as[(Long, Long, Long)].collect().toSeq
        assert(gotLex === oneShot)
        assert(gotLex.nonEmpty)
        // semantic: partial-probe serve from the grown store ≡ the
        // in-line serve over the seen vectors (the accretion contract)
        val ann = post(base, "/ann/docs",
          """{"query_ids":[0],"k":3,"nprobe":2}""")
        assert(ann.statusCode() == 200)
        val gotAnn = dataNodes(ann.body())
          .map(n => (n.get("rank").asLong(), n.get("neighbor_id").asLong())).toSet
        val annOneShot = Similarity.ivfTopKWithCentroids(
          embSeen, col("vec_id") === 0L, 3, cents, nprobe = 2)
          .select("rank", "neighbor_id").as[(Long, Long)].collect().toSet
        assert(gotAnn === annOneShot)
        assert(gotAnn.nonEmpty)
      } finally srv.stop(0)
      // PQ store (no HTTP face): stored-codes serve ≡ in-line PQ serve
      val (codes, cb) = Similarity.loadPqCodes(spark, pqDir, books)
      def keys(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(keys(Similarity.pqTopKWithCodes(
        codes, embSeen, col("vec_id") === 0L, 3, books, cellBits = cb, rerank = 16))
        === keys(Similarity.pqTopKWithBooks(
          embSeen, col("vec_id") === 0L, 3, books, cellBits = cb, rerank = 16)))
    }
    serveAndAssert() // the bootstrap serves before any accretion
    // the crawl: two disjoint waves arrive as a real file stream
    Seq(1L, 2L).foreach { m =>
      docs.filter(col("doc_id") % 3 === m).coalesce(1)
        .write.parquet(s"$root/in/f$m")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$root/in/f1").schema
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val mod = batch.select(pmod(col("doc_id"), lit(3L))).distinct()
          .as[Long].collect()
        assert(mod.length == 1, "waves are disjoint by construction")
        val embBatch = emb.filter(pmod(col("vec_id"), lit(3L)) === mod.head)
        TextAnalysis.appendBm25Index(
          spark, StoreCatalog.resolve(spark, cat, "bm25"), batch)
        Similarity.appendIvfAssigned(spark, annDir, embBatch, cents)
        Similarity.appendPqCodes(spark, pqDir, embBatch, books)
        seenMods += mod.head
        serveAndAssert()
        if (id == 0) {
          // mid-stream maintenance: compact the accreted postings into a
          // NEW version, swap the catalog pointer, and prove the serve is
          // seamless (same data, same ranking, fewer files)
          val v1 = StoreCatalog.resolve(spark, cat, "bm25")
          graft.streaming.Maintenance.compact(spark, s"$v1/postings",
            s"$root/bm25/v2/postings", Seq("tok_bucket"), "tok",
            targetRows = 1000000L)
          spark.read.parquet(s"$v1/doclen").coalesce(1)
            .write.parquet(s"$root/bm25/v2/doclen")
          spark.read.parquet(s"$v1/stats").coalesce(1)
            .write.parquet(s"$root/bm25/v2/stats")
          spark.read.parquet(s"$v1/postings_meta").coalesce(1)
            .write.parquet(s"$root/bm25/v2/postings_meta")
          StoreCatalog.publish(spark, cat, "bm25", s"$root/bm25/v2")
          serveAndAssert()
          assert(StoreCatalog.gcSuperseded(spark, cat, "bm25", s"$root/bm25",
            graceMs = 0L).exists(_.endsWith("/v1")))
        }
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    assert(seenMods === Set(0L, 1L, 2L), "both waves drained")
    // the final grown stores account for every document exactly once
    val (pF, dF) = TextAnalysis.loadBm25Index(
      spark, StoreCatalog.resolve(spark, cat, "bm25"))
    assert(dF.count() === docs.count())
    assert(pF.groupBy("doc_id", "tok").count().filter(col("count") > 1).isEmpty)
    assert(Similarity.loadIvfAssigned(spark, annDir, cents).count() === emb.count())
    assert(Similarity.loadPqCodes(spark, pqDir, books)._1.count() === emb.count())
  }

  test("facade point lookup agrees with the replayed record payload") {
    val wd = streaming.PersistPipeline.ensureRun(spark, dir)
    val index = store.IndexStore.materialized(spark, dir)
    val api = ApiFacade(Map("index" -> QueryService(index)))
    val someId = index.agg(min("unique_id")).head().getString(0)
    val resp = api.getUnique(GetUniqueRequest("index", someId))
    assert(resp.status === 200)
    val row = resp.data.get.select("location_key", "location_position").head()
    val rec = streaming.PersistPipeline.readRecords(spark, wd)
      .filter(col("location_key") === row.getString(0) &&
        col("location_position") === row.getLong(1))
    assert(rec.count() === 1) // the indexed location resolves to exactly one record
  }
}
