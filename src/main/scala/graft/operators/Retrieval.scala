package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stored-index retrieval surface for the live listener — the serving
  * layer's HTTP face over the round's persisted indexes: BM25 postings
  * stores ([[TextAnalysis.saveBm25Index]]), positional phrase stores
  * ([[TextAnalysis.saveBm25Positional]]), and IVF assigned stores
  * ([[Similarity.saveIvfAssigned]]), routed by collection name exactly
  * like [[ApiFacade]] routes `:mongo_collection`.
  *
  * Status conventions follow the facade (the reference's gin handlers):
  * 200 + data on success, 400 `bad request` on an unbindable body or
  * out-of-range parameters, and 404 for a collection with no built store
  * (an unbuilt index is a routing miss, not a caller error). Responses
  * are k-bounded by construction — the serve operators return top-k
  * pages, never corpus-sized frames — so the listener's bounded-collect
  * rendering contract holds.
  *
  * A request runs each of its subplans once. The ANN and PQ routes (and
  * the semantic half of hybrid) fetch their probe side in one bounded
  * job and broadcast the fetched rows ([[Similarity.ivfTopKAssigned]]'s
  * enforced small-probe contract): an oversized probe batch (over the
  * store's `maxBroadcastProbes`) falls back to the valved sweep join
  * with identical results — a client cannot OOM the serve by sending a
  * huge id list; on top of that, id lists and vector batches past the
  * store's `maxQueryIds` bind-fail at the HTTP boundary. The BM25 and
  * phrase routes score against the collection's corpus statistics as
  * literals ([[TextAnalysis.Bm25Stats]]): the stored sidecar's, or for a
  * store without one, doclen folded once per service, not per request.
  */
final case class RetrievalService(
    bm25: Map[String, (DataFrame, DataFrame)] = Map.empty,
    ann: Map[String, RetrievalService.AnnStore] = Map.empty,
    phrase: Map[String, (DataFrame, DataFrame)] = Map.empty,
    pq: Map[String, RetrievalService.PqStore] = Map.empty,
    bm25Stats: Map[String, TextAnalysis.Bm25Stats] = Map.empty,
    phraseStats: Map[String, TextAnalysis.Bm25Stats] = Map.empty) {
  import ApiFacade.{ApiResponse, OkMessage, OnBadRequestMessage}
  import RetrievalService.{MaxK, MaxRerank, OnNoStoreMessage}

  // Corpus statistics per served collection: the wired sidecar value, or
  // — for a store without one — folded from its doclen ONCE, on first
  // use, never per request (a service's stores are immutable for its
  // lifetime, the memo argument).
  private lazy val bm25St = resolveStats(bm25, bm25Stats)
  private lazy val phraseSt = resolveStats(phrase, phraseStats)

  private def resolveStats(
      stores: Map[String, (DataFrame, DataFrame)],
      wired: Map[String, TextAnalysis.Bm25Stats]) =
    stores.map { case (n, (_, doclen)) =>
      n -> wired.getOrElse(n, TextAnalysis.Bm25Stats.of(doclen))
    }

  /** `POST /search/:coll {"terms": […], "k": n}` — BM25 top-k from the
    * stored postings (term buckets prune the partition scan; nothing
    * re-tokenizes). Missing/empty terms or a non-positive k bind-fail.
    */
  def search(
      coll: String,
      terms: Option[Seq[String]],
      k: Option[Int]): ApiResponse =
    bm25.get(coll) match {
      case None => ApiResponse(404, OnNoStoreMessage, None)
      case Some((postings, doclen)) => (terms, k) match {
        case (Some(ts), Some(kv)) if ts.nonEmpty && kv > 0 && kv <= MaxK =>
          ApiResponse(200, OkMessage,
            Some(TextAnalysis.bm25TopKFromIndex(postings, doclen, ts, kv,
              stats = bm25St.get(coll))))
        case _ => ApiResponse(400, OnBadRequestMessage, None)
      }
    }

  /** `POST /search/:coll {"queries": [{"query_id": n, "terms": […]}…],
    * "k": n}` — the BATCH mode of the search route
    * ([[TextAnalysis.bm25PerQueryFromIndex]], the
    * decontamination-by-retrieval shape): top-k per query from the
    * stored postings, one pruned store scan for the whole suite. An
    * empty suite, a query with no terms, or a non-positive k bind-fail;
    * so does a suite past the reasonable-eval-batch valve (the query
    * suite broadcasts by contract).
    */
  def searchBatch(
      coll: String,
      queries: Option[Seq[(Long, Seq[String])]],
      k: Option[Int],
      maxQueries: Int = 4096): ApiResponse =
    bm25.get(coll) match {
      case None => ApiResponse(404, OnNoStoreMessage, None)
      case Some((postings, doclen)) => (queries, k) match {
        case (Some(qs), Some(kv))
            if qs.nonEmpty && qs.length <= maxQueries &&
              qs.forall(_._2.nonEmpty) && kv > 0 && kv <= MaxK =>
          val spark = postings.sparkSession
          import spark.implicits._
          ApiResponse(200, OkMessage,
            Some(TextAnalysis.bm25PerQueryFromIndex(
              postings, doclen, qs.toDF("query_id", "terms"), kv,
              stats = bm25St.get(coll))))
        case _ => ApiResponse(400, OnBadRequestMessage, None)
      }
    }

  /** `POST /phrase/:coll {"phrase": […], "k": n}` — exact consecutive
    * phrase top-k from the stored POSITIONAL postings
    * ([[TextAnalysis.phraseTopKFromIndex]]; the phrase's term buckets
    * prune exactly like term serves). A phrase needs ≥ 2 terms — fewer
    * bind-fails (a one-term "phrase" is a term query; use /search).
    */
  def phraseSearch(
      coll: String,
      phraseTerms: Option[Seq[String]],
      k: Option[Int]): ApiResponse =
    phrase.get(coll) match {
      case None => ApiResponse(404, OnNoStoreMessage, None)
      case Some((postingsPos, doclen)) => (phraseTerms, k) match {
        case (Some(ph), Some(kv)) if ph.size >= 2 && kv > 0 && kv <= MaxK =>
          ApiResponse(200, OkMessage,
            Some(TextAnalysis.phraseTopKFromIndex(postingsPos, doclen, ph, kv,
              stats = phraseSt.get(coll))))
        case _ => ApiResponse(400, OnBadRequestMessage, None)
      }
    }

  /** `POST /ann/:coll {"query_ids": […], "k": n, "nprobe": m}` — IVF
    * top-k from the stored assignment for the corpus vectors named by
    * `query_ids` (the self-serve probe shape; ids absent from the corpus
    * contribute no rows). nprobe outside [1, numCells] bind-fails rather
    * than crashing the serve, and so does an id list past the store's
    * `maxQueryIds` — the HTTP-boundary twin of the broadcast-probe valve
    * (the valve caps the JOIN, but a multi-million-id body would still
    * materialize a giant driver-side `IN` expression; cap it at bind).
    */
  def annSearch(
      coll: String,
      queryIds: Option[Seq[Long]],
      k: Option[Int],
      nprobe: Option[Int]): ApiResponse =
    ann.get(coll) match {
      case None => ApiResponse(404, OnNoStoreMessage, None)
      case Some(st) => (queryIds, k, nprobe) match {
        case (Some(ids), Some(kv), Some(np))
            if ids.nonEmpty && ids.length <= st.maxQueryIds &&
              kv > 0 && kv <= MaxK && np >= 1 && np <= st.cents.length =>
          ApiResponse(200, OkMessage,
            Some(Similarity.ivfTopKAssigned(
              st.assigned, col("vec_id").isin(ids: _*), kv, st.cents, np,
              maxBroadcastProbes = st.maxBroadcastProbes)))
        case _ => ApiResponse(400, OnBadRequestMessage, None)
      }
    }

  /** `POST /ann/:coll {"vectors": [[…]…], "k": n, "nprobe": m}` — the
    * CALLER-SUPPLIED-vector mode of the ANN route
    * ([[Similarity.ivfTopKAssignedWith]], the real service shape): a
    * client holding its own query vectors never triggers a query-side
    * store scan. Vectors bind as float32 (the store's element type, so
    * a corpus vector sent by value ranks identically to the id route).
    * A wrong-dimension vector, an empty batch, or a batch past the
    * store's `maxQueryIds` bind-fails; query ids in the response are
    * the 0-based positions of the vectors in the request. Because those
    * positions are request-local, the serve runs with id-based
    * self-exclusion OFF — an external query identical to a stored
    * vector retrieves it at rank 1, cosine 1 (the standard
    * external-query contract), and a corpus vector whose id happens to
    * equal a batch position is never wrongly dropped.
    */
  def annSearchVectors(
      coll: String,
      vectors: Option[Seq[Seq[Double]]],
      k: Option[Int],
      nprobe: Option[Int]): ApiResponse =
    ann.get(coll) match {
      case None => ApiResponse(404, OnNoStoreMessage, None)
      case Some(st) => (vectors, k, nprobe) match {
        case (Some(vs), Some(kv), Some(np))
            if vs.nonEmpty && vs.length <= st.maxQueryIds &&
              vs.forall(_.length == st.cents(0).length) &&
              kv > 0 && kv <= MaxK && np >= 1 && np <= st.cents.length =>
          val spark = st.assigned.sparkSession
          import spark.implicits._
          val qv = vs.zipWithIndex
            .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
            .toDF("query_id", "embedding")
          ApiResponse(200, OkMessage,
            Some(Similarity.ivfTopKAssignedWith(
              st.assigned, qv, kv, st.cents, np,
              maxBroadcastProbes = st.maxBroadcastProbes,
              excludeSelf = false)))
        case _ => ApiResponse(400, OnBadRequestMessage, None)
      }
    }

  /** `POST /pq/:coll {"query_ids": […], "k": n, "rerank": m}` — IVF-PQ
    * top-k from the stored code table for the corpus vectors named by
    * `query_ids`: ADC over the probed cells' codes, exact-cosine re-rank
    * of the `rerank` best ([[Similarity.pqTopKWithCodes]]; the raw
    * embedding table is touched only by the query lookup and the
    * rerank-sized join). rerank < k bind-fails (the re-rank cannot
    * return more than it rescored), as do empty or over-cap id lists.
    */
  def pqSearch(
      coll: String,
      queryIds: Option[Seq[Long]],
      k: Option[Int],
      rerank: Option[Int]): ApiResponse =
    pq.get(coll) match {
      case None => ApiResponse(404, OnNoStoreMessage, None)
      case Some(st) => (queryIds, k, rerank) match {
        case (Some(ids), Some(kv), Some(rr))
            if ids.nonEmpty && ids.length <= st.maxQueryIds &&
              kv > 0 && kv <= MaxK && rr >= kv && rr <= MaxRerank =>
          ApiResponse(200, OkMessage,
            Some(Similarity.pqTopKWithCodes(
              st.codes, st.embeddings, col("vec_id").isin(ids: _*), kv,
              st.books, cellBits = st.cellBits, rerank = rr,
              maxBroadcastProbes = st.maxBroadcastProbes)))
        case _ => ApiResponse(400, OnBadRequestMessage, None)
      }
    }

  /** `POST /pq/:coll {"vectors": [[…]…], "k": n, "rerank": m}` — the
    * caller-supplied-vector mode of the PQ route
    * ([[Similarity.pqTopKCodesWith]]): same bind rules as
    * [[annSearchVectors]] (float32 vectors, 0-based position query ids,
    * self-exclusion off, wrong-dimension / over-cap bodies 400).
    */
  def pqSearchVectors(
      coll: String,
      vectors: Option[Seq[Seq[Double]]],
      k: Option[Int],
      rerank: Option[Int]): ApiResponse =
    pq.get(coll) match {
      case None => ApiResponse(404, OnNoStoreMessage, None)
      case Some(st) => (vectors, k, rerank) match {
        case (Some(vs), Some(kv), Some(rr))
            if vs.nonEmpty && vs.length <= st.maxQueryIds &&
              vs.forall(_.length == Similarity.Dim) && kv > 0 && kv <= MaxK &&
              rr >= kv && rr <= MaxRerank =>
          val spark = st.codes.sparkSession
          import spark.implicits._
          val qv = vs.zipWithIndex
            .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
            .toDF("query_id", "embedding")
          ApiResponse(200, OkMessage,
            Some(Similarity.pqTopKCodesWith(
              st.codes, st.embeddings, qv, kv, st.books,
              cellBits = st.cellBits, rerank = rr,
              maxBroadcastProbes = st.maxBroadcastProbes,
              excludeSelf = false)))
        case _ => ApiResponse(400, OnBadRequestMessage, None)
      }
    }

  /** `POST /hybrid/:coll {"terms": […], "query_id": n | "vector": […],
    * "k"?, "nprobe"?, "k_rrf"?}` — hybrid retrieval over the stored
    * indexes: the stored BM25 serve for `terms` and the stored IVF
    * serve around EITHER corpus vector `query_id` or a caller-supplied
    * `vector` (exactly one — both or neither bind-fails), fused by
    * reciprocal-rank ([[Similarity.rrfFuse]], exact integer ppm so the
    * fused order replays). Requires BOTH stores built under `coll`
    * (vec_id ≡ doc_id, the corpus convention) — either missing is a 404
    * routing miss. The lexical rank is the k-bounded row_number over
    * (score DESC, doc_id); the semantic rank comes from the ANN serve
    * directly (vector mode runs with self-exclusion off, the
    * [[annSearchVectors]] contract — the stored twin of the query, if
    * any, fuses like any other retrieved document).
    */
  def hybrid(
      coll: String,
      terms: Option[Seq[String]],
      queryId: Option[Long],
      vector: Option[Seq[Double]],
      k: Option[Int],
      nprobe: Option[Int],
      kRrf: Option[Int]): ApiResponse =
    (bm25.get(coll), ann.get(coll)) match {
      case (Some((postings, doclen)), Some(st)) =>
        (terms, k, nprobe, kRrf) match {
          case (Some(ts), Some(kv), Some(np), Some(kr))
              if ts.nonEmpty && kv > 0 && kv <= MaxK && kr >= 1 &&
                np >= 1 && np <= st.cents.length &&
                (queryId.isDefined != vector.isDefined) &&
                vector.forall(_.length == st.cents(0).length) =>
            val lex = TextAnalysis.bm25TopKFromIndex(postings, doclen, ts, kv,
              stats = bm25St.get(coll))
              .withColumn("rank", row_number().over(
                Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
              .select("doc_id", "rank")
            val sem = (queryId match {
              case Some(qid) => Similarity.ivfTopKAssigned(
                st.assigned, col("vec_id") === qid, kv, st.cents, np,
                maxBroadcastProbes = st.maxBroadcastProbes)
              case None =>
                val spark = st.assigned.sparkSession
                import spark.implicits._
                Similarity.ivfTopKAssignedWith(st.assigned,
                  Seq((0L, vector.get.map(_.toFloat).toArray))
                    .toDF("query_id", "embedding"),
                  kv, st.cents, np,
                  maxBroadcastProbes = st.maxBroadcastProbes,
                  excludeSelf = false)
            }).select(col("neighbor_id").as("doc_id"), col("rank"))
            ApiResponse(200, OkMessage,
              Some(Similarity.rrfFuse(lex, sem, "doc_id", kRrf = kr, topK = kv)))
          case _ => ApiResponse(400, OnBadRequestMessage, None)
        }
      case _ => ApiResponse(404, OnNoStoreMessage, None)
    }
}

object RetrievalService {

  val OnNoStoreMessage = "no such collection"

  /** Page-size ceiling for every retrieval route: responses render as
    * one bounded driver-side collect, so an in-range-but-huge k must
    * bind-fail — "k-bounded by construction" is a contract only if k
    * itself is bounded. 1000 is an order of magnitude past any sane
    * retrieval page.
    */
  val MaxK = 1000

  /** Ceiling on the PQ exact-re-rank candidate count per query — the
    * rescore join is rerank-sized by design; an unbounded rerank would
    * turn it back into a corpus join.
    */
  val MaxRerank = 4096

  /** Construct the listener's retrieval surface FROM the store catalog —
    * the deployment shape: each named collection resolves to its current
    * version directory ([[graft.store.StoreCatalog.resolve]], loud on
    * unpublished names) and loads through the stamped loaders, so a
    * listener rebuilt after a delete/retrain catalog flip always serves
    * the current, stamp-verified version and can never resurrect a
    * superseded one.
    *
    * Version-dir contracts: a published ANN version must carry BOTH the
    * assigned partitions ([[Similarity.saveIvfAssigned]]) and the
    * centroids ([[Similarity.saveIvfIndex]]) — the loader reads the
    * quantizer from the store and verifies the stamp against it, which
    * is what makes the catalog flip self-contained. PQ versions are
    * self-contained (books ride in `codebooks`), but the exact re-rank
    * needs the raw corpus, so `pqNames` maps each collection to its
    * embedding table.
    */
  def fromCatalog(
      spark: org.apache.spark.sql.SparkSession,
      catalogRoot: String,
      bm25Names: Seq[String] = Nil,
      phraseNames: Seq[String] = Nil,
      annNames: Seq[String] = Nil,
      pqNames: Map[String, DataFrame] = Map.empty): RetrievalService = {
    import graft.store.StoreCatalog.resolve
    // ONE resolve per name: index and stats must come from the SAME
    // version directory — resolving twice races a concurrent publish
    // and could pair one version's postings with another's statistics
    val bm25Dirs = bm25Names.map(n => n -> resolve(spark, catalogRoot, n))
    val phraseDirs = phraseNames.map(n => n -> resolve(spark, catalogRoot, n))
    RetrievalService(
      bm25 = bm25Dirs.map { case (n, dir) =>
        n -> TextAnalysis.loadBm25Index(spark, dir) }.toMap,
      phrase = phraseDirs.map { case (n, dir) =>
        n -> TextAnalysis.loadBm25Positional(spark, dir) }.toMap,
      bm25Stats = bm25Dirs.flatMap { case (n, dir) =>
        TextAnalysis.loadBm25Stats(spark, dir).map(n -> _) }.toMap,
      phraseStats = phraseDirs.flatMap { case (n, dir) =>
        TextAnalysis.loadBm25Stats(spark, dir).map(n -> _) }.toMap,
      ann = annNames.map { n =>
        val dir = resolve(spark, catalogRoot, n)
        val cents = Similarity.loadIvfCentroids(spark, dir)
        n -> AnnStore(Similarity.loadIvfAssigned(spark, dir, cents), cents)
      }.toMap,
      pq = pqNames.map { case (n, emb) =>
        val dir = resolve(spark, catalogRoot, n)
        val books = Similarity.loadPqBooks(spark, dir)
        val (codes, cellBits) = Similarity.loadPqCodes(spark, dir, books)
        n -> PqStore(codes, emb, books, cellBits)
      }.toMap)
  }

  /** One served ANN collection: the loaded assigned store, the quantizer
    * it was stamped with (a [[Similarity.loadIvfAssigned]] load already
    * verified the pair), the serve-time probe cap, and the bind-time
    * ceiling on a request's query-id list or vector batch (see
    * [[RetrievalService.annSearch]]).
    */
  final case class AnnStore(
      assigned: DataFrame,
      cents: Array[Array[Double]],
      maxBroadcastProbes: Int = 4096,
      maxQueryIds: Int = 4096)

  /** One served PQ collection: the loaded code table with the stamped
    * codebooks and cell geometry ([[Similarity.loadPqCodes]] verified
    * the pair and handed back `cellBits`), the raw embedding table the
    * exact re-rank joins against, and the serve valves.
    */
  final case class PqStore(
      codes: DataFrame,
      embeddings: DataFrame,
      books: Array[Array[Array[Double]]],
      cellBits: Int,
      maxBroadcastProbes: Int = 4096,
      maxQueryIds: Int = 4096)
}
