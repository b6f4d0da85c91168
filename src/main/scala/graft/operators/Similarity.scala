package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.FutureAction
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

import graft.store.StoreMeta

/** Similarity search over an embedding column (`array<float>`).
  *
  * Cosine math is done in double with a strict left-fold order
  * (`aggregate` over `zip_with`), which makes scores bit-identical across
  * engines — the DuckDB oracle reproduces them exactly with
  * `list_dot_product` on `::DOUBLE[]` casts (verified bit-for-bit at
  * sf0.01). No UDFs: everything is Catalyst higher-order functions on the
  * array column.
  *
  * The coarse quantizer is sign-random-projection (SRP): hyperplane
  * component w[p][d] derives deterministically from md5 — the identical
  * constant is computable on the JVM (embedded as a literal array, zero
  * per-row hashing cost) and in ANSI SQL (the oracle re-derives it), so
  * LSH cells match bit-for-bit across engines.
  *
  * Scale design: norms are precomputed once per row; the brute-force path
  * broadcasts the (small) query side so the corpus never shuffles; the IVF
  * path adds the SRP cell as an equi-join key so each query only scans its
  * cell; near-dup pair mining blocks on SRP bands (candidates only where a
  * band collides, verified with exact cosine) — no cartesian product
  * anywhere. At 100 TB the corpus side of every join is partitioned by the
  * equi-key and each band/cell bucket is independent.
  */
object Similarity {

  /** Embedding dimensionality of the driver's embeddings table. */
  val Dim = 64

  /** Left-fold double dot product of two float/double arrays — a native
    * codegen'd expression (flat FMA loop in whole-stage codegen); see
    * [[graft.functions.expressions.DotFold]] for the bit-identity argument
    * vs the `aggregate`-over-`zip_with` HOF form it replaces.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.DotFold(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** SRP hyperplane `p` over `dim` dims: component d is
    * h60(s"p|d") / 2^59 - 1.0 ∈ [-1, 1) — the same md5-derived constant
    * the oracle computes as
    * `CAST('0x'||substr(md5(p||'|'||d),1,15) AS BIGINT)::DOUBLE / 2^59 - 1`.
    */
  def srpPlane(p: Int, dim: Int = Dim): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { d =>
      val hex = md.digest(s"$p|$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16).toDouble / (1L << 59).toDouble - 1.0
    }
  }

  /** One SRP sign bit: 1 when the embedding is on the positive side of
    * hyperplane `p`, else 0. The plane is a literal array — evaluated once
    * at plan time, so the per-row cost is one 64-element fold.
    */
  def srpBit(emb: Column, p: Int, dim: Int = Dim): Column =
    when(dot(typedLit(srpPlane(p, dim)), emb) > lit(0.0), lit(1L)).otherwise(lit(0L))

  /** Little-endian SRP code over planes [p0, p0+bits): the LSH cell id. */
  def srpCode(emb: Column, p0: Int, bits: Int, dim: Int = Dim): Column =
    (0 until bits).map(i => srpBit(emb, p0 + i, dim) * lit(1L << i)).reduce(_ + _)

  /** Corpus annotated with its precomputed norm. */
  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("nrm", norm(col("embedding")))

  /** Brute-force cosine top-k: for each query vector (vec_id ∈ querySet),
    * the k nearest corpus vectors by cosine, ties broken by vec_id.
    * The query side is broadcast; ranking is a per-query window (k small).
    * This is the exact baseline — O(queries × corpus) by definition; the
    * scale path is [[ivfTopK]].
    */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val corpus = withNorm(embeddings)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_n"), col("nrm").as("nrm_n"))
    val queries = withNorm(embeddings)
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("emb_q"), col("nrm").as("nrm_q"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Matryoshka-style truncated-dimension top-k: [[bruteForceTopK]] run
    * on only the FIRST `dims` coordinates of every vector. With
    * MRL-trained embeddings the information-dense prefix preserves most
    * of the ranking at dims/Dim of the dot-product cost and memory
    * bandwidth — the cheapest scale lever an embedding sweep has (a 4×
    * dimension cut is a 4× FLOP cut on every one of the corpus × query
    * dots, before any indexing). Gate a truncation with
    * [[recallAtK]] against the full-dimension baseline exactly like an
    * IVF index (q_ann_recall) before a corpus-wide sweep trusts it.
    * The slice is a per-row projection (zero shuffle added); everything
    * downstream — broadcast query side, per-query window — is the
    * baseline's plan on shorter arrays.
    */
  def truncatedTopK(
      embeddings: DataFrame, queryPred: Column, k: Int, dims: Int): DataFrame = {
    require(dims >= 1, "dims must be at least 1")
    bruteForceTopK(
      embeddings.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding")),
      queryPred, k)
  }

  /** IVF-style top-k: identical contract but each query only scans its
    * coarse cell. The cell is the SRP code over `cellBits` hyperplanes —
    * a real quantizer assignment (not a data label), derived from the
    * embedding alone, so it works on unlabeled corpora. The cell equi-join
    * key turns the cross product into a hash join; recall is bounded by
    * cell granularity (2^cellBits cells), the standard IVF trade.
    */
  def ivfTopK(
      embeddings: DataFrame,
      queryPred: Column,
      k: Int,
      cellBits: Int = 4): DataFrame = {
    val cells = withNorm(embeddings)
      .withColumn("cell", srpCode(col("embedding"), 0, cellBits))
    val corpus = cells
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding").as("emb_n"), col("nrm").as("nrm_n"))
    val queries = cells
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("cell"),
        col("embedding").as("emb_q"), col("nrm").as("nrm_q"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    corpus
      .join(broadcast(queries), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cell", "neighbor_id", "rank", "cosine")
  }

  /** Recall@k evaluation of an ANN result against the exact baseline —
    * the acceptance gate every approximate index (IVF cell bits, probe
    * count, PQ codebook size) is tuned against before a corpus-wide
    * semantic-dedup sweep trusts it. Both inputs use the top-k contract
    * of [[bruteForceTopK]]/[[ivfTopK]] (`query_id`, `neighbor_id`,
    * `rank`); per query: `n_hits` = |approx top-k ∩ exact top-k| and
    * `recall` = n_hits / k. Queries the approximate index returned
    * nothing for (empty probe cell) score 0, not absent — the exact side
    * defines the query universe.
    *
    * Scale shape: one (query_id, neighbor_id) equi-semi-join of two
    * ≤ |queries|·k tables and one keyed count — bounded by the probe set,
    * independent of corpus size.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val ex = exact.filter(col("rank") <= k).select("query_id", "neighbor_id")
    val ap = approx.filter(col("rank") <= k).select("query_id", "neighbor_id")
    val hits = ex.join(ap, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    ex.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
  }

  /** Per-label centroids of the embedding column — the building block for
    * IVF training, cluster auditing, and per-class drift checks. Shape:
    * `posexplode` each vector → one `(label, dim)` aggregation (a single
    * keyed shuffle of labels×dims rows, never whole vectors) → reassemble
    * the centroid array ordered by dimension.
    *
    * Determinism across engines/partitionings: per-(label,dim) values are
    * collected, SORTED, and left-folded — floating-point addition is not
    * associative, so a plain `avg` would hash differently run to run; the
    * sorted fold is bit-stable and the DuckDB oracle replays it.
    */
  def centroids(embeddings: DataFrame, label: Column): DataFrame =
    embeddings
      .select(label.as("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        aggregate(
          sort_array(collect_list(col("v").cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("s"))
      .withColumn("m", col("s") / col("n"))
      .groupBy(col("label"))
      .agg(
        max(col("n")).as("n_vectors"),
        transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          e => e.getField("m")).as("centroid"))

  /** Int8 scalar quantization of the embedding column — the 4× storage
    * compression a 100 TB embedding store runs on: per-vector affine code
    * x ≈ mn + scale·q with q ∈ [0, 255] and scale = (mx − mn)/255.
    * Pure per-row array HOFs, zero shuffle. Rounding is spelled
    * `floor(r + 0.5)` so every engine agrees bit-for-bit (round() ties
    * differ across engines); a constant vector (scale 0) codes to zeros.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding"),
        array_min(col("embedding")).cast("double").as("mn"),
        ((array_max(col("embedding")).cast("double") -
          array_min(col("embedding")).cast("double")) / 255.0).as("scale"))
      .select(col("vec_id"), col("mn"), col("scale"),
        when(col("scale") === 0.0,
          transform(col("embedding"), _ => lit(0L)))
          .otherwise(transform(col("embedding"), x =>
            floor((x.cast("double") - col("mn")) / col("scale") + 0.5).cast("long")))
          .as("codes"))

  /** Inverse of [[quantizeInt8]]: reconstruct float vectors with at most
    * scale/2 absolute error per element.
    */
  def dequantizeInt8(quantized: DataFrame): DataFrame =
    quantized.select(col("vec_id"),
      transform(col("codes"), c =>
        (col("mn") + c.cast("double") * col("scale")).cast("float")).as("embedding"))

  // ------------------------------------------------- learned IVF (k-means)

  /** Deterministic spherical k-means (Lloyd) for the IVF coarse quantizer
    * — the learned alternative to the data-independent SRP cells of
    * [[ivfTopK]] (adapts cell boundaries to the corpus distribution, the
    * standard FAISS-style IVF training step).
    *
    * Every source of nondeterminism is closed so training is reproducible
    * run-to-run and cluster-to-cluster:
    *   - init: the k vectors with the smallest h60(vec_id|salt) — a
    *     deterministic hash sample, no RNG state;
    *   - assignment: argmax dot(unit-centroid, v), ties to the larger cell
    *     index — pure per-row arithmetic on plan-time literal centroids;
    *   - update: per-(cell, dim) sums as DECIMAL(27,8) — exact, hence
    *     order- and partitioning-independent — then normalized on the
    *     driver. An emptied cell keeps its previous centroid.
    *
    * Per iteration: one narrow pass (k dot folds per row) + one
    * (cell × dim)-key aggregation shuffle; the driver only ever holds
    * k×dim doubles. Train on a hash-sample at 100 TB (quantizer quality
    * needs thousands of vectors per cell, not the full corpus).
    */
  def kmeansCentroids(
      embeddings: DataFrame,
      numCells: Int,
      iters: Int,
      salt: String = "ivf"): Array[Array[Double]] = {
    require(numCells > 0 && iters >= 0, "numCells/iters must be positive")
    import graft.functions.TextFunctions.h60
    val init = embeddings
      .orderBy(h60(concat(col("vec_id").cast("string"), lit(s"|$salt"))), col("vec_id"))
      .limit(numCells)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var cents = init.map(unit)
    for (_ <- 0 until iters) {
      val sums = embeddings
        .withColumn("cell", nearestCell(col("embedding"), cents))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("v").cast("decimal(27,8)")).cast("double").as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.groupBy(_.getAs[Int]("cell")).foreach { case (cell, rows) =>
        val c = new Array[Double](cents(cell).length)
        rows.foreach(r => c(r.getAs[Int]("dim")) = r.getAs[Double]("s") / r.getAs[Long]("n"))
        next(cell) = unit(c)
      }
      cents = next
    }
    cents
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Winning (s: dot, i: cell) struct — `array_max(cellScores(…))` as one
    * constant-carrying codegen loop (bit-exact contract in
    * [[graft.functions.expressions.NearestCellScore]]).
    */
  private[operators] def bestCell(emb: Column, cents: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.NearestCellScore(cents,
        org.apache.spark.sql.graft.ColumnBridge.expression(emb)))

  /** Top-nprobe cell ids, (score desc, cell desc) —
    * `transform(slice(reverse(array_sort(cellScores(…))), 1, k), _.i)` as
    * one constant-carrying codegen loop
    * ([[graft.functions.expressions.TopCells]]).
    */
  private[operators] def topCells(
      emb: Column, cents: Array[Array[Double]], k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.TopCells(cents, k,
        org.apache.spark.sql.graft.ColumnBridge.expression(emb)))

  /** Argmax cell for one embedding (struct max: score, then index). */
  private def nearestCell(emb: Column, cents: Array[Array[Double]]): Column =
    bestCell(emb, cents).getField("i")

  /** Enforcement for the broadcast query-serving shape's SMALL-PROBE
    * contract (a corpus-sized `queryPred` under the default
    * `broadcastQueries = true` would otherwise force-broadcast the corpus
    * — the hint bypasses Spark's size check, the same failure mode as
    * hinting an SF-scaling table), fused with the fetch the broadcast
    * needs anyway: ONE job over the probe side, each task returning at
    * most `cap + 1` post-explode rows. Within the cap the rows come back
    * as a local relation the callers broadcast, with the distinct probed
    * `cell`s read off the same rows (the literal `cell IN (...)` a
    * cell-partitioned store prunes its scan with), so the probe side is
    * never scanned twice. Past the cap (the driver has seen `cap + 1`
    * rows) the job is cancelled, the rows dropped, and None sends the
    * caller to the shuffled kNN-join sweep, which is result-identical
    * (same equi-join) and scale-safe. Driver memory stays bounded by the
    * cap plus the tasks already in flight at cancellation, the same order
    * as the broadcast itself. (`limit(cap + 1).collect()` would bound the
    * rows too, but scans in growing partition passes — one job each.)
    * With `broadcastQueries` off (the caller's sweep shape) nothing runs
    * and the answer is None.
    */
  private def fetchProbes(
      queries: DataFrame,
      cap: Int,
      broadcastQueries: Boolean): Option[(DataFrame, Seq[Any])] = {
    if (!broadcastQueries) return None // the caller asked for the sweep
    val spark = queries.sparkSession
    val rdd = queries.rdd
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    @volatile var over = false
    @volatile var job: Option[FutureAction[Unit]] = None
    val f = spark.sparkContext.submitJob(rdd,
      (it: Iterator[Row]) => it.take(cap + 1).toArray,
      rdd.partitions.indices,
      (_: Int, part: Array[Row]) => if (!over) {
        rows ++= part
        if (rows.size > cap) {
          over = true
          rows.clear()
          job.foreach(_.cancel())
        }
      },
      ())
    job = Some(f)
    if (over) f.cancel() // the cap tripped before `job` was set
    Await.ready(f, Duration.Inf)
    if (over) None
    else {
      f.value.get.get // a failed fetch surfaces as the caller's exception
      val cell = queries.schema.fieldIndex("cell")
      Some((spark.createDataFrame(rows.asJava, queries.schema),
        rows.map(_.get(cell)).distinct.toSeq))
    }
  }

  /** IVF top-k with the learned quantizer: corpus rows live in their
    * nearest-centroid cell; each query probes its `nprobe` best cells
    * (multi-probe — the standard recall knob) via an equi-join on the cell
    * id. `nprobe == numCells` degenerates to an exact full scan, which the
    * spec exploits as a brute-force equality check.
    *
    * `broadcastQueries` picks the join strategy for the two shapes this
    * operator serves — identical results either way (same equi-join):
    *   - true (default), the QUERY-SERVING shape: the probe set is small
    *     (≪ the ~10 MB broadcast threshold after the nprobe explode) and
    *     ships to every corpus partition — the corpus never shuffles.
    *     The small-probe contract is ENFORCED: one bounded fetch
    *     ([[fetchProbes]]) brings back at most `maxBroadcastProbes + 1`
    *     post-explode probe rows; within the cap those rows are what
    *     broadcasts, and anything over it automatically falls back to
    *     the sweep shape below — a forced broadcast hint bypasses Spark's
    *     size check, so an unguarded corpus-sized probe set would OOM
    *     every executor at scale;
    *   - false, the KNN-JOIN shape (the all-corpus semantic-dedup sweep a
    *     training pipeline runs, where "queries" IS the corpus and a
    *     broadcast would ship the whole corpus to every task): both sides
    *     hash-shuffle on the cell id. Shuffle parallelism is bounded by
    *     the number of distinct cells, so size `numCells` to the corpus
    *     (the standard IVF ~√N rule) — at 100 TB that is thousands of
    *     cells, far above any executor count; the 16-cell default is a
    *     test-scale setting, not the sweep setting.
    */
  def ivfTopKKmeans(
      embeddings: DataFrame,
      queryPred: Column,
      k: Int,
      numCells: Int = 16,
      iters: Int = 2,
      nprobe: Int = 4,
      broadcastQueries: Boolean = true,
      maxCellSize: Int = 4096,
      maxBroadcastProbes: Int = 4096): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCells, "nprobe must be in [1, numCells]")
    val cents = kmeansCentroids(embeddings, numCells, iters)
    ivfTopKWithCentroids(
      embeddings, queryPred, k, cents, nprobe, broadcastQueries, maxCellSize,
      maxBroadcastProbes)
  }

  /** [[ivfTopKKmeans]]' serving half against an ALREADY-TRAINED (or
    * [[loadIvfCentroids]]-restored) quantizer — the production shape: an
    * index is trained once, persisted with [[saveIvfIndex]], and every
    * later query job probes it without re-running Lloyd iterations over
    * the corpus.
    */
  def ivfTopKWithCentroids(
      embeddings: DataFrame,
      queryPred: Column,
      k: Int,
      cents: Array[Array[Double]],
      nprobe: Int,
      broadcastQueries: Boolean = true,
      maxCellSize: Int = 4096,
      maxBroadcastProbes: Int = 4096): DataFrame = {
    require(cents.nonEmpty, "centroids must be non-empty")
    require(nprobe >= 1 && nprobe <= cents.length, "nprobe must be in [1, numCells]")
    // pinned, not cached: the corpus and query sides both read the
    // normalized table, but a CacheManager entry would live for the app
    // — a long-lived service calling this repeatedly on changing corpora
    // accumulates pinned storage. The pin is released on the exit path
    // once the (top-k-sized) result is materialized.
    val e = Pins.pin(withNorm(embeddings))
    val corpus = e
      .withColumn("cell", nearestCell(col("embedding"), cents))
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding").as("emb_n"), col("nrm").as("nrm_n"))
    val queries = e
      .filter(queryPred)
      .select(col("vec_id").as("query_id"),
        explode(topCells(col("embedding"), cents, nprobe)).as("cell"),
        col("embedding").as("emb_q"), col("nrm").as("nrm_q"))
    // the small-probe contract is ENFORCED, not assumed: an oversized
    // probe set (counted post-explode, the actual broadcast payload)
    // falls back to the sweep join automatically — identical result
    val joined = fetchProbes(queries, maxBroadcastProbes, broadcastQueries) match {
      case Some((probes, _)) => corpus.join(broadcast(probes), Seq("cell"))
      // the kNN-join sweep gets semDedup's skew treatment: a mega-cell
      // (both sides corpus-sized under a duplicate-heavy quantizer) fans
      // out over the 2-D block grid instead of one |cell|·|probes| task
      case None => blockedCellJoin(corpus, "neighbor_id", queries, "query_id", maxCellSize)
    }
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val out = Pins.pin(joined
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine"))
    Pins.release(e)
    out
  }

  /** Corpus annotated with its IVF cell assignment (and norm) — the
    * STORED half of an IVF index. [[ivfTopKWithCentroids]] recomputes
    * this projection on every serve: O(N·numCells) centroid dots over
    * the full corpus per query batch, which is why its serve time grows
    * ~f^1.5 as the corpus scales under the √N cell rule (SCALE.md) —
    * fine for a one-shot sweep, wrong for a query service. Assigning
    * ONCE and persisting with [[saveIvfAssigned]] (partitioned by cell)
    * is what turns IVF from a join strategy into an index:
    * [[ivfTopKAssigned]] then reads only the probed cells' partitions.
    */
  def assignIvfCells(
      embeddings: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    require(cents.nonEmpty, "centroids must be non-empty")
    withNorm(embeddings)
      .withColumn("cell", nearestCell(col("embedding"), cents))
      .select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
  }

  /** [[ivfTopKWithCentroids]] served from a PRE-ASSIGNED corpus
    * ([[assignIvfCells]], usually [[loadIvfAssigned]]-restored) — the
    * true index-serve shape. Identical results to the in-line form by
    * construction (same probe explode, same equi-join, same exact-cosine
    * rank); what changes is the corpus-side work:
    *
    *   - no per-serve cell assignment — the O(N·numCells) centroid dots
    *     were paid once at build time;
    *   - on the small-probe broadcast path the probe side runs ONCE: the
    *     bounded fetch ([[fetchProbes]]) brings its rows to the driver,
    *     they broadcast as a local relation, and the probed cell ids read
    *     off the same rows are pushed as a literal `cell IN (...)`
    *     predicate — on a cell-PARTITIONED store that is a static
    *     partition filter, so the CORPUS side of the join reads only the
    *     probed cells (at 100 TB with √N cells, a 64-query nprobe=2 serve
    *     touches ~128 partitions of millions — that scan's cost follows
    *     the probe set, not the corpus). The QUERY-side lookup
    *     (`assigned.filter(queryPred)`) is the fetch's scan, pruned only
    *     by parquet pushdown of `queryPred`, not by cells — a real
    *     service that already holds its query vectors should pass them
    *     via [[ivfTopKAssignedWith]] and skip that store scan entirely;
    *   - the oversized-probe fallback is the same valved kNN-join sweep
    *     as the in-line form (a full-corpus sweep reads everything
    *     regardless, so there is nothing for pruning to save).
    */
  def ivfTopKAssigned(
      assigned: DataFrame,
      queryPred: Column,
      k: Int,
      cents: Array[Array[Double]],
      nprobe: Int,
      broadcastQueries: Boolean = true,
      maxCellSize: Int = 4096,
      maxBroadcastProbes: Int = 4096): DataFrame =
    ivfTopKAssignedWith(assigned,
      assigned.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k, cents, nprobe, broadcastQueries, maxCellSize, maxBroadcastProbes)

  /** [[ivfTopKAssigned]] against a CALLER-SUPPLIED query frame
    * `(query_id, embedding)` — the real service shape: a query
    * batch arrives with its vectors in hand, so nothing scans the store
    * to look them up and the only store I/O left is the probed-cell
    * corpus read. `query_id` shares the corpus `vec_id` namespace for
    * the self-exclusion filter (an id absent from the corpus simply
    * never matches it). The query-side `nrm` is derived per row from the
    * embedding — the same `norm(embedding)` the store's `nrm` holds.
    *
    * `excludeSelf = false` disables the id-based self-exclusion — the
    * EXTERNAL-query shape, where query ids are request-local (batch
    * positions) and comparing them against corpus `vec_id`s would
    * wrongly drop a real neighbor that happens to share the number; an
    * external query identical to a stored vector then simply retrieves
    * it at rank 1, cosine 1.
    */
  def ivfTopKAssignedWith(
      assigned: DataFrame,
      queryVecs: DataFrame,
      k: Int,
      cents: Array[Array[Double]],
      nprobe: Int,
      broadcastQueries: Boolean = true,
      maxCellSize: Int = 4096,
      maxBroadcastProbes: Int = 4096,
      excludeSelf: Boolean = true): DataFrame = {
    require(cents.nonEmpty, "centroids must be non-empty")
    require(nprobe >= 1 && nprobe <= cents.length, "nprobe must be in [1, numCells]")
    val corpus = assigned
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding").as("emb_n"), col("nrm").as("nrm_n"))
    val queries = withNorm(queryVecs)
      .select(col("query_id"),
        explode(topCells(col("embedding"), cents, nprobe)).as("cell"),
        col("embedding").as("emb_q"), col("nrm").as("nrm_q"))
    val joined = fetchProbes(queries, maxBroadcastProbes, broadcastQueries) match {
      case Some((probes, cells)) =>
        corpus.filter(col("cell").isin(cells: _*))
          .join(broadcast(probes), Seq("cell"))
      case None => blockedCellJoin(corpus, "neighbor_id", queries, "query_id", maxCellSize)
    }
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    (if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id"))
     else joined)
      .withColumn("cosine", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  // ------------------------------------------------- product quantization

  /** Product-quantization codebooks (the FAISS-style PQ training step):
    * split the `Dim` dims into `m` contiguous subspaces of Dim/m dims and
    * k-means `ksub` centroids per subspace — ALL subspaces in one joint
    * Lloyd loop. The cell key is (subspace, code), so each iteration is
    * one narrow pass + ONE (s, code, dim)-keyed aggregation regardless of
    * m, and the driver only ever holds ksub·Dim doubles.
    *
    * Deterministic exactly like [[kmeansCentroids]]: hash-sample init
    * (every subspace seeds from the same ksub sampled vectors), exact
    * DECIMAL sums, assignment ties to the larger code, emptied codes keep
    * their previous centroid. Train on a hash-sample at 100 TB.
    */
  def pqCodebooks(
      embeddings: DataFrame,
      m: Int,
      ksub: Int,
      iters: Int,
      salt: String = "pq"): Array[Array[Array[Double]]] = {
    require(m > 0 && Dim % m == 0, s"m must divide $Dim")
    require(ksub > 0 && iters >= 0, "ksub/iters must be positive")
    import graft.functions.TextFunctions.h60
    val sub = Dim / m
    val seed = embeddings
      .orderBy(h60(concat(col("vec_id").cast("string"), lit(s"|$salt"))), col("vec_id"))
      .limit(ksub)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(seed.nonEmpty,
      "PQ training set is empty — widen trainFrac or check the input")
    var books = Array.tabulate(m)(s => seed.map(v => v.slice(s * sub, (s + 1) * sub)))
    for (_ <- 0 until iters) {
      // all-subspace assignment in one NearestCodes loop (codebooks ride
      // as a reference object, so each Lloyd step reuses the SAME
      // compiled stage instead of re-janino-compiling a fresh
      // bias-literal when-chain); the per-(s, code, dim) decimal sums
      // are unchanged addend-for-addend
      val sums = embeddings
        .select(nearestCodesCol(books, col("embedding")).as("cds"), col("embedding"))
        .select(explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), element_at(col("cds"), s + 1).as("code"),
            slice(col("embedding"), s * sub + 1, sub).as("v"))): _*)).as("sv"))
        .select(col("sv.s").as("s"), col("sv.code").as("code"),
          posexplode(col("sv.v")).as(Seq("dim", "x")))
        .groupBy(col("s"), col("code"), col("dim"))
        .agg(sum(col("x").cast("decimal(27,8)")).cast("double").as("sm"),
          count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.groupBy(r => (r.getAs[Int]("s"), r.getAs[Int]("code"))).foreach {
        case ((s, c), rows) =>
          val cent = new Array[Double](sub)
          rows.foreach(r =>
            cent(r.getAs[Int]("dim")) = r.getAs[Double]("sm") / r.getAs[Long]("n"))
          next(s)(c) = cent
      }
      books = next
    }
    books
  }

  /** All m PQ codes of a full embedding in one expression —
    * [[graft.functions.expressions.NearestCodes]] (bit-exact contract in
    * its scaladoc: DotFold order, same bias, ties to the larger code).
    */
  private[operators] def nearestCodesCol(
      books: Array[Array[Array[Double]]], emb: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.NearestCodes(books,
        org.apache.spark.sql.graft.ColumnBridge.expression(emb)))

  /** ADC score of a query embedding against a stored code vector —
    * [[graft.functions.expressions.AdcScore]] (bit-exact contract in its
    * scaladoc: per-subspace DotFold folds, left-to-right subspace sum).
    */
  private[operators] def adcScore(
      books: Array[Array[Array[Double]]], emb: Column, codes: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.AdcScore(books,
        org.apache.spark.sql.graft.ColumnBridge.expression(emb),
        org.apache.spark.sql.graft.ColumnBridge.expression(codes)))

  /** PQ encode: the m codes per vector — m bytes of payload per row
    * against 4·Dim for float32 (32× at m=8, Dim=64). This is the table a
    * 100 TB ANN deployment materializes once and scans instead of the
    * embeddings.
    */
  def pqEncode(
      embeddings: DataFrame, books: Array[Array[Array[Double]]]): DataFrame =
    embeddings.select(col("vec_id"),
      nearestCodesCol(books, col("embedding")).as("codes"))

  /** Deterministic hash-gate training sample for PQ/IVF codebook training:
    * codebook quality needs a sample, not the corpus — the gate keeps
    * training reproducible while the Lloyd passes scan trainFrac of the
    * data. 2^20 buckets so fractions down to ~1e-6 (the honest 100 TB
    * setting: ~1e5 of 1e11 vectors) stay expressible instead of rounding
    * to an empty training set.
    */
  def pqTrainSet(embeddings: DataFrame, trainFrac: Double): DataFrame = {
    require(trainFrac > 0 && trainFrac <= 1, "trainFrac in (0,1]")
    if (trainFrac >= 1.0) embeddings
    else {
      import graft.functions.TextFunctions.h60
      val cut = math.max(1L, math.round(trainFrac * 1048576.0))
      embeddings.filter(
        pmod(h60(concat(col("vec_id").cast("string"), lit("|pqtrain"))),
          lit(1048576L)) < lit(cut))
    }
  }

  /** IVF-PQ top-k: SRP coarse cells block the candidates (as [[ivfTopK]]),
    * but the candidate side carries ONLY (cell, vec_id, codes) — the
    * 32×-smaller PQ representation, which is the actual scan/IO win at
    * 100 TB — and is scored by asymmetric distance (ADC):
    * adc = Σ_s dot(q_s, books(s)(code_s)). The `rerank` best candidates
    * per query then join back to the full vectors for exact cosine — the
    * standard two-stage recall repair, a k-bounded join.
    *
    * (A real deployment materializes [[pqEncode]] once; here the codes
    * are computed inline so the operator is self-contained.)
    */
  def pqTopK(
      embeddings: DataFrame,
      queryPred: Column,
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
      cellBits: Int = 4,
      rerank: Int = 32,
      trainFrac: Double = 1.0): DataFrame = {
    val books = pqCodebooks(pqTrainSet(embeddings, trainFrac), m, ksub, iters)
    pqTopKWithBooks(embeddings, queryPred, k, books, cellBits, rerank)
  }

  /** [[pqTopK]] with caller-supplied codebooks — the deployment shape (a
    * real 100 TB ANN store trains once and reuses the artifacts), and the
    * hook that lets the correctness gate replay the LEARNED books in the
    * DuckDB oracle as plan-time literals. `broadcastQueries` as in
    * [[ivfTopKKmeans]]: default = small-probe query serving (broadcast
    * bounded by the probe set); false = the kNN-join sweep shape, both
    * sides shuffled on the SRP cell (size `cellBits` so 2^cellBits keeps
    * the shuffle parallel — the 100 TB setting is tens of bits).
    */
  def pqTopKWithBooks(
      embeddings: DataFrame,
      queryPred: Column,
      k: Int,
      books: Array[Array[Array[Double]]],
      cellBits: Int = 4,
      rerank: Int = 32,
      broadcastQueries: Boolean = true,
      maxBroadcastProbes: Int = 4096): DataFrame = {
    require(rerank >= k, "rerank must be at least k")
    val corpus = embeddings.select(col("vec_id").as("neighbor_id"),
      srpCode(col("embedding"), 0, cellBits).as("cell"),
      nearestCodesCol(books, col("embedding")).as("codes"))
    val queries = withNorm(embeddings)
      .filter(queryPred)
      .select(col("vec_id").as("query_id"),
        srpCode(col("embedding"), 0, cellBits).as("cell"),
        col("embedding").as("emb_q"), col("nrm").as("nrm_q"))
    val adc = adcScore(books, col("emb_q"), col("codes"))
    val wA = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id"))
    val wE = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    corpus
      // small-probe contract enforced as in [[ivfTopKWithCentroids]]: an
      // oversized probe set falls back to the shuffled sweep join
      .join(
        fetchProbes(queries, maxBroadcastProbes, broadcastQueries)
          .map(p => broadcast(p._1)).getOrElse(queries),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
      .join(withNorm(embeddings).select(col("vec_id").as("neighbor_id"),
        col("embedding").as("emb_n"), col("nrm").as("nrm_n")), Seq("neighbor_id"))
      .withColumn("cosine", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Corpus compressed to its PQ codes — the STORED half of a PQ index
    * and the compression that makes PQ worth it: one (cell, m codes) row
    * per vector instead of `Dim` floats (m bytes vs Dim·4 at byte codes —
    * 32× here). [[pqTopKWithBooks]] re-derives this projection on every
    * serve (m·ksub sub-space dots per corpus row); encoding once and
    * persisting with [[savePqCodes]] (partitioned by cell) moves that to
    * build time, and [[pqTopKWithCodes]] serves ADC over the stored
    * codes alone — the raw embedding table is touched only by the final
    * `rerank`-sized exact-cosine join.
    */
  def encodePqCodes(
      embeddings: DataFrame,
      books: Array[Array[Array[Double]]],
      cellBits: Int = 4,
      keepEmbedding: Boolean = false): DataFrame = {
    require(books.nonEmpty && Dim % books.length == 0, s"m must divide $Dim")
    // keepEmbedding carries the raw vector beside the codes so a caller
    // that needs BOTH the code table and a coordinate-sum aggregate
    // (retrainPqStore's fresh sub_stats) pays one quantizer pass
    embeddings.select(Seq(col("vec_id"),
      srpCode(col("embedding"), 0, cellBits).as("cell"),
      nearestCodesCol(books, col("embedding")).as("codes")) ++
      (if (keepEmbedding) Seq(col("embedding")) else Nil): _*)
  }

  /** [[pqTopKWithBooks]] served from PRE-ENCODED codes
    * ([[encodePqCodes]], usually [[loadPqCodes]]-restored) — identical
    * results by construction (same SRP cell join, same ADC order, same
    * exact re-rank). The corpus-side per-serve work drops from m·ksub
    * sub-space dots per row to reading m stored bytes; on the
    * small-probe broadcast path the query cells are pushed as a literal
    * `cell IN (...)` predicate, so a cell-partitioned code store scans
    * only probed partitions (same pruning argument as
    * [[ivfTopKAssigned]]). `embeddings` supplies the query vectors and
    * the `rerank`-sized exact-cosine verification join only.
    */
  def pqTopKWithCodes(
      codes: DataFrame,
      embeddings: DataFrame,
      queryPred: Column,
      k: Int,
      books: Array[Array[Array[Double]]],
      cellBits: Int = 4,
      rerank: Int = 32,
      broadcastQueries: Boolean = true,
      maxBroadcastProbes: Int = 4096): DataFrame =
    pqTopKCodesWith(codes, embeddings,
      embeddings.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k, books, cellBits, rerank, broadcastQueries, maxBroadcastProbes)

  /** [[pqTopKWithCodes]] against a CALLER-SUPPLIED query frame
    * `(query_id, embedding)` — the external-query PQ serve shape
    * ([[ivfTopKAssignedWith]]'s PQ twin): a query batch arrives with its
    * vectors in hand, nothing scans anything to look them up, and the
    * only corpus I/O is the probed-cell code read plus the
    * `rerank`-sized exact-cosine join against `embeddings`. `excludeSelf`
    * carries [[ivfTopKAssignedWith]]'s contract: off for request-local
    * query ids (an external query identical to a stored vector retrieves
    * it at rank 1, cosine 1).
    */
  def pqTopKCodesWith(
      codes: DataFrame,
      embeddings: DataFrame,
      queryVecs: DataFrame,
      k: Int,
      books: Array[Array[Array[Double]]],
      cellBits: Int = 4,
      rerank: Int = 32,
      broadcastQueries: Boolean = true,
      maxBroadcastProbes: Int = 4096,
      excludeSelf: Boolean = true): DataFrame = {
    require(rerank >= k, "rerank must be at least k")
    val corpus = codes.select(col("vec_id").as("neighbor_id"),
      col("cell"), col("codes"))
    val queries = withNorm(queryVecs)
      .select(col("query_id"),
        srpCode(col("embedding"), 0, cellBits).as("cell"),
        col("embedding").as("emb_q"), col("nrm").as("nrm_q"))
    val adc = adcScore(books, col("emb_q"), col("codes"))
    val joined = fetchProbes(queries, maxBroadcastProbes, broadcastQueries) match {
      case Some((probes, cells)) =>
        corpus.filter(col("cell").isin(cells: _*))
          .join(broadcast(probes), Seq("cell"))
      case None => corpus.join(queries, Seq("cell"))
    }
    val wA = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id"))
    val wE = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    (if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id"))
     else joined)
      .withColumn("adc", adc)
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
      .join(withNorm(embeddings).select(col("vec_id").as("neighbor_id"),
        col("embedding").as("emb_n"), col("nrm").as("nrm_n")), Seq("neighbor_id"))
      .withColumn("cosine", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Embedding-cosine near-duplicate pairs via SRP-LSH banding: planes
    * [0, bands·rowsPerBand) are split into `bands` bands of `rowsPerBand`
    * sign bits; vector pairs colliding in any band become candidates and
    * are verified with exact cosine ≥ threshold — so the output contains
    * no false positives and the enumeration is an equi-join on
    * (band, signature), never a cartesian product. Recall is the standard
    * LSH S-curve: pick wider bands (larger rowsPerBand) for higher
    * thresholds; at near-dup thresholds (≥0.9) a handful of 8-bit bands
    * give ~full recall with vanishing collision noise.
    */
  def nearDupPairs(
      embeddings: DataFrame,
      threshold: Double,
      bands: Int = 6,
      rowsPerBand: Int = 4): DataFrame = {
    // pinned, not cached: norms feed candidate verification on both pair
    // sides, and the SRP band table feeds both sides of the candidate
    // self-join — materializing both keeps each hyperplane fold at
    // once-per-vector, and the pins release on the exit path (a
    // CacheManager entry would outlive the call and accumulate across
    // invocations on changing corpora)
    val e = Pins.pin(withNorm(embeddings))
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        srpCode(col("embedding"), b * rowsPerBand, rowsPerBand).as("sig"))
    }
    val banded = Pins.pin(e
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig")))
    val cand = banded
      .as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val out = Pins.pin(cand
      .join(ea, "vec_a")
      .join(eb, "vec_b")
      .withColumn("cosine", dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine"))
    Pins.release(banded)
    Pins.release(e)
    out
  }

  /** Semantic decontamination: drop TRAIN vectors whose embedding-cosine
    * vs ANY eval vector reaches `tau` — the embedding-side complement to
    * [[Curate.decontaminate]]'s exact/n-gram text matching (catches eval
    * paraphrases and re-encodings that share no n-grams, the leakage mode
    * n-gram decontamination can't see). Candidates come from the same
    * SRP-LSH banding as [[nearDupPairs]], but as a BIPARTITE train×eval
    * band join — never a cartesian product — and each candidate is
    * verified with exact cosine before a train row is dropped (no false
    * drops; recall is the LSH S-curve, tuned by bands/rowsPerBand).
    *
    * Scale shape: the eval side is a benchmark suite — thousands of rows
    * vs a 100 TB corpus — so its band table and vectors BROADCAST; the
    * train side is touched by one banding projection and one hash-join
    * probe, no train-side self-join anywhere. Returns the surviving train
    * rows (original columns).
    */
  def decontaminateSemantic(
      train: DataFrame,
      evalCorpus: DataFrame,
      tau: Double,
      bands: Int = 6,
      rowsPerBand: Int = 4): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        srpCode(col("embedding"), b * rowsPerBand, rowsPerBand).as("sig"))
    }
    def banded(df: DataFrame, idAs: String) = df
      .select(col("vec_id").as(idAs), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idAs), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val t = withNorm(train)
      .select(col("vec_id").as("t_id"), col("embedding").as("emb_t"),
        col("nrm").as("nrm_t"))
    val ev = withNorm(evalCorpus)
      .select(col("vec_id").as("e_id"), col("embedding").as("emb_e"),
        col("nrm").as("nrm_e"))
    val cand = banded(train, "t_id")
      .join(broadcast(banded(evalCorpus, "e_id")), Seq("band", "sig"))
      .select("t_id", "e_id")
      .distinct()
    val hit = cand
      .join(t, "t_id")
      .join(broadcast(ev), "e_id")
      .filter(dot(col("emb_t"), col("emb_e")) / (col("nrm_t") * col("nrm_e")) >= tau)
      .select("t_id")
      .distinct()
    train.join(hit, train("vec_id") === hit("t_id"), "left_anti")
  }

  // ------------------------------------------------- semantic dedup

  /** Cell-size valve for the within-cell self-joins ([[semDedup]],
    * [[mutualKnn]]): 2-D blocked pair enumeration. A plain equi-join on
    * `cell` sends EVERY row of a cell to one shuffle partition, so one
    * duplicate-heavy mega-cell — precisely the input a dedup pass
    * receives — enumerates |cell|² pairs in a single task. The valve
    * splits each cell into `s = ⌈|cell| / maxCellSize⌉` deterministic
    * hash groups and fans the pair space over the s² (ga, gb) blocks:
    * side a replicates each row across its gb row-block, side b across
    * its ga column-block, and the equi-join on (cell, ga, gb) lands
    * every ordered pair in EXACTLY one block — (ga(x), gb(y)) — so the
    * output pair set is identical to the plain cell join (no re-verify
    * or dedup needed) while per-task work drops from |cell|² to
    * ~maxCellSize². The bound is IN EXPECTATION: rows land in groups by
    * h60(vec_id) hash, so group sizes concentrate tightly around
    * |cell|/s (Chernoff) but an adversarial id set could exceed it — a
    * hard guarantee would need a row_number round-robin split, i.e. an
    * extra per-cell window shuffle, not worth it for a skew VALVE whose
    * job is turning one |cell|²-task into s² comparable ones. Normal-size
    * cells have s = 1 and degenerate to the unvalved single-block join.
    *
    * Input: one row per vector with (vec_id, cell, embedding, nrm).
    * Output: the ordered-pair join frame (cell, vec_a, emb_a, nrm_a,
    * vec_b, emb_b, nrm_b) — callers apply their own diagonal filter
    * (`<` for unordered sweeps, `=!=` for kNN) and cosine predicate.
    */
  private def blockedCellPairs(e: DataFrame, maxCellSize: Int): DataFrame = {
    require(maxCellSize >= 1, "maxCellSize must be at least 1")
    import graft.functions.TextFunctions.h60
    val hist = e.groupBy(col("cell"))
      .agg(count(lit(1)).as("cn"))
      // ceil in exact integer arithmetic: (cn + m - 1) div m — never a
      // double division, which could misround for corpus-scale counts
      .select(col("cell"),
        call_function("div",
          col("cn") + lit(maxCellSize.toLong - 1L),
          lit(maxCellSize.toLong)).as("nsplit"))
    val g = e.join(broadcast(hist), Seq("cell"))
      .withColumn("grp", pmod(h60(col("vec_id").cast("string")), col("nsplit")))
    // nsplit >= 1 always (cells in e are non-empty), so sequence(0, nsplit-1)
    // never hits the descending-range hazard of a negative upper bound
    val a = g.select(col("cell"), col("grp").as("ga"),
      explode(sequence(lit(0L), col("nsplit") - 1L)).as("gb"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = g.select(col("cell"),
      explode(sequence(lit(0L), col("nsplit") - 1L)).as("ga"),
      col("grp").as("gb"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("cell", "ga", "gb")).drop("ga", "gb")
  }

  /** Bipartite twin of [[blockedCellPairs]] for two-table cell equi-joins
    * (the kNN-join sweep of [[ivfTopKWithCentroids]]): each side's cell
    * membership splits into `⌈|cell side|/maxCellSize⌉` hash groups, side
    * a replicates across b's group range and vice versa, and the
    * (cell, ga, gb) equi-join lands every cross pair in exactly one
    * block — output identical to the plain `join(..., Seq("cell"))`,
    * per-task work ~maxCellSize² in expectation (same softened bound as
    * the self-join valve). The per-side split histograms are
    * numCells-sized broadcasts. Cells present on only one side drop out
    * of the histogram inner joins exactly as they would from the plain
    * equi-join.
    */
  private def blockedCellJoin(
      a: DataFrame, aId: String,
      b: DataFrame, bId: String,
      maxCellSize: Int): DataFrame = {
    require(maxCellSize >= 1, "maxCellSize must be at least 1")
    import graft.functions.TextFunctions.h60
    def splitsOf(df: DataFrame, name: String) = df
      .groupBy(col("cell")).agg(count(lit(1)).as("cn"))
      .select(col("cell"),
        call_function("div",
          col("cn") + lit(maxCellSize.toLong - 1L),
          lit(maxCellSize.toLong)).as(name))
    val sa = splitsOf(a, "nsa")
    val sb = splitsOf(b, "nsb")
    val aa = a.join(broadcast(sa), Seq("cell")).join(broadcast(sb), Seq("cell"))
      .withColumn("bga", pmod(h60(col(aId).cast("string")), col("nsa")))
      .withColumn("bgb", explode(sequence(lit(0L), col("nsb") - 1L)))
      .drop("nsa", "nsb")
    val bb = b.join(broadcast(sa), Seq("cell")).join(broadcast(sb), Seq("cell"))
      .withColumn("bgb", pmod(h60(col(bId).cast("string")), col("nsb")))
      .withColumn("bga", explode(sequence(lit(0L), col("nsa") - 1L)))
      .drop("nsa", "nsb")
    aa.join(bb, Seq("cell", "bga", "bgb")).drop("bga", "bgb")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop documents whose
    * embeddings are near-duplicates of a LOWER-id document in the same
    * k-means cell — the "semantic" complement to the lexical MinHash/
    * SimHash passes (catches paraphrases and re-encodings that share no
    * n-grams). Within-cell-only comparison is the paper's cost model:
    * clustering first makes the sweep O(Σ|cell|²) instead of O(N²), and
    * cross-cell near-dups are rare by construction (they'd sit on a cell
    * boundary).
    *
    * Keep rule: a vector is dropped iff some SMALLER vec_id in its cell
    * has cosine ≥ tau with it — deterministic (no dependence on join or
    * iteration order), single-pass, and exactly replayable in SQL, unlike
    * the paper's "keep the one farthest from the centroid" which needs a
    * float argmin tie-break per cluster.
    *
    * Scale shape: one narrow assignment pass over plan-time literal
    * centroids, one hash shuffle on `cell`, per-cell pair enumeration
    * bounded by the cell histogram — size `numCells` ~ √N (same knob as
    * [[ivfTopKKmeans]]) and train on a hash-sample so the AVERAGE cell
    * is small; `maxCellSize` is the hard valve for the skewed tail (a
    * duplicate-heavy corpus concentrates mass into one cell): cells
    * above it run through [[blockedCellPairs]]' 2-D split, so no task
    * ever enumerates more than maxCellSize² pairs and the output is
    * unchanged. Output: every vector with its cell and a `kept` flag
    * (callers filter `kept` to materialize the surviving corpus).
    */
  def semDedup(
      embeddings: DataFrame,
      centroids: Array[Array[Double]],
      tau: Double,
      maxCellSize: Int = 4096): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val e = withNorm(embeddings)
      .withColumn("cell", nearestCell(col("embedding"), centroids))
      .select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
    val dropped = blockedCellPairs(e, maxCellSize)
      .filter(col("vec_a") < col("vec_b"))
      .filter(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")) >= tau)
      .select(col("vec_b").as("vec_id"))
      .distinct()
      .withColumn("drop", lit(true))
    e.select(col("vec_id"), col("cell"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(!col("drop"), lit(true)).as("kept"))
  }

  /** Mergeable per-cell assignment state for incremental IVF/k-means
    * maintenance: one row per (cell, dim) with the member count and the
    * exact-DECIMAL coordinate sum. Sketch-family contract
    * ([[graft.operators.Sketches]]): states of disjoint batches merge by
    * plain addition into EXACTLY the one-shot state of the union — the
    * DECIMAL(27,6) sums are order-independent, so a streaming ingest
    * keeps the table current per micro-batch (cells·dim rows of
    * metadata) and refreshes centroids (sum/n) without ever re-scanning
    * history. The drift readout (refreshed vs. training centroids) is
    * the signal that schedules an index re-train.
    */
  def cellStats(
      embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    embeddings
      .withColumn("cell", nearestCell(col("embedding"), centroids))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        // widen float→double FIRST (exact); a direct float→decimal cast
        // rounds the float's SHORTEST decimal form, which can land on the
        // other side of a 6th-decimal boundary than the exact binary
        // value another engine rounds
        sum(col("v").cast("double").cast("decimal(27,6)")).as("s"))

  /** [[cellStats]] over a frame that ALREADY carries its cell assignment
    * (an [[assignIvfCells]] output or a read-back `assigned` store) —
    * identical state by construction (same cells, same exact-DECIMAL
    * coordinate sums), but the O(N·numCells) nearestCell pass is not
    * recomputed: the one-scan half of [[retrainIvfStore]], where the
    * fresh stats derive from the just-rewritten store instead of a
    * second full assignment scan.
    */
  def cellStatsFromAssigned(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v").cast("double").cast("decimal(27,6)")).as("s"))

  /** Merge two [[cellStats]] tables: counts and exact-DECIMAL sums add —
    * merged state ≡ the one-shot state of the concatenated inputs.
    */
  def mergeCellStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))

  /** Per-dimension first and second moments of the embedding column —
    * the feature-normalization / drift-monitoring state (mean and
    * variance per coordinate derive on read: μ = s/n,
    * σ² = s2/n − μ²). Same exactness discipline as [[cellStats]]: each
    * float widens to double EXACTLY, v² is exact in double too (24-bit
    * significands square into ≤48 bits), and both sum as DECIMAL(27,6)
    * so the state is order-independent and engine-portable. Mergeable
    * by construction ([[mergeMoments]]: counts and sums add), so a
    * streaming ingest maintains it per micro-batch and a scheduled job
    * diffs it against a released snapshot for drift.
    *
    * Scale shape: one posexplode into a (dim)-keyed aggregation —
    * dims×N narrow rows through a map-side-combinable sum, output is
    * `dims` rows. No window, no join.
    */
  def embeddingMoments(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v").cast("double").cast("decimal(27,6)")).as("s"),
        sum((col("v").cast("double") * col("v").cast("double"))
          .cast("decimal(27,6)")).as("s2"))

  /** Merge two [[embeddingMoments]] tables (counts and sums add). */
  def mergeMoments(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("dim"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("s2")).as("s2"))

  /** Refreshed centroid coordinates from a [[cellStats]] table: the mean
    * of the members seen so far, one double division per (cell, dim).
    */
  def centroidsFromStats(stats: DataFrame): DataFrame =
    stats.select(col("cell"), col("dim"),
      (col("s").cast("double") / col("n").cast("double")).as("c"))

  /** Mutual-kNN (reciprocal nearest neighbor) pair mining: pairs
    * (vec_a < vec_b) where each vector is in the OTHER's within-cell
    * exact top-k by cosine — the high-precision near-duplicate /
    * alignment pair set (one-sided kNN admits hubs: a popular vector
    * appears in thousands of top-k lists it does not reciprocate;
    * mutuality suppresses exactly those). The classic RNN criterion of
    * the image-dedup and bitext-mining literature, restricted to learned
    * k-means cells with [[semDedup]]'s cost model.
    *
    * Scale shape: the pair enumeration runs through
    * [[blockedCellPairs]]' cell-size valve (per-task work ≤
    * maxCellSize² even under a mega-cell), then a per-vector top-k
    * window (partitioned by vector — group size ≤ cell size, never
    * global), and a self-equi-join of the k·N top-k rows on the swapped
    * pair — no all-pairs stage anywhere. Deterministic: ties in the
    * top-k break by neighbor id.
    */
  def mutualKnn(
      embeddings: DataFrame,
      centroids: Array[Array[Double]],
      k: Int,
      maxCellSize: Int = 4096): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(k >= 1, "k must be at least 1")
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(embeddings)
      .withColumn("cell", nearestCell(col("embedding"), centroids))
      .select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
    // pinned: BOTH sides of the reciprocity self-join read the top-k
    // table, and a self-join gets zero ReusedExchange (measured: 8
    // Generate nodes in the unpinned plan — the whole blocked pair
    // enumeration ran twice); the pin is N·k rows, the enumeration it
    // saves is Σ|cell|²
    val top = Pins.pin(blockedCellPairs(e, maxCellSize)
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_a"))
          .orderBy(col("cosine").desc, col("vec_b"))))
      .filter(col("rnk") <= k)
      .select(col("vec_a"), col("vec_b"), col("cosine")))
    top.as("x")
      .join(top.as("y"),
        col("x.vec_a") === col("y.vec_b") && col("x.vec_b") === col("y.vec_a"))
      .filter(col("x.vec_a") < col("x.vec_b"))
      .select(col("x.vec_a").as("vec_a"), col("x.vec_b").as("vec_b"),
        col("x.cosine").as("cosine"))
  }

  /** Hard-negative mining for contrastive training data — the batch-
    * construction step of DPR (Karpukhin et al. 2020, arXiv:2004.04906)
    * and the triplet-selection intuition of FaceNet's "semi-hard"
    * negatives (Schroff et al. 2015, arXiv:1503.03832): for each anchor
    * vector, the k most-similar SAME-CELL vectors whose cosine is BELOW
    * the duplicate threshold `tauDup` — near enough to be informative
    * negatives, far enough not to be latent positives (the semDedup
    * threshold re-appears as the exclusion bound: anything ≥ tauDup is a
    * near-duplicate, poison in a negative set). Within-cell only, by the
    * same cost model as [[semDedup]]/[[mutualKnn]]: the informative
    * negatives ARE the same-cell neighbors — cross-cell vectors are the
    * easy negatives random sampling already provides for free.
    *
    * Output (anchor_id, negative_id, cosine, rank), rank 1..≤k per
    * anchor (anchors whose cell holds fewer than k sub-threshold
    * neighbors yield fewer rows; singleton cells yield none), ties by
    * negative id — fully deterministic.
    *
    * Scale shape: [[mutualKnn]] minus the reciprocity join — one
    * [[blockedCellPairs]] enumeration (mega-cells valved at
    * maxCellSize²-expected per-task work), one per-anchor top-k window
    * (group ≤ cell size, never global).
    */
  def hardNegatives(
      embeddings: DataFrame,
      centroids: Array[Array[Double]],
      tauDup: Double,
      k: Int,
      maxCellSize: Int = 4096): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(k >= 1, "k must be at least 1")
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(embeddings)
      .withColumn("cell", nearestCell(col("embedding"), centroids))
      .select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
    blockedCellPairs(e, maxCellSize)
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a").as("anchor_id"), col("vec_b").as("negative_id"),
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cosine"))
      .filter(col("cosine") < tauDup)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("cosine").desc, col("negative_id"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Distance-to-centroid prototypicality scoring — the SemDeDup paper's
    * third readout (alongside the dedup sweep and the drift signal):
    * each vector's cosine to its OWN cell centroid measures how
    * prototypical it is of its semantic cluster. Low scores are either
    * novel content (keep for diversity) or embedding-space noise (drop);
    * both of the paper's keep policies (keep-nearest, keep-farthest)
    * read exactly this score, and it is the standard embedding-space
    * quality filter over a learned index.
    *
    * Determinism: score = dot(centroid, v) / (‖centroid‖·‖v‖) with the
    * strict left-fold [[dot]] and a left-fold driver norm — within the
    * engine the doubles are exactly reproducible. Cross-engine they are
    * checked through a floor-ppm surrogate (q_cell_outliers): DuckDB
    * sums dots against CONSTANT vectors in a different kernel order than
    * against table columns (measured 2-4 ulp drift on every constant
    * shape), so raw doubles hash only when both dot operands are table
    * columns — here one side is a literal centroid, hence the surrogate.
    * Scale shape: one narrow pass over plan-time literal centroids — the
    * k dots per row are computed ONCE: the score array that decides the
    * assignment is materialized as its own projection (multi-referenced
    * non-cheap expressions survive CollapseProject) and its argmax struct
    * yields both the cell and the winning dot, which a literal-norm
    * lookup turns into the cosine. No joins, no shuffle beyond the
    * caller's sort. Arithmetic is unchanged vs. scoring separately:
    * same DotFold value, same nrmC·nrm-then-divide order.
    */
  def cellOutliers(
      embeddings: DataFrame,
      centroids: Array[Array[Double]],
      tau: Double): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val normsC = centroids.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
    withNorm(embeddings)
      .withColumn("best", bestCell(col("embedding"), centroids))
      .withColumn("cell", col("best").getField("i"))
      .withColumn("proto_cosine",
        col("best").getField("s") /
          (element_at(typedLit(normsC.toSeq), col("cell") + 1) * col("nrm")))
      .select(col("vec_id"), col("cell"), col("proto_cosine"),
        (col("proto_cosine") < tau).as("outlier"))
  }

  /** Per-cell label purity — the clustering-vs-labels agreement readout
    * (the homogeneity half of V-measure, Rosenberg & Hirschberg 2007,
    * reported per cell instead of corpus-averaged so the IMPURE cells are
    * actionable): for each learned cell, its size, majority label, and
    * majority share in exact integer ppm. Low-purity cells localize
    * label noise or genuinely mixed semantic regions — the slices a
    * curation run sends to [[knnLabelAudit]] / review first. Ties break
    * to the SMALLER label (deterministic). Expects a `label` column.
    *
    * Scale shape: one narrow assignment pass, one (cell, label)-keyed
    * count, one per-cell argmax window over ≤ |labels| rows per cell —
    * output is numCells rows.
    */
  def cellPurity(
      embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val counts = embeddings
      .withColumn("cell", nearestCell(col("embedding"), centroids))
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cell"))
          .orderBy(col("cnt").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("cell"), col("n"),
        col("label").as("majority_label"), col("cnt").as("majority_cnt"),
        call_function("div",
          lit(1000000L).cast(d38) * col("cnt").cast(d38),
          col("n").cast(d38)).cast("long").as("purity_ppm"))
  }

  /** kNN label audit — Confident-Learning-flavored label-error detection
    * (Northcutt et al. 2019, arXiv:1911.00068's intuition on an exact
    * neighborhood vote): each vector's k nearest SAME-CELL neighbors by
    * cosine vote with their labels; a vector whose own label loses the
    * vote is a mislabel suspect (or sits on a genuine class boundary) —
    * the review queue a labeled-data curation pass works through.
    * Deterministic end to end: neighbor top-k ties break by neighbor id,
    * vote ties by the SMALLER label. Vectors with no same-cell neighbor
    * are absent (no vote is defined). Output per vector: label,
    * pred_label, n_votes (≤ k), pred_votes, own_votes, suspect.
    *
    * Scale shape: one [[blockedCellPairs]] enumeration (mega-cells
    * valved), one per-anchor top-k window, one (anchor, label)-keyed
    * count, one per-anchor argmax window — every window keyed by the
    * anchor, never global.
    */
  def knnLabelAudit(
      embeddings: DataFrame,
      centroids: Array[Array[Double]],
      k: Int,
      maxCellSize: Int = 4096): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(k >= 1, "k must be at least 1")
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(embeddings)
      .withColumn("cell", nearestCell(col("embedding"), centroids))
      .select(col("vec_id"), col("label"), col("cell"), col("embedding"), col("nrm"))
    // blockedCellPairs carries (vec_id, embedding, nrm) per side; labels
    // rejoin afterwards on the (tiny) id->label map to keep the valve
    // helper's contract unchanged
    val labels = embeddings.select(col("vec_id"), col("label"))
    val top = blockedCellPairs(e, maxCellSize)
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_a"))
          .orderBy(col("cosine").desc, col("vec_b"))))
      .filter(col("rnk") <= k)
    // pinned: the winner argmax and the own-votes lookup both read the
    // vote table — unpinned, each reference would re-run the whole pair
    // enumeration (identical agg subtrees get zero ReusedExchange)
    val votes = Pins.pin(top
      .join(labels.select(col("vec_id").as("vec_b"), col("label").as("lbl_b")),
        Seq("vec_b"))
      .groupBy(col("vec_a"), col("lbl_b"))
      .agg(count(lit(1)).as("cnt")))
    val tallied = votes
      .withColumn("n_votes", sum(col("cnt")).over(
        Window.partitionBy(col("vec_a"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_a"))
          .orderBy(col("cnt").desc, col("lbl_b"))))
    // votes the anchor's OWN label received (absent → 0, not a lost row)
    val ownVotes = votes
      .join(labels.select(col("vec_id").as("vec_a"), col("label")), Seq("vec_a"))
      .filter(col("lbl_b") === col("label"))
      .select(col("vec_a").as("vec_id"), col("cnt").as("own_votes"))
    tallied
      .filter(col("rn") === 1)
      .select(col("vec_a").as("vec_id"), col("lbl_b").as("pred_label"),
        col("cnt").as("pred_votes"), col("n_votes"))
      .join(labels, Seq("vec_id"))
      .join(ownVotes, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("pred_label"),
        col("n_votes"), col("pred_votes"),
        coalesce(col("own_votes"), lit(0L)).as("own_votes"),
        (col("pred_label") =!= col("label")).as("suspect"))
  }

  /** kNN pseudo-labeling: every NON-seed vector takes the majority label
    * of its k nearest SEED vectors in its SRP cell (ties: fewest-votes
    * loses, then smallest label) — the auto-labeling step that turns a
    * small hand-labeled seed set into weak supervision for the whole
    * corpus. The bipartite sibling of [[knnLabelAudit]] (which audits
    * EXISTING labels against same-corpus neighbors): here probes carry
    * no label and only seeds vote.
    *
    * Scale shape: the probe⋈seed candidate join is the IVF cell
    * equi-join (nprobe=1 — the standard pseudo-labeler trade; raise
    * recall with more cell bits, not a wider probe), run through
    * [[blockedCellJoin]] so a skewed cell splits 2-D into ≤ maxCellSize²
    * per-task work. A probe whose cell holds no seed is ABSENT from the
    * output (unlabelable at this granularity) rather than guessed.
    * Votes and tallies are exact integers; the only float is the
    * column⋈column cosine inside the per-probe top-k window.
    */
  def knnClassify(
      embeddings: DataFrame,
      seedPred: Column,
      k: Int,
      cellBits: Int = 4,
      maxCellSize: Int = 4096): DataFrame = {
    require(k >= 1, "k must be at least 1")
    import org.apache.spark.sql.expressions.Window
    val cells = withNorm(embeddings)
      .withColumn("cell", srpCode(col("embedding"), 0, cellBits))
    val probes = cells.filter(!seedPred)
      .select(col("vec_id"), col("cell"),
        col("embedding").as("emb_p"), col("nrm").as("nrm_p"))
    val seeds = cells.filter(seedPred)
      .select(col("vec_id").as("seed_id"), col("label").as("seed_label"),
        col("cell"), col("embedding").as("emb_s"), col("nrm").as("nrm_s"))
    val top = blockedCellJoin(probes, "vec_id", seeds, "seed_id", maxCellSize)
      .withColumn("cosine",
        dot(col("emb_p"), col("emb_s")) / (col("nrm_p") * col("nrm_s")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("seed_id"))))
      .filter(col("rnk") <= k)
    top
      .groupBy(col("vec_id"), col("seed_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("n_votes", sum(col("votes")).over(
        Window.partitionBy(col("vec_id"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("votes").desc, col("seed_label"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("seed_label").as("pred_label"),
        col("votes"), col("n_votes"))
  }

  /** Two-round synchronous label propagation: round 1 is
    * [[knnClassify]] (probes vote among SEEDS in their SRP cell);
    * round 2 re-votes every probe over its k nearest LABELED neighbors'
    * current labels — seeds AND round-1-labeled probes — so labels flow
    * along the within-cell density (the semi-supervised refinement a
    * one-hop pseudo-labeler misses: a probe deep in an unlabeled
    * cluster inherits the cluster's consensus, not just the nearest
    * seed's vote). Seeds are CLAMPED (they never re-vote); update is
    * synchronous (round 2 reads only round-1 labels, so batch order
    * cannot leak in). A probe in a seedless cell stays absent both
    * rounds — unlabelable at this cell granularity, never guessed.
    *
    * Output: one row per labeled vector — (vec_id, lbl, origin
    * 'seed'|'prop', votes, n_votes); seed rows carry (0, 0) votes.
    *
    * Scale shape: round 1 is the bipartite [[blockedCellJoin]]; round 2
    * is one [[blockedCellPairs]] sweep (the knnLabelAudit shape, valve
    * included) whose neighbor side inner-joins the labels1 table before
    * the per-probe top-k window — integer votes, column⋈column cosines.
    */
  def labelPropagate(
      embeddings: DataFrame,
      seedPred: Column,
      k: Int,
      cellBits: Int = 4,
      maxCellSize: Int = 4096): DataFrame = {
    require(k >= 1, "k must be at least 1")
    import org.apache.spark.sql.expressions.Window
    val seeds = embeddings.filter(seedPred)
      .select(col("vec_id"), col("label").cast("int").as("lbl"))
    val round1 = knnClassify(embeddings, seedPred, k, cellBits, maxCellSize)
      .select(col("vec_id"), col("pred_label").cast("int").as("lbl"))
    // pinned: the round-2 vote join reads labels1 once per reference and
    // round 1 itself is a full bipartite sweep — never recompute it
    val labels1 = Pins.pin(seeds.unionByName(round1))
    val cells = withNorm(embeddings)
      .withColumn("cell", srpCode(col("embedding"), 0, cellBits))
      .select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
    val probeIds = embeddings.filter(!seedPred).select(col("vec_id"))
    val round2 = blockedCellPairs(cells, maxCellSize)
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a").as("vec_id"), col("vec_b"),
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cosine"))
      .join(probeIds, Seq("vec_id"), "left_semi")
      // only LABELED neighbors may vote — filter before the rank window
      .join(labels1.select(col("vec_id").as("vec_b"), col("lbl")), Seq("vec_b"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("vec_b"))))
      .filter(col("rnk") <= k)
      .groupBy(col("vec_id"), col("lbl"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("n_votes", sum(col("votes")).over(
        Window.partitionBy(col("vec_id"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("votes").desc, col("lbl"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("lbl"), lit("prop").as("origin"),
        col("votes"), col("n_votes"))
    val out = Pins.pin(seeds
      .select(col("vec_id"), col("lbl"), lit("seed").as("origin"),
        lit(0L).as("votes"), lit(0L).as("n_votes"))
      .unionByName(round2))
    Pins.release(labels1)
    out
  }

  // ------------------------------------------------- index persistence

  /** Parquet schema of the driver-side centroid/codebook coordinate
    * dumps: (index columns, coordinate) — see [[saveIvfIndex]] /
    * [[savePqBooks]]. DOUBLE round-trips raw IEEE-754 bits, the same
    * bit-exactness contract the Spark-written form carried.
    */
  private def coordSchema(idx: String*): org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      idx.map(c => s"required int32 $c;")
        .mkString("message graft_coords { ", " ", " required double c; }"))

  /** Persist a trained IVF index as parquet tables so it outlives the
    * session: `<dir>/centroids` holds one (cell, dim, c) row per
    * coordinate and `<dir>/cell_stats` the mergeable [[cellStats]]
    * assignment state. Doubles round-trip BIT-EXACTLY through parquet's
    * FP64 physical type, so a reloaded quantizer assigns every vector to
    * the identical cell and serves identical top-k — the round-trip spec
    * asserts this, and it is what lets the incremental [[cellStats]]
    * maintenance and later query jobs run against a STORED index instead
    * of retraining per session. Both tables are metadata-sized
    * (cells × dim rows), written as one file each.
    */
  def saveIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cents: Array[Array[Double]],
      stats: Option[DataFrame] = None): Unit = {
    // the coordinate rows already live on the driver (k×dim doubles) —
    // dumped directly (TinyParquet), not through a distributed write job
    graft.store.TinyParquet.writeGroups(spark, s"$dir/centroids",
      coordSchema("cell", "dim"), f =>
        cents.zipWithIndex.flatMap { case (c, cell) =>
          c.zipWithIndex.map { case (v, d) =>
            f.newGroup().append("cell", cell).append("dim", d).append("c", v)
          }
        }.toSeq)
    stats.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$dir/cell_stats"))
  }

  /** Restore [[saveIvfIndex]]'s quantizer: the exact centroid array the
    * session that trained it held (cells must be 0..k-1 dense with a full
    * `Dim`-coordinate row set — enforced, a torn write fails loudly).
    * Driver-side read ([[graft.store.TinyParquet]]): the table is k×dim
    * metadata that was previously paying a schema-inference job plus a
    * collect job per load.
    */
  def loadIvfCentroids(
      spark: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Double]] = {
    val rows = graft.store.TinyParquet.readGroups(spark, s"$dir/centroids")
      .map(g => (graft.store.TinyParquet.long(g, "cell").toInt,
        graft.store.TinyParquet.long(g, "dim").toInt,
        graft.store.TinyParquet.double(g, "c")))
    require(rows.nonEmpty, s"no centroids at $dir")
    val k = rows.map(_._1).max + 1
    val dim = rows.map(_._2).max + 1
    require(rows.length == k * dim, s"torn centroid table at $dir: ${rows.length} rows")
    val cents = Array.ofDim[Double](k, dim)
    rows.foreach { case (cell, d, v) => cents(cell)(d) = v }
    cents
  }

  /** Stored [[cellStats]] table of a persisted index ([[saveIvfIndex]]) —
    * the base state an incremental maintenance job merges fresh batches
    * into ([[mergeCellStats]]) before re-persisting.
    */
  def loadCellStats(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/cell_stats")

  /** Persist PQ codebooks ([[pqCodebooks]]) as `<dir>/codebooks` parquet:
    * one (subspace, code, dim, c) row per coordinate (dim is the offset
    * WITHIN the subspace). Same bit-exactness contract as
    * [[saveIvfIndex]].
    */
  def savePqBooks(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      books: Array[Array[Array[Double]]],
      stats: Option[DataFrame] = None): Unit = {
    stats.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$dir/sub_stats"))
    // m·ksub·sub driver-resident doubles — dumped directly (TinyParquet),
    // not through a distributed write job; see saveIvfIndex
    graft.store.TinyParquet.writeGroups(spark, s"$dir/codebooks",
      coordSchema("subspace", "code", "dim"), f =>
        books.zipWithIndex.flatMap { case (book, s) =>
          book.zipWithIndex.flatMap { case (c, code) =>
            c.zipWithIndex.map { case (v, d) =>
              f.newGroup().append("subspace", s).append("code", code)
                .append("dim", d).append("c", v)
            }
          }
        }.toSeq)
  }

  /** Quantizer identity stamp: the first 15 md5 hex digits (the h60
    * convention) over the shape header and the RAW IEEE-754 bits of every
    * coordinate, in (cell, dim) order. Centroids round-trip parquet
    * bit-exactly, so the stamp of a reloaded quantizer equals the stamp
    * of the one that trained it — and any retrain, refresh, or wrong-file
    * load changes at least one coordinate's bits and therefore the stamp.
    * Driver-side only (k×dim doubles), never a distributed job.
    */
  def quantizerFingerprint(cents: Array[Array[Double]]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"${cents.length}|${cents.headOption.map(_.length).getOrElse(0)};"
      .getBytes("UTF-8"))
    cents.foreach { c =>
      c.foreach { v =>
        md.update(s"${java.lang.Double.doubleToRawLongBits(v)};".getBytes("UTF-8"))
      }
    }
    java.lang.Long.parseLong(
      md.digest().map("%02x".format(_)).mkString.take(15), 16)
  }

  /** [[quantizerFingerprint]] for PQ codebooks — the (m, ksub, sub) shape
    * header keeps two factorizations of the same flattened coordinates
    * from colliding.
    */
  def bookFingerprint(books: Array[Array[Array[Double]]]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val ksub = books.headOption.map(_.length).getOrElse(0)
    val sub = books.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
    md.update(s"${books.length}|$ksub|$sub;".getBytes("UTF-8"))
    books.foreach(_.foreach(_.foreach { v =>
      md.update(s"${java.lang.Double.doubleToRawLongBits(v)};".getBytes("UTF-8"))
    }))
    java.lang.Long.parseLong(
      md.digest().map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Persist [[assignIvfCells]]' assigned corpus as `<dir>/assigned`
    * parquet PARTITIONED BY the cell id — the physical layout that makes
    * [[ivfTopKAssigned]]'s probed-cell predicate a static partition
    * filter: a small-probe serve lists and reads only the probed cells'
    * directories, never the other 2^cellBits−nprobe·|q| of them. At
    * 100 TB each cell partition is its own file set, so the serve I/O is
    * sized by the probe set while build jobs still scan the store as one
    * table. The quantizer that produced the assignment is STAMPED into
    * `<dir>/assigned_meta` ([[quantizerFingerprint]]); load and append
    * verify it, so a store assigned under old centroids can never be
    * silently served or grown with refreshed ones.
    */
  def saveIvfAssigned(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      assigned: DataFrame,
      cents: Array[Array[Double]]): Unit = {
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assigned")
    StoreMeta.write(spark, s"$dir/assigned_meta",
      quantizerFingerprint(cents), cellBits = -1)
  }

  /** Restore [[saveIvfAssigned]]'s store (partition column `cell` comes
    * back from the directory names; serve-side joins cast as needed).
    * `cents` is the quantizer the CALLER intends to serve with — its
    * stamp must match the one stored at save time, closing the
    * mismatched-quantizer foot-gun (wrong neighbors, silently) at the
    * load boundary.
    */
  def loadIvfAssigned(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cents: Array[Array[Double]]): DataFrame = {
    StoreMeta.verify(spark, s"$dir/assigned_meta", "assigned store",
      "saveIvfAssigned", quantizerFingerprint(cents))
    spark.read.schema(assignedSchema).parquet(s"$dir/assigned")
  }

  /** The [[saveIvfAssigned]] layout contract as an explicit read schema
    * (the column set is FIXED by [[assignIvfCells]]' projection and the
    * embeddings table's ARRAY<FLOAT> element type) — a load never pays
    * the per-invocation footer-inference job; partition column `cell`
    * still comes from the directory names. Round-trip specs pin
    * supplied == written, so layout drift fails there, loudly.
    */
  private val assignedSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE, cell INT")

  /** [[assignedSchema]] for the PQ code store ([[encodePqCodes]]). */
  private val codesSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, codes ARRAY<INT>, cell INT")

  /** Accrete a fresh batch onto a persisted assigned store WITHOUT
    * rewriting it — the micro-batch index-maintenance shape (pair with
    * [[mergeCellStats]] for the stats half): the batch is assigned with
    * the SAME stored quantizer and appended, so only the touched cells'
    * directories gain files and nothing existing is read or moved.
    * The stamp check makes "same quantizer" a verified precondition, not
    * a convention — a batch assigned under different centroids would
    * scatter rows into cells the serve-time probe never looks in.
    * Serving from the grown store ≡ the one-shot assignment of the union
    * corpus (assignment is row-local; the serve join keys only on cell),
    * so any batch arrival order works — the commutative-merge contract
    * the streaming stores follow. Quantizer drift is the caveat: a batch
    * far from the training distribution concentrates into few cells —
    * watch [[mergeCellStats]]' populations ([[cellLoad]] is the readout)
    * and [[retrainIvfStore]] when a cell outgrows the serve-time valve.
    */
  def appendIvfAssigned(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      cents: Array[Array[Double]]): Unit = {
    StoreMeta.verify(spark, s"$dir/assigned_meta", "assigned store",
      "saveIvfAssigned", quantizerFingerprint(cents))
    assignIvfCells(batch, cents).write.mode("append").partitionBy("cell")
      .parquet(s"$dir/assigned")
  }

  /** [[appendIvfAssigned]] for the PQ code store: encode the batch with
    * the stored books — verified against the store's stamp — at the
    * store's OWN `cell_bits` (read from the meta sidecar, so an append
    * can never mix cell geometries), and append.
    */
  def appendPqCodes(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      books: Array[Array[Array[Double]]]): Unit = {
    val cellBits = StoreMeta.verify(spark, s"$dir/codes_meta", "PQ code store",
      "savePqCodes", bookFingerprint(books))
    encodePqCodes(batch, books, cellBits).write.mode("append")
      .partitionBy("cell").parquet(s"$dir/codes")
  }

  /** Persist [[encodePqCodes]]' code table as `<dir>/codes` parquet
    * partitioned by the SRP cell — same pruning contract as
    * [[saveIvfAssigned]], at PQ's 32×-compressed row width. The
    * codebook stamp AND the `cellBits` the codes were laid out under
    * persist to `<dir>/codes_meta`: both are load-bearing (mismatched
    * books give wrong ADC scores; mismatched cellBits make the serve
    * probe cells the store never populated) and both were previously
    * unverifiable conventions.
    */
  def savePqCodes(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      codes: DataFrame,
      books: Array[Array[Array[Double]]],
      cellBits: Int = 4): Unit = {
    codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes")
    StoreMeta.write(spark, s"$dir/codes_meta", bookFingerprint(books), cellBits)
  }

  /** Restore [[savePqCodes]]' code table, verifying the caller's books
    * against the store stamp; returns the codes AND the stored
    * `cell_bits` so the serve ([[pqTopKWithCodes]]) derives its cell
    * geometry from the store instead of trusting a caller default.
    */
  def loadPqCodes(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      books: Array[Array[Array[Double]]]): (DataFrame, Int) = {
    val cellBits = StoreMeta.verify(spark, s"$dir/codes_meta", "PQ code store",
      "savePqCodes", bookFingerprint(books))
    (spark.read.schema(codesSchema).parquet(s"$dir/codes"), cellBits)
  }

  /** Mergeable per-codeword assignment state for incremental PQ codebook
    * maintenance — [[cellStats]]' PQ twin, keyed (subspace, code, dim)
    * with `dim` the offset WITHIN the subspace: member count and
    * exact-DECIMAL coordinate sums of the subvectors assigned to each
    * codeword. Same sketch-family contract: disjoint batches' states add
    * into exactly the one-shot state of the union ([[mergePqSubStats]]),
    * so a streaming ingest keeps the table current per micro-batch
    * (m·ksub·sub metadata rows) and a codebook refresh
    * ([[retrainPqStore]]) never re-scans ingest history for its
    * training step.
    */
  def pqSubspaceStats(
      embeddings: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    require(books.nonEmpty && Dim % books.length == 0, s"m must divide $Dim")
    val m = books.length
    val sub = Dim / m
    embeddings
      .select(nearestCodesCol(books, col("embedding")).as("cds"), col("embedding"))
      .select(explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), element_at(col("cds"), s + 1).as("code"),
          slice(col("embedding"), s * sub + 1, sub).as("v"))): _*)).as("sv"))
      .select(col("sv.s").as("s"), col("sv.code").as("code"),
        posexplode(col("sv.v")).as(Seq("dim", "x")))
      .groupBy(col("s"), col("code"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        // the cellStats widening rule: float→double first (exact), then
        // the order-independent DECIMAL sum
        sum(col("x").cast("double").cast("decimal(27,6)")).as("sm"))
  }

  /** [[pqSubspaceStats]] over an [[encodePqCodes]] frame that kept its
    * embeddings (`keepEmbedding = true`) — identical state by
    * construction (the stored `codes` ARE the per-subspace nearestCode
    * results), but the m·ksub·sub-dots-per-row code search is not
    * recomputed: the one-scan half of [[retrainPqStore]].
    */
  def pqSubspaceStatsFromCodes(encoded: DataFrame, m: Int): DataFrame = {
    require(m >= 1 && Dim % m == 0, s"m must divide $Dim")
    val sub = Dim / m
    encoded.select(explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          element_at(col("codes"), s + 1).as("code"),
          slice(col("embedding"), s * sub + 1, sub).as("v"))): _*)).as("sv"))
      .select(col("sv.s").as("s"), col("sv.code").as("code"),
        posexplode(col("sv.v")).as(Seq("dim", "x")))
      .groupBy(col("s"), col("code"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("double").cast("decimal(27,6)")).as("sm"))
  }

  /** Merge two [[pqSubspaceStats]] tables (counts and sums add). */
  def mergePqSubStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("s"), col("code"), col("dim"))
      .agg(sum(col("n")).as("n"), sum(col("sm")).as("sm"))

  /** Stored [[pqSubspaceStats]] of a persisted PQ index
    * ([[savePqBooks]] with `stats`) — the base state a maintenance job
    * merges fresh batches into before re-persisting.
    */
  def loadPqSubStats(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/sub_stats")

  /** Retrain-and-rewrite for a drifted PQ store — [[retrainIvfStore]]'s
    * PQ twin: refresh each codeword to the mean of the subvectors seen
    * so far (the accumulated [[pqSubspaceStats]]/[[mergePqSubStats]]
    * state — one exact-DECIMAL Lloyd step over the full ingest history
    * without re-scanning it; a codeword that never saw a member keeps
    * its previous coordinates; PQ codewords are plain means, never
    * unit-normalized), then write a NEW store version at `outDir`:
    * refreshed codebooks, fresh sub_stats state, and the corpus
    * re-encoded under the refreshed books at the store's own
    * `cell_bits`.
    *
    * The rewrite step REQUIRES the raw corpus (`embeddings`): PQ codes
    * are lossy, so unlike the IVF assigned store (which carries its
    * embeddings) the code table cannot re-encode itself — the caller
    * supplies exactly the corpus the store indexes, the documented
    * re-encode-from-embeddings contract. Version-swap rule as ever:
    * `outDir != inDir`, old version serveable until the catalog flip.
    * The old store's stamp no longer matches the refreshed books, so a
    * stale-store serve fails loudly at load.
    *
    * Scale shape: the codebook refresh is metadata-sized
    * (m·ksub·sub rows); the corpus pays ONE quantizer scan — the encode
    * projection keeps the raw vectors beside the codes and is pinned
    * ([[graft.Pins]]), so the code-store rewrite and the fresh
    * [[pqSubspaceStatsFromCodes]] state both read the one materialized
    * pass instead of each re-running the m·ksub·sub code search (the
    * r16 two-scan shape). The pin is a corpus-sized spill, but spill
    * I/O replaces a full second encode pass — the flops, not the bytes,
    * dominate a PQ encode. The encode reads the embedding table, never
    * per-vector driver state.
    */
  def retrainPqStore(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      embeddings: DataFrame): Array[Array[Array[Double]]] = {
    require(inDir != outDir,
      "retrain writes a NEW store version — outDir must differ from inDir")
    val old = loadPqBooks(spark, inDir)
    val rows = loadPqSubStats(spark, inDir)
      .select(col("s").cast("int"), col("code").cast("int"),
        col("dim").cast("int"),
        (col("sm").cast("double") / col("n").cast("double")).as("c"))
      .collect()
    val next = old.map(_.map(_.clone()))
    rows.foreach { r =>
      next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
    }
    val (_, cellBits) = StoreMeta.read(spark, s"$inDir/codes_meta",
      "PQ code store", "savePqCodes")
    val encoded = Pins.pin(
      encodePqCodes(embeddings, next, cellBits, keepEmbedding = true))
    // both outputs read the one pinned encode pass — overlapped
    // (guide §2.6): the metadata-sized books/stats job back-fills the
    // code-store write's task tail
    graft.operators.Par.run(
      () => savePqCodes(spark, outDir,
        encoded.select(col("vec_id"), col("cell"), col("codes")), next, cellBits),
      () => savePqBooks(spark, outDir, next,
        Some(pqSubspaceStatsFromCodes(encoded, next.length))))
    Pins.release(encoded)
    next
  }

  /** Cell-population readout over a [[cellStats]] table — the drift
    * trigger that schedules [[retrainIvfStore]]: per cell, members seen
    * so far, the exact integer ppm share of the corpus, and whether the
    * population exceeds the serve-time valve (`maxCellSize`, the
    * [[blockedCellPairs]]/[[blockedCellJoin]] threshold). A drifted
    * ingest concentrates new vectors into few cells; when a cell crosses
    * the valve, serve tasks for it start 2-D splitting — still correct,
    * but the signal that the quantizer no longer fits the corpus.
    *
    * Scale shape: one (cell)-keyed max over the metadata-sized stats
    * table plus a 1-row total broadcast — never touches the corpus.
    */
  def cellLoad(stats: DataFrame, maxCellSize: Int): DataFrame = {
    require(maxCellSize >= 1, "maxCellSize must be at least 1")
    val per = stats.groupBy(col("cell")).agg(max(col("n")).as("n_members"))
    val tot = per.agg(sum(col("n_members")).as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_members"), col("n_total"),
        call_function("div", lit(1000000L) * col("n_members"), col("n_total"))
          .as("share_ppm"),
        (col("n_members") > maxCellSize.toLong).as("over_valve"))
  }

  /** Retrain-and-rewrite for a drifted IVF store — the operator the
    * [[appendIvfAssigned]] scaladoc promises when [[cellLoad]] trips:
    * refresh each centroid to the unit-normalized mean of the members
    * seen so far (the accumulated [[cellStats]]/[[mergeCellStats]] state
    * — one exact-DECIMAL Lloyd step over the full ingest history without
    * re-scanning it; a cell that never saw a member keeps its previous
    * centroid, the [[kmeansCentroids]] rule), re-assign the stored corpus
    * under the refreshed quantizer, and write a NEW store version at
    * `outDir`: assigned partitions, centroids, fresh [[cellStats]] state,
    * and the refreshed stamp.
    *
    * Version-swap, not in-place: `outDir` must differ from `inDir` (a
    * 100 TB rewrite must never truncate the lineage it is reading by
    * overwriting it — the swap also keeps the old version serveable
    * until the new one is complete, the standard index-build posture).
    * Serving the new store with the RETURNED centroids is identical by
    * construction to [[ivfTopKWithCentroids]] over the same corpus and
    * refreshed quantizer (spec-proven); the old store's stamp no longer
    * matches the refreshed centroids, so a stale-store serve fails
    * loudly at load.
    *
    * Scale shape: the stats refresh is metadata-sized; the corpus pays
    * ONE O(N·numCells) assignment scan — the rewrite's — and the fresh
    * [[cellStats]] state derives from the just-written store via
    * [[cellStatsFromAssigned]] (the `cell` column is already there), so
    * the second corpus pass is plain column I/O with zero quantizer
    * math (the r16 two-scan shape halved where it hurts). Zero
    * driver-side corpus state.
    */
  def retrainIvfStore(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String): Array[Array[Double]] = {
    require(inDir != outDir,
      "retrain writes a NEW store version — outDir must differ from inDir")
    val old = loadIvfCentroids(spark, inDir)
    val stats = loadCellStats(spark, inDir)
    val rows = centroidsFromStats(stats)
      .select(col("cell").cast("int"), col("dim").cast("int"), col("c"))
      .collect()
    val next = old.map(_.clone())
    rows.groupBy(_.getInt(0)).foreach { case (cell, rs) =>
      val c = new Array[Double](old(cell).length)
      rs.foreach(r => c(r.getInt(1)) = r.getDouble(2))
      next(cell) = unit(c)
    }
    val emb = spark.read.schema(assignedSchema).parquet(s"$inDir/assigned")
      .select(col("vec_id"), col("embedding"))
    // one materialized assignment pass feeds BOTH the store rewrite and
    // the fresh stats (the retrainPqStore pin pattern): deriving stats
    // from the pin instead of re-reading `<outDir>/assigned` drops a full
    // second pass over the fat embedding column — at 100 TB that re-read
    // is corpus-sized I/O for zero new information. cellStats sums are
    // exact DECIMAL (order-independent), so pin-derived state ≡
    // store-read state bit-for-bit.
    val assigned = Pins.pin(assignIvfCells(emb, next))
    // both outputs read the one pinned assignment — overlapped
    // (guide §2.6), as in retrainPqStore
    graft.operators.Par.run(
      () => saveIvfAssigned(spark, outDir, assigned, next),
      () => saveIvfIndex(spark, outDir, next, Some(cellStatsFromAssigned(
        assigned.select(col("cell"), col("embedding"))))))
    Pins.release(assigned)
    next
  }

  /** Data-subject deletion THROUGH the assigned store — the composition
    * of [[graft.streaming.Maintenance.deleteWhere]] with the ANN index:
    * rows matching `pred` are removed, survivors rewrite as a new store
    * version at `outDir` (same version-swap rule as
    * [[retrainIvfStore]]; quantizer and stamp unchanged — deletion does
    * not move anyone's cell), and the returned one-row tombstone audit
    * carries n_deleted / n_kept / the Σ (h60(vec_id) mod 1000003)
    * erasure fingerprint. Because the serve derives nothing global from
    * the store (cosine ranks are per-pair), row deletion composes
    * exactly: serving the survivor store ≡ serving a from-scratch build
    * of the surviving corpus (oracle-proven hash-exact in
    * q_ann_delete).
    */
  def deleteFromIvfAssigned(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      pred: Column,
      cents: Array[Array[Double]]): DataFrame = {
    require(inDir != outDir,
      "deletion rewrites a NEW store version — outDir must differ from inDir")
    val assigned = loadIvfAssigned(spark, inDir, cents)
    val (surv, audit) = graft.streaming.Maintenance.deleteWhere(
      assigned.withColumn("store", lit("ivf_assigned")),
      pred, Seq("store"), col("vec_id"))
    saveIvfAssigned(spark, outDir, surv.drop("store"), cents)
    audit
  }

  /** [[deleteFromIvfAssigned]] for the PQ code store: rows matching
    * `pred` are removed, survivors rewrite as a new store version at
    * `outDir` under the SAME codebooks and the store's OWN `cell_bits`
    * (both read back through the stamped load, so a deletion can never
    * silently migrate the store to different artifacts), and the
    * returned one-row tombstone audit carries n_deleted / n_kept / the
    * Σ (h60(vec_id) mod 1000003) erasure fingerprint. ADC scores are
    * per-row functions of (codes, query) — the serve derives nothing
    * global from the store — so row deletion composes exactly: serving
    * the survivor store ≡ serving a from-scratch encode of the
    * surviving corpus (oracle-proven hash-exact in q_pq_delete).
    */
  def deleteFromPqCodes(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      pred: Column,
      books: Array[Array[Array[Double]]]): DataFrame = {
    require(inDir != outDir,
      "deletion rewrites a NEW store version — outDir must differ from inDir")
    val (codes, cellBits) = loadPqCodes(spark, inDir, books)
    val (surv, audit) = graft.streaming.Maintenance.deleteWhere(
      codes.withColumn("store", lit("pq_codes")),
      pred, Seq("store"), col("vec_id"))
    savePqCodes(spark, outDir, surv.drop("store"), books, cellBits)
    audit
  }

  /** Reciprocal-rank fusion of two top-k rankings — the hybrid-retrieval
    * combiner (Cormack et al., SIGIR'09; the default fusion in every
    * lexical+vector serving stack): a document's fused score is the sum
    * of 1/(K + rank) over the lists that retrieved it, here in exact
    * integer ppm — `1000000 DIV (K + rank)` per list — so the fused
    * ORDER replays bit-for-bit cross-engine (the BM25 rule: a ranked
    * readout must not let a last-ulp float reorder near-ties). RRF needs
    * only ranks, never the incomparable raw scores (BIGINT BM25 vs
    * float cosine), which is exactly why serving stacks default to it.
    *
    * Inputs are two rankings `(id, rank)` with unique ids and ranks
    * 1..k. A document absent from one list contributes 0 from it and
    * reports rank 0 (sentinel — avoids nullable columns in the hashed
    * output). Output: id, rank_a, rank_b, rrf_ppm, fused_rank (dense
    * 1..topK by (rrf_ppm DESC, id)).
    *
    * Scale shape: both inputs are top-k lists — ≤ k rows each BY
    * CONTRACT — so the outer join and the single global fused-rank
    * window run over ≤ 2k rows (bounded by construction, the
    * exactN-survivor rule for global windows); all the heavy retrieval
    * work happened upstream in the rankers.
    */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    require(kRrf >= 1, "kRrf must be at least 1")
    require(topK >= 1, "topK must be at least 1")
    val ra = a.select(col(idCol), col("rank").cast("long").as("rank_a"))
    val rb = b.select(col(idCol), col("rank").cast("long").as("rank_b"))
    val w = Window.orderBy(col("rrf_ppm").desc, col(idCol))
    ra.join(rb, Seq(idCol), "full_outer")
      .select(
        col(idCol),
        coalesce(col("rank_a"), lit(0L)).as("rank_a"),
        coalesce(col("rank_b"), lit(0L)).as("rank_b"),
        (coalesce(expr(s"1000000L DIV ($kRrf + rank_a)"), lit(0L)) +
          coalesce(expr(s"1000000L DIV ($kRrf + rank_b)"), lit(0L)))
          .as("rrf_ppm"))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= topK)
  }

  /** Restore [[savePqBooks]]' codebooks (dense, torn writes rejected). */
  def loadPqBooks(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Double]]] = {
    val rows = graft.store.TinyParquet.readGroups(spark, s"$dir/codebooks")
      .map(g => (graft.store.TinyParquet.long(g, "subspace").toInt,
        graft.store.TinyParquet.long(g, "code").toInt,
        graft.store.TinyParquet.long(g, "dim").toInt,
        graft.store.TinyParquet.double(g, "c")))
    require(rows.nonEmpty, s"no codebooks at $dir")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val sub = rows.map(_._3).max + 1
    require(rows.length == m * ksub * sub, s"torn codebook table at $dir: ${rows.length} rows")
    val books = Array.ofDim[Double](m, ksub, sub)
    rows.foreach { case (s, code, d, v) => books(s)(code)(d) = v }
    books
  }
}
