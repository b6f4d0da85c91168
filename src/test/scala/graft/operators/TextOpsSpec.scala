package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

/** Dedup / similarity / text-function tests, including the equivalence of
  * the blocked (scale-path) pair enumerations with their all-pairs ground
  * truth, and known-value checks of the engine-portable hashes.
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80).cache()

  test("h60 matches the documented md5-prefix construction") {
    // md5("hello") = 5d41402abc4b2a76... → 0x5d41402abc4b2a7
    val v = Seq("hello").toDF("s").select(TextFunctions.h60(col("s"))).head().getLong(0)
    assert(v === java.lang.Long.parseLong("5d41402abc4b2a7", 16))
    assert(v === 419982666956583591L)
  }

  test("tokens lowercases, splits on single spaces, and drops empties") {
    val t = Seq("The Quick  brown FOX ").toDF("s")
      .select(TextFunctions.tokens(col("s"))).head().getSeq[String](0)
    assert(t === Seq("the", "quick", "brown", "fox"))
  }

  test("shingles3 yields n-2 trigrams and empty below 3 tokens") {
    val out = Seq("a b c d", "a b").toDF("s")
      .select(TextFunctions.shingleSet(col("s"))).collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq.empty)
  }

  test("exact dedup groups identical texts under the min doc_id") {
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(d).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("canonical_id")).toSeq === Seq(1L, 1L, 3L))
    assert(out.map(_.getAs[Long]("group_size")).toSeq === Seq(2L, 2L, 1L))
  }

  test("fingerprint dedup catches token reorderings that exact dedup misses") {
    val d = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = Dedup.fingerprint(d).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("canonical_id")).toSeq === Seq(1L, 1L, 3L))
    val exact = Dedup.exact(d).filter(col("group_size") > 1).count()
    assert(exact === 0L)
  }

  test("blocked simHashPairs equals the all-pairs scan (pigeonhole is lossless)") {
    val maxDist = 3
    val sims = docs
      .withColumn("hs", TextFunctions.tokenHashes(TextFunctions.tokens(col("text"))))
      .withColumn("simhash", TextFunctions.simHashSql("hs"))
      .select(col("doc_id"), col("simhash"))
    val naive = sims.as("a")
      .join(sims.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .as[(Long, Long, Long)].collect().toSet
    val blocked = Dedup.simHashPairs(docs, maxDist)
      .as[(Long, Long, Long)].collect().toSet
    assert(blocked === naive)
    assert(blocked.nonEmpty)
  }

  test("clusters computes transitive components (chain needs multi-round propagation)") {
    // chain 1-2-3-4-5 (diameter 4) + an isolated pair; min-label must
    // propagate across rounds, not just one hop
    val pairs = Seq((2L, 3L), (4L, 5L), (1L, 2L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("paragraphDedup keeps first occurrence corpus-wide (token paragraphs)") {
    // avgTokens=1: every token is a boundary marker, so paragraphs are
    // single tokens — hand-checkable keep-first semantics
    val d = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, avgTokens = 1)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq((1L, 3L, 2L, "a b"), (2L, 2L, 1L, "c")))
  }

  test("paragraphDedup empties an exact-duplicate document at any granularity") {
    // identical text splits identically (content-defined boundaries), so
    // every paragraph of the later doc is a repeat of the earlier one's
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq((5L, t), (9L, t)).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, avgTokens = 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out.size === 2)
    val (first, second) = (out(0), out(1))
    assert(first._1 === 5L && first._2 === first._3 && first._4 === t)
    assert(second._1 === 9L && second._3 === 0L && second._4 === "")
    assert(second._2 === first._2)
  }

  test("substringDedup removes a repeated k-run wholly, keeps its first occurrence") {
    // doc 1 ends with the 4-token run "p q r s"; doc 2 embeds the same run
    // mid-text. With k=3 the run repeats as windows (p,q,r) and (q,r,s) —
    // their union covers exactly doc 2's copy of the run; everything else
    // in doc 2 is unique and survives
    val d = Seq(
      (1L, "a b c p q r s"),
      (2L, "x y p q r s z w"),
      (3L, "u v")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, k = 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0) === ((1L, 7L, 0L, "a b c p q r s"))) // first occurrence intact
    assert(out(1) === ((2L, 8L, 4L, "x y z w"))) // the repeated run excised
    assert(out(2) === ((3L, 2L, 0L, "u v"))) // shorter than k: untouched
    // an exact duplicate doc is removed entirely (n_removed = n_tokens)
    val dd = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val o2 = Dedup.substringDedup(dd, k = 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(o2(0)._4 === "a b c d e f" && o2(1)._4 === "" && o2(1)._3 === 6L)
  }

  test("clusters survives a high-diameter path graph (>=12 propagation rounds)") {
    // path 0-1-2-...-14 (diameter 14): min-label 0 moves ONE hop per round,
    // so this exercises >=14 checkpointed rounds — the lineage-truncation
    // regression case (a per-round cache makes round k re-analyze a k-deep
    // join tree; the checkpoint keeps plan depth O(1) per round)
    val n = 14
    val pairs = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs, maxIters = 30).as[(Long, Long)].collect().toMap
    assert(out === (0 to n).map(i => i.toLong -> 0L).toMap)
  }

  test("clusters refuses to return partially-propagated labels") {
    // diameter-5 path with a 2-round budget: propagation cannot finish,
    // and silently returning wrong components would poison the oracle and
    // the incremental merge path
    val pairs = (0 until 5).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.clusters(pairs, maxIters = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("clusters over LSH pairs equals a driver-side union-find") {
    val pairs = Dedup.minHashLsh(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = Dedup.clusters(Dedup.minHashLsh(docs))
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("minHashLsh emits only true near-duplicates (verified candidates)") {
    val truth = Dedup.ngramJaccardPairs(docs, 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLsh(docs, numHashes = 24, bands = 8, threshold = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(truth))
  }

  test("bruteForceTopK ranks by cosine with neighbor-id tie-break") {
    val e = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)),
      (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(e, col("vec_id") === 0, 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out === Array(1L, 3L, 2L))
  }

  test("truncatedTopK ranks by prefix-dimension cosine — tail dimensions stop mattering") {
    val e = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // query
      (1L, Array(0.6f, 0.1f, 9f, 9f)), // full-dim cosine ruined by the tail
      (2L, Array(0.5f, 0.5f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    // dims=2 sees (0.6,0.1) ≈ the best prefix alignment → id 1 first
    val trunc = Similarity.truncatedTopK(e, col("vec_id") === 0, 3, dims = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(trunc === Array(1L, 2L, 3L))
    // the full-dimension baseline demotes id 1 (tail mass dominates)
    val full = Similarity.bruteForceTopK(e, col("vec_id") === 0, 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(full === Array(2L, 1L, 3L))
    // at dims == full width the truncation is the identity
    val all = Similarity.truncatedTopK(e, col("vec_id") === 0, 3, dims = 4)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(all === full)
  }

  test("srpBit agrees with a driver-side dot-product sign computation") {
    val emb = Array.tabulate(Similarity.Dim)(i => (math.sin(i + 1)).toFloat)
    val expected = (0 until 8).map { p =>
      val w = Similarity.srpPlane(p)
      val d = w.zip(emb).map { case (a, b) => a * b.toDouble }.foldLeft(0.0)(_ + _)
      if (d > 0) 1L else 0L
    }
    val got = Seq(Tuple1(emb)).toDF("embedding")
      .select(array((0 until 8).map(p => Similarity.srpBit(col("embedding"), p)): _*))
      .head().getSeq[Long](0)
    assert(got === expected)
  }

  test("k-means quantizer trains deterministically and full-probe IVF equals brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val c1 = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2)
    val c2 = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq) // bit-identical runs
    assert(c1.forall(c => math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))

    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    val brute = keys(Similarity.bruteForceTopK(emb, col("vec_id") % 20 === 0, 5))
    // probing every cell is an exact full scan → identical ranking
    val full = keys(Similarity.ivfTopKKmeans(
      emb, col("vec_id") % 20 === 0, 5, numCells = 8, iters = 2, nprobe = 8))
    assert(full === brute)
    // partial probe: valid subset semantics and a sane recall floor
    val probed = Similarity.ivfTopKKmeans(
      emb, col("vec_id") % 20 === 0, 5, numCells = 8, iters = 2, nprobe = 3)
    val recall = keys(probed).intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall@5 $recall suspiciously low")
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("kNN-join mode (no broadcast) matches the query-serving mode exactly") {
    // broadcastQueries=false is the all-corpus sweep shape: same equi-join
    // on the cell, so results must be identical; the initial physical plan
    // must not FORCE a broadcast of the query side (AQE may still choose
    // one at runtime on tiny data — that is its call, not ours)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    val served = Similarity.ivfTopKKmeans(
      emb, col("vec_id") % 20 === 0, 5, numCells = 8, iters = 2, nprobe = 3)
    val swept = Similarity.ivfTopKKmeans(
      emb, col("vec_id") % 20 === 0, 5, numCells = 8, iters = 2, nprobe = 3,
      broadcastQueries = false)
    assert(keys(swept) === keys(served))
    // same contract for the PQ path, via caller-supplied books
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    def pqKeys(bc: Boolean) = keys(Similarity.pqTopKWithBooks(
      emb, col("vec_id") % 10 === 0, k = 3, books, rerank = 200,
      broadcastQueries = bc))
    assert(pqKeys(false) === pqKeys(true))
    // plan audit under autoBroadcast OFF (the 100 TB stats situation, where
    // the corpus-sized query side is over every threshold): the hinted mode
    // must STILL broadcast (explicit hint), the sweep mode must not
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // plan assertions under the audit view: executing results are
      // eagerly pinned LogicalRDD scans (the PlanAuditSpec convention)
      def plan(bc: Boolean) = Pins.withAuditView {
        Similarity.ivfTopKKmeans(
          emb, col("vec_id") % 20 === 0, 5, numCells = 8, iters = 2, nprobe = 3,
          broadcastQueries = bc).queryExecution.executedPlan.toString
      }
      assert(plan(true).contains("BroadcastHashJoin"))
      // the sweep's PAIR join must be a shuffle join (both corpus-sized
      // sides hash-partition); the only forced broadcasts in its plan are
      // the numCells-row split histograms of the skew valve
      val sweepPlan = plan(false)
      assert(sweepPlan.contains("SortMergeJoin") || sweepPlan.contains("ShuffledHashJoin"),
        "kNN-join mode must shuffle the pair join, not force a corpus broadcast")
      def pqPlan(bc: Boolean) = Similarity.pqTopKWithBooks(
        emb, col("vec_id") % 10 === 0, k = 3, books, rerank = 200,
        broadcastQueries = bc).queryExecution.executedPlan.toString
      assert(pqPlan(true).contains("BroadcastHashJoin"))
      assert(!pqPlan(false).contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("broadcast small-probe contract is enforced: oversized probe sets fall back to the sweep") {
    // the r12 #5 guard: a forced broadcast() hint bypasses AQE's size
    // check, so a corpus-sized queryPred under the default serving shape
    // would OOM at scale — the guard fetches at most maxBroadcastProbes + 1
    // probe rows and strips the hint above maxBroadcastProbes
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    // a broadcast hint over the QUERY side specifically — the fallback
    // path legitimately broadcasts numCells-sized split histograms
    // (blockedCellJoin), which must not trip the detector. Hint
    // inspection builds under the audit view: executing ivf results are
    // eagerly pinned LogicalRDD scans (the PlanAuditSpec convention).
    def hinted(build: => org.apache.spark.sql.DataFrame) = Pins.withAuditView {
      build.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
            if h.child.output.exists(_.name == "query_id") => h
      }.nonEmpty
    }
    val cs = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2)
    val guarded = Similarity.ivfTopKWithCentroids(
      emb, col("vec_id") % 2 === 0, 3, cs, nprobe = 2, maxBroadcastProbes = 2)
    val swept = Similarity.ivfTopKWithCentroids(
      emb, col("vec_id") % 2 === 0, 3, cs, nprobe = 2, broadcastQueries = false)
    assert(!hinted(Similarity.ivfTopKWithCentroids(
      emb, col("vec_id") % 2 === 0, 3, cs, nprobe = 2, maxBroadcastProbes = 2)),
      "guard failed to strip the forced broadcast hint")
    assert(keys(guarded) === keys(swept)) // fallback is result-identical
    assert(keys(guarded).nonEmpty)
    // falsifiability: a genuinely small probe set KEEPS the hint (the
    // serving fast path is not silently disabled by the guard)
    assert(hinted(Similarity.ivfTopKWithCentroids(
      emb, col("vec_id") === 0, 3, cs, nprobe = 2)))
    // same enforcement on the PQ serve path
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 1)
    val pqGuarded = Similarity.pqTopKWithBooks(
      emb, col("vec_id") % 2 === 0, k = 3, books, rerank = 50,
      maxBroadcastProbes = 2)
    val pqSwept = Similarity.pqTopKWithBooks(
      emb, col("vec_id") % 2 === 0, k = 3, books, rerank = 50,
      broadcastQueries = false)
    assert(!hinted(pqGuarded))
    assert(keys(pqGuarded) === keys(pqSwept))
    assert(hinted(Similarity.pqTopKWithBooks(
      emb, col("vec_id") === 0, k = 3, books, rerank = 50)))
  }

  test("ANN index persistence: save → load is bit-exact and serves identical top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "persist")
    val wd = java.nio.file.Files.createTempDirectory("annidx").toString
    val even = emb.filter(col("vec_id") % 2 === 0)
    Similarity.saveIvfIndex(spark, wd, cents, Some(Similarity.cellStats(even, cents)))
    val loaded = Similarity.loadIvfCentroids(spark, wd)
    // bit-exact doubles: the restored quantizer IS the trained one
    assert(loaded.length === cents.length)
    cents.zip(loaded).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // identical serving: same probe results from the restored index
    val pred = col("vec_id") % 20 === 0
    def topk(cs: Array[Array[Double]]) =
      Similarity.ivfTopKWithCentroids(emb, pred, 5, cs, nprobe = 2)
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(topk(loaded) === topk(cents))
    assert(topk(loaded).nonEmpty)
    // incremental maintenance against the STORED index: merging a fresh
    // batch into the reloaded base state == the one-shot state of the union
    val merged = Similarity.mergeCellStats(
      Similarity.loadCellStats(spark, wd),
      Similarity.cellStats(emb.filter(col("vec_id") % 2 === 1), cents))
    val whole = Similarity.cellStats(emb, cents)
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty)
    // PQ codebooks round-trip bit-exactly too
    val books = Similarity.pqCodebooks(emb, m = 4, ksub = 4, iters = 1, salt = "persist")
    Similarity.savePqBooks(spark, wd, books)
    val lb = Similarity.loadPqBooks(spark, wd)
    assert(lb.length === books.length)
    books.zip(lb).foreach { case (ba, bb) =>
      ba.zip(bb).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    }
  }

  test("stored-index serving: assigned/codes stores serve identically and prune to probed cells") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    val cents = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2, salt = "asg")
    val assigned = Similarity.assignIvfCells(emb, cents)
    val pred = col("vec_id") % 20 === 0
    // pre-assigned serve ≡ in-line assignment, partial probe, both join shapes
    val inline = keys(Similarity.ivfTopKWithCentroids(emb, pred, 5, cents, nprobe = 3))
    assert(keys(Similarity.ivfTopKAssigned(assigned, pred, 5, cents, nprobe = 3)) === inline)
    assert(keys(Similarity.ivfTopKAssigned(assigned, pred, 5, cents, nprobe = 3,
      broadcastQueries = false)) === inline)
    assert(inline.nonEmpty)
    // persisted store round-trip: identical serve, and the probed-cell
    // predicate reaches the parquet scan as a static PARTITION filter —
    // the scan reads only the probed cells' directories, which is the
    // whole point of partitioning the store by cell
    val wd = java.nio.file.Files.createTempDirectory("annstore").toString
    Similarity.saveIvfAssigned(spark, wd, assigned, cents)
    val loaded = Similarity.loadIvfAssigned(spark, wd, cents)
    val served = Similarity.ivfTopKAssigned(loaded, pred, 5, cents, nprobe = 3)
    assert(keys(served) === inline)
    // the loaded store's partition-column cell (int from directory names)
    // also rides the sweep join unchanged
    assert(keys(Similarity.ivfTopKAssigned(loaded, pred, 5, cents, nprobe = 3,
      broadcastQueries = false)) === inline)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN[^\\]]*\\].*"),
      s"probed-cell IN filter must reach the store scan as a partition filter:\n$plan")
    // the stored PQ codes serve: identical to the in-line encode, both
    // join shapes, and from the persisted store with reloaded books
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 1, salt = "asg")
    val codes = Similarity.encodePqCodes(emb, books, cellBits = 4)
    def pqInline(bc: Boolean) = keys(Similarity.pqTopKWithBooks(
      emb, pred, k = 3, books, cellBits = 4, rerank = 50, broadcastQueries = bc))
    assert(keys(Similarity.pqTopKWithCodes(codes, emb, pred, 3, books,
      cellBits = 4, rerank = 50)) === pqInline(true))
    assert(keys(Similarity.pqTopKWithCodes(codes, emb, pred, 3, books,
      cellBits = 4, rerank = 50, broadcastQueries = false)) === pqInline(false))
    assert(pqInline(true).nonEmpty)
    Similarity.savePqBooks(spark, wd, books)
    Similarity.savePqCodes(spark, wd, codes, books, cellBits = 4)
    val (loadedCodes, storedBits) =
      Similarity.loadPqCodes(spark, wd, Similarity.loadPqBooks(spark, wd))
    assert(storedBits === 4, "the store must hand back the cellBits it was encoded at")
    val pqServed = Similarity.pqTopKWithCodes(
      loadedCodes, emb, pred, 3,
      Similarity.loadPqBooks(spark, wd), cellBits = storedBits, rerank = 50)
    assert(keys(pqServed) === pqInline(true))
    val pqPlan = pqServed.queryExecution.executedPlan.toString
    assert(pqPlan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN[^\\]]*\\].*"),
      s"query-cell IN filter must reach the code-store scan as a partition filter:\n$pqPlan")
    // the guard carries over: an oversized probe set strips the broadcast
    // and both stored serves stay result-identical on the sweep path
    def hinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
            if h.child.output.exists(_.name == "query_id") => h
      }.nonEmpty
    val guarded = Similarity.ivfTopKAssigned(
      loaded, col("vec_id") % 2 === 0, 3, cents, nprobe = 2, maxBroadcastProbes = 2)
    assert(!hinted(guarded), "assigned serve must strip the hint above maxBroadcastProbes")
    assert(keys(guarded) === keys(Similarity.ivfTopKAssigned(
      loaded, col("vec_id") % 2 === 0, 3, cents, nprobe = 2, broadcastQueries = false)))
    val pqGuarded = Similarity.pqTopKWithCodes(codes, emb,
      col("vec_id") % 2 === 0, 3, books, cellBits = 4, rerank = 50,
      maxBroadcastProbes = 2)
    assert(!hinted(pqGuarded), "codes serve must strip the hint above maxBroadcastProbes")
    assert(keys(pqGuarded) === keys(Similarity.pqTopKWithCodes(codes, emb,
      col("vec_id") % 2 === 0, 3, books, cellBits = 4, rerank = 50,
      broadcastQueries = false)))
    // the bounded probe fetch at its edges, over the stored ANN and PQ
    // serves in id and vector mode: a probe set of exactly the cap
    // (post-explode rows — nprobe per query for IVF, one per query for
    // PQ) keeps the broadcast, one row past it sweeps, and absent ids
    // serve nothing — each equal to the broadcastQueries = false sweep
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect().toSet
    def vecs(ids: Seq[Long]) = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    type Serve = (Seq[Long], Boolean, Int) => org.apache.spark.sql.DataFrame
    val modes: Seq[(String, Int, Serve)] = Seq(
      ("ann ids", 2, (ids, bc, cap) => Similarity.ivfTopKAssigned(loaded,
        col("vec_id").isin(ids: _*), 3, cents, nprobe = 2,
        broadcastQueries = bc, maxBroadcastProbes = cap)),
      ("ann vectors", 2, (ids, bc, cap) => Similarity.ivfTopKAssignedWith(loaded,
        vecs(ids), 3, cents, nprobe = 2, broadcastQueries = bc,
        maxBroadcastProbes = cap, excludeSelf = false)),
      ("pq ids", 1, (ids, bc, cap) => Similarity.pqTopKWithCodes(loadedCodes, emb,
        col("vec_id").isin(ids: _*), 3, books, cellBits = storedBits, rerank = 16,
        broadcastQueries = bc, maxBroadcastProbes = cap)),
      ("pq vectors", 1, (ids, bc, cap) => Similarity.pqTopKCodesWith(loadedCodes, emb,
        vecs(ids), 3, books, cellBits = storedBits, rerank = 16,
        broadcastQueries = bc, maxBroadcastProbes = cap, excludeSelf = false)))
    val ids = Seq(0L, 7L, 21L, 300L)
    val absent = Seq(1000000L)
    for ((mode, perQuery, serve) <- modes) {
      val cap = ids.size * perQuery
      val sweep = rows(serve(ids, false, cap))
      assert(sweep.nonEmpty, mode)
      val atCap = serve(ids, true, cap)
      assert(hinted(atCap), s"$mode: a probe set of exactly the cap keeps the broadcast")
      assert(rows(atCap) === sweep, mode)
      val overCap = serve(ids, true, cap - 1)
      assert(!hinted(overCap), s"$mode: one probe row past the cap falls back to the sweep")
      assert(rows(overCap) === sweep, mode)
      assert(rows(serve(absent, true, cap)).isEmpty, mode)
      assert(rows(serve(absent, false, cap)).isEmpty, mode)
    }
    // through the service: an absent id is a 200 with no rows
    val svc = RetrievalService(
      ann = Map("v" -> RetrievalService.AnnStore(loaded, cents)),
      pq = Map("v" -> RetrievalService.PqStore(loadedCodes, emb, books, storedBits)))
    for (r <- Seq(svc.annSearch("v", Some(absent), Some(3), Some(2)),
        svc.pqSearch("v", Some(absent), Some(3), Some(16)))) {
      assert(r.status === 200 && r.data.get.isEmpty)
    }
  }

  test("semDedup drops exactly the vectors with a smaller same-cell near-duplicate") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "spec")
    val out = Similarity.semDedup(emb, cents, tau = 0.4)
      .as[(Long, Int, Boolean)].collect().toSeq
    assert(out.size === emb.count()) // every vector accounted for, once
    assert(out.map(_._1).distinct.size === out.size)
    // naive replay on the collected rows: same keep rule, no cells trusted
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def d(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p.toDouble * q.toDouble }
      d(a, b) / math.sqrt(d(a, a) * d(b, b))
    }
    def cell(v: Seq[Float]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (c.zip(v).foldLeft(0.0) { case (s, (p, q)) => s + p * q }, i)
      }.max._2
    val byCell = vecs.groupBy(v => cell(v._2))
    val expectDropped = byCell.values.flatMap { vs =>
      vs.flatMap { case (id, v) =>
        if (vs.exists { case (id2, v2) => id2 < id && cos(v2, v) >= 0.4 }) Some(id) else None
      }
    }.toSet
    assert(out.filter(!_._3).map(_._1).toSet === expectDropped)
    assert(expectDropped.nonEmpty, "threshold too high: test exercises nothing")
    assert(out.count(_._3) > out.size / 2, "threshold too low: dropped most of corpus")
  }

  test("cell-size valve: a mega-cell splits into blocks with output unchanged") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val n = emb.count()
    // ONE centroid → every vector lands in cell 0: the degenerate
    // duplicate-heavy shape where the unvalved join enumerates n² pairs
    // in a single task (the canonicalByScore-style mega case)
    val one = Array(Array.fill(Similarity.Dim)(1.0 / math.sqrt(Similarity.Dim.toDouble)))
    val unvalved = Similarity.semDedup(emb, one, tau = 0.4, maxCellSize = Int.MaxValue)
      .as[(Long, Int, Boolean)].collect().toSet
    val valved = Similarity.semDedup(emb, one, tau = 0.4, maxCellSize = 50)
    assert(n > 100, "corpus too small to force a split") // ceil(n/50) blocks
    // the 2-D block split must actually engage (explode over the split range)
    assert(valved.queryExecution.executedPlan.toString.contains("Generate"),
      "valved plan shows no block fan-out")
    assert(valved.as[(Long, Int, Boolean)].collect().toSet === unvalved)
    // same contract for the kNN pair miner
    val mkUnvalved = Similarity.mutualKnn(emb, one, k = 3, maxCellSize = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    val mkValved = Similarity.mutualKnn(emb, one, k = 3, maxCellSize = 50)
      .as[(Long, Long, Double)].collect().toSet
    assert(mkValved === mkUnvalved)
    assert(mkUnvalved.nonEmpty)
  }

  test("knnClassify pseudo-labels probes from same-cell seed majority; valve preserves output") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val out = Similarity.knnClassify(emb, col("vec_id") % 5 === 0, k = 5)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.nonEmpty)
    // a tight cap forces the bipartite 2-D block split; output unchanged
    val valved = Similarity.knnClassify(emb, col("vec_id") % 5 === 0, k = 5,
      maxCellSize = 20)
    assert(valved.queryExecution.executedPlan.toString.contains("Generate"),
      "valved plan shows no block fan-out")
    assert(valved.as[(Long, Int, Long, Long)].collect().sortBy(_._1).toSeq === out)
    // driver-side reference: same cells, strict left-to-right double dots
    val cells = emb.select(col("vec_id"), col("label"),
        Similarity.srpCode(col("embedding"), 0, 4).as("cell"), col("embedding"))
      .as[(Long, Int, Long, Array[Float])].collect()
    def dotd(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0)((s, p) => s + p._1.toDouble * p._2.toDouble)
    val seeds = cells.filter(_._1 % 5 == 0)
    val probes = cells.filter(_._1 % 5 != 0)
    val want = probes.toSeq.flatMap { case (pid, _, pc, pe) =>
      val cands = seeds.filter(_._3 == pc).map { case (sid, sl, _, se) =>
        (dotd(pe, se) / (math.sqrt(dotd(pe, pe)) * math.sqrt(dotd(se, se))), sid, sl)
      }.sortBy { case (cos, sid, _) => (-cos, sid) }.take(5).toSeq
      if (cands.isEmpty) None
      else {
        val votes = cands.groupBy(_._3).view.mapValues(_.length.toLong).toSeq
        val (pl, pv) = votes.sortBy { case (l, v) => (-v, l) }.head
        Some((pid, pl, pv, cands.length.toLong))
      }
    }.sortBy(_._1)
    assert(out === want)
    // some probe must sit in a seedless cell OR every probe is covered —
    // either way the output never exceeds the probe count
    assert(out.length <= probes.length)
  }

  test("labelPropagate: seeds clamp, round 2 re-votes over round-1 labels, valve neutral") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val pred = col("vec_id") % 5 === 0
    val out = Similarity.labelPropagate(emb, pred, k = 5)
      .as[(Long, Int, String, Long, Long)].collect().sortBy(_._1).toSeq
    // seeds are clamped to their original labels with zero votes
    val trueLabels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val (seedRows, propRows) = out.partition(_._3 == "seed")
    assert(seedRows.nonEmpty && propRows.nonEmpty)
    seedRows.foreach { case (id, l, _, v, nv) =>
      assert(id % 5 == 0 && l == trueLabels(id) && v == 0L && nv == 0L)
    }
    propRows.foreach { case (id, _, _, v, nv) =>
      assert(id % 5 != 0 && v >= 1L && v <= nv && nv <= 5L)
    }
    // the tight valve must not change a single row
    val valved = Similarity.labelPropagate(emb, pred, k = 5, maxCellSize = 20)
      .as[(Long, Int, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(valved === out)
    // driver-side two-round reference (strict left-to-right double dots)
    val cells = emb.select(col("vec_id"), col("label"),
        Similarity.srpCode(col("embedding"), 0, 4).as("cell"), col("embedding"))
      .as[(Long, Int, Long, Array[Float])].collect()
    def dotd(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0)((s, p) => s + p._1.toDouble * p._2.toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double =
      dotd(a, b) / (math.sqrt(dotd(a, a)) * math.sqrt(dotd(b, b)))
    def majority(cands: Seq[(Double, Long, Int)]): Option[(Int, Long, Long)] = {
      val top = cands.sortBy { case (c, id, _) => (-c, id) }.take(5)
      if (top.isEmpty) None
      else {
        val votes = top.groupBy(_._3).view.mapValues(_.length.toLong).toSeq
        val (l, v) = votes.sortBy { case (l0, v0) => (-v0, l0) }.head
        Some((l, v, top.length.toLong))
      }
    }
    val seeds = cells.filter(_._1 % 5 == 0)
    val probes = cells.filter(_._1 % 5 != 0)
    val lab1: Map[Long, Int] = seeds.map(s => s._1 -> s._2).toMap ++
      probes.flatMap { case (pid, _, pc, pe) =>
        majority(seeds.filter(_._3 == pc).toSeq
          .map { case (sid, sl, _, se) => (cos(pe, se), sid, sl) })
          .map { case (l, _, _) => pid -> l }
      }.toMap
    val want = seeds.toSeq.map(s => (s._1, s._2, "seed", 0L, 0L)) ++
      probes.toSeq.flatMap { case (pid, _, pc, pe) =>
        val labeled = cells.filter(x => x._3 == pc && x._1 != pid)
          .toSeq.flatMap { case (nid, _, _, ne) =>
            lab1.get(nid).map(l => (cos(pe, ne), nid, l))
          }
        majority(labeled).map { case (l, v, nv) => (pid, l, "prop", v, nv) }
      }
    assert(out === want.sortBy(_._1))
  }

  test("kNN-join sweep survives a mega-cell: valved ≡ unvalved ≡ broadcast mode") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    // a 2-centroid quantizer concentrates ~half the corpus into each cell
    // — the sweep's worst case is one duplicate-heavy cell holding most
    // vectors on BOTH sides (queries = corpus slice); with cap = 50 the
    // bipartite valve must fan each such cell over its 2-D block grid
    // with the output pair set (and thus every top-k row) unchanged
    val s = 1.0 / math.sqrt(Similarity.Dim.toDouble)
    val two = Array(
      Array.fill(Similarity.Dim)(s),
      Array.tabulate(Similarity.Dim)(d => if (d % 2 == 0) s else -s))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect().toSet
    val pred = col("vec_id") % 4 === 0 // corpus-sized probe set: the sweep shape
    val unvalved = keys(Similarity.ivfTopKWithCentroids(
      emb, pred, k = 5, two, nprobe = 1,
      broadcastQueries = false, maxCellSize = Int.MaxValue))
    val valvedDf = Similarity.ivfTopKWithCentroids(
      emb, pred, k = 5, two, nprobe = 1,
      broadcastQueries = false, maxCellSize = 50)
    // plan assertion under the audit view: the executing result is an
    // eagerly pinned LogicalRDD scan, so the fan-out is visible only on
    // the inlined plan (the PlanAuditSpec convention)
    Pins.withAuditView {
      assert(Similarity.ivfTopKWithCentroids(
        emb, pred, k = 5, two, nprobe = 1,
        broadcastQueries = false, maxCellSize = 50)
        .queryExecution.executedPlan.toString.contains("Generate"),
        "valved sweep plan shows no block fan-out")
    }
    assert(keys(valvedDf) === unvalved)
    // and the broadcast (query-serving) mode agrees with both
    assert(keys(Similarity.ivfTopKWithCentroids(
      emb, pred, k = 5, two, nprobe = 1)) === unvalved)
    assert(unvalved.nonEmpty)
  }

  test("hardNegatives mines top-k same-cell sub-threshold neighbors, dup-free and deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "spec")
    val tau = 0.4
    val k = 3
    val out = Similarity.hardNegatives(emb, cents, tau, k)
      .as[(Long, Long, Double, Long)].collect().toSeq
    // no near-duplicate leaks into the negative set; ranks contiguous from 1
    assert(out.forall(_._3 < tau))
    out.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.map(_._4).sorted == (1L to rows.size.toLong), s"anchor $a ranks")
    }
    // naive driver replay: same-cell, sub-threshold, cosine-desc/id-asc top-k
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def d(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p.toDouble * q.toDouble }
    // bit-identical to the engine: dot / (nrm_a * nrm_b) with each norm
    // its own sqrt — sqrt(x)·sqrt(y) differs from sqrt(x·y) at ulp level
    def cos(a: Seq[Float], b: Seq[Float]) =
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    def cell(v: Seq[Float]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (c.zip(v).foldLeft(0.0) { case (s, (p, q)) => s + p * q }, i)
      }.max._2
    val byCell = vecs.groupBy(v => cell(v._2))
    val expect: Set[(Long, Long, Double, Long)] = byCell.values.toSeq.flatMap {
      vs: Array[(Long, Seq[Float])] =>
        vs.toSeq.flatMap { case (id, v) =>
          vs.toSeq
            .collect { case (id2, v2) if id2 != id => (id2, cos(v, v2)) }
            .filter { case (_, c) => c < tau }
            .sortBy { case (id2, c) => (-c, id2) }
            .take(k)
            .zipWithIndex
            .map { case ((n, c), i) => (id, n, c, i.toLong + 1L) }
        }
    }.toSet
    assert(out.toSet === expect)
    assert(out.nonEmpty, "tau too low: test exercises nothing")
  }

  test("cellPurity reports per-cell majority label and exact ppm share, smaller-label ties") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "spec")
    val out = Similarity.cellPurity(emb, cents)
      .as[(Int, Long, Int, Long, Long)].collect().toSeq
    assert(out.map(_._1).distinct.size === out.size) // one row per cell
    assert(out.map(_._2).sum === emb.count())        // cells partition the corpus
    // driver replay of counts + argmax
    val vecs = emb.select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect()
    def cell(v: Seq[Float]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (c.zip(v).foldLeft(0.0) { case (s, (p, q)) => s + p * q }, i)
      }.max._2
    val expect = vecs.groupBy(v => cell(v._2)).map { case (c, vs) =>
      val byLabel = vs.groupBy(_._3).map { case (l, g) => (l, g.size.toLong) }
      val (ml, mc) = byLabel.toSeq.sortBy { case (l, n) => (-n, l) }.head
      (c, vs.size.toLong, ml, mc, 1000000L * mc / vs.size)
    }.toSet
    assert(out.toSet === expect)
    // explicit tie case: two labels at equal count → smaller label wins
    val tie = Seq(
      (1L, Seq.fill(4)(1.0f), 7), (2L, Seq.fill(4)(1.0f), 3),
      (3L, Seq.fill(4)(1.0f), 7), (4L, Seq.fill(4)(1.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val one = Array(Array.fill(4)(0.5))
    val t = Similarity.cellPurity(tie, one)
      .as[(Int, Long, Int, Long, Long)].collect().toSeq
    assert(t === Seq((0, 4L, 3, 2L, 500000L)))
  }

  test("knnLabelAudit flags vectors whose same-cell neighbor vote disagrees with their label") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "spec")
    val k = 5
    val out = Similarity.knnLabelAudit(emb, cents, k)
      .as[(Long, Int, Int, Long, Long, Long, Boolean)].collect().toSeq
    assert(out.map(_._1).distinct.size === out.size)
    assert(out.forall(r => r._4 <= k && r._5 >= 1 && r._5 <= r._4 && r._6 <= r._4))
    assert(out.forall(r => r._7 === (r._2 != r._3)))
    // driver replay: same-cell cosine top-k, label vote, smaller-label tie
    val vecs = emb.select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect()
    def d(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p.toDouble * q.toDouble }
    def cos(a: Seq[Float], b: Seq[Float]) =
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    def cell(v: Seq[Float]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (c.zip(v).foldLeft(0.0) { case (s, (p, q)) => s + p * q }, i)
      }.max._2
    val expect: Set[(Long, Int, Int, Long, Long, Long, Boolean)] =
      vecs.groupBy(v => cell(v._2)).values.toSeq.flatMap {
        vs: Array[(Long, Seq[Float], Int)] =>
          vs.toSeq.flatMap { case (id, v, lbl) =>
            val neigh = vs.toSeq
              .collect { case (id2, v2, l2) if id2 != id => (id2, cos(v, v2), l2) }
              .sortBy { case (id2, c, _) => (-c, id2) }
              .take(k)
            if (neigh.isEmpty) None
            else {
              val byLabel = neigh.groupBy(_._3).map { case (l, g) => (l, g.size.toLong) }
              val (pl, pv) = byLabel.toSeq.sortBy { case (l, n) => (-n, l) }.head
              Some((id, lbl, pl, neigh.size.toLong, pv,
                byLabel.getOrElse(lbl, 0L), pl != lbl))
            }
          }
      }.toSet
    assert(out.toSet === expect)
    assert(out.exists(_._7), "no suspects found: audit exercises nothing")
    // the synthetic labels are (near-)independent of embedding geometry,
    // so self-agreement sits near the 1/|labels| random-vote floor — the
    // audit must still find SOME agreement, and flag most rows suspect
    assert(out.exists(!_._7), "no self-agreement at all")
    assert(out.count(_._7) > out.size / 2,
      "uncorrelated labels should make most rows suspects")
  }

  test("fertility reports exact per-source char/token sums; zero-token source gets NULL cpt") {
    val d = Seq(
      (1L, "ab cd", "s1", 5L), (2L, "x", "s1", 1L),
      (3L, "hello world", "s2", 11L),
      (4L, "", "s3", 0L), (5L, "  ", "s3", 2L))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = TextAnalysis.fertility(d).orderBy("source")
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq
    assert(out === Seq(
      ("s1", 2L, 6L, 3L, Some(2000000L)),  // 6 chars / 3 tokens
      ("s2", 1L, 11L, 2L, Some(5500000L)), // 11 / 2
      ("s3", 2L, 2L, 0L, None)))           // tokenizes to nothing
  }

  test("sourceDivergence: zero for a distribution-matching source, large for a disjoint one") {
    // s_same mirrors the corpus-dominant tokens; s_diff is disjoint junk
    val base = (1L to 20L).map(i => (i, "aa bb cc dd", "s_a"))
    val same = (21L to 40L).map(i => (i, "aa bb cc dd", "s_b"))
    val diff = (41L to 44L).map(i => (i, "zz yy xx ww", "s_diff"))
    val d = (base ++ same ++ diff).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.sourceDivergence(d, dim = 64)
      .orderBy("source")
      .as[(String, Long, Long, Long)].collect().toSeq
    val m = out.map(r => r._1 -> r).toMap
    assert(m("s_a")._2 === 80L) // 20 docs × 4 tokens
    // tv2 bounded by 2e6 and ordered: matching sources drift far less
    // than the disjoint one (whose mass sits wholly off the corpus mode)
    assert(out.forall(_._4 <= 2000000L))
    assert(m("s_a")._4 === m("s_b")._4) // identical distributions, equal drift
    assert(m("s_diff")._4 > m("s_a")._4 * 5)
    // a single-source corpus has zero drift by construction (p ≡ q)
    val solo = TextAnalysis.sourceDivergence(
      base.toDF("doc_id", "text", "source"), dim = 16)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(solo === Seq(("s_a", 80L, solo.head._3, 0L)))
  }

  test("cellOutliers scores cosine to the OWN cell centroid; flag below tau") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "spec")
    val tau = 0.3
    val out = Similarity.cellOutliers(emb, cents, tau)
      .as[(Long, Int, Double, Boolean)].collect().toSeq
    assert(out.size === emb.count())
    assert(out.map(_._1).distinct.size === out.size) // each vector once
    // driver replay with the identical left-fold operation order
    def fold(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    out.foreach { case (id, cell, cos, flag) =>
      val v = vecs(id)
      val c = cents(cell).toSeq
      val expect = fold(c, v) / (math.sqrt(fold(c, c)) * math.sqrt(fold(v, v)))
      assert(cos === expect, s"vec $id") // bit-exact, not approx
      assert(flag === (cos < tau))
    }
    // the score separates: both classes present at this tau on testdata
    assert(out.exists(_._4) && out.exists(!_._4))
  }

  test("cellStats merges exactly and refreshes centroids toward the member means") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "spec")
    val whole = Similarity.cellStats(emb, cents)
    // disjoint halves merge into EXACTLY the one-shot state (DECIMAL sums)
    val h1 = Similarity.cellStats(emb.filter(col("vec_id") % 2 === 0), cents)
    val h2 = Similarity.cellStats(emb.filter(col("vec_id") % 2 === 1), cents)
    val merged = Similarity.mergeCellStats(h1, h2)
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty)
    // counts: every vector contributes to exactly one cell, all dims
    val n = emb.count()
    val dimRows = whole.groupBy("dim").agg(sum("n").as("tot"))
    assert(dimRows.filter(col("tot") =!= n).isEmpty)
    // refreshed centroid = member mean per coordinate (driver replay)
    val refreshed = Similarity.centroidsFromStats(whole)
      .as[(Int, Int, Double)].collect()
      .map { case (c, d, v) => (c, d) -> v }.toMap
    val members = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect()
      .groupBy { case (_, v) =>
        cents.zipWithIndex.map { case (cn, i) =>
          (cn.zip(v).foldLeft(0.0) { case (s, (p, q)) => s + p * q.toDouble }, i)
        }.max._2
      }
    members.foreach { case (c, vs) =>
      (0 until 4).foreach { d => // spot-check leading dims
        val mean = vs.map(_._2(d).toDouble).sum / vs.size
        assert(math.abs(refreshed((c, d)) - mean) < 1e-5,
          s"cell $c dim $d: ${refreshed((c, d))} vs $mean")
      }
    }
  }

  test("mutualKnn mines exactly the reciprocal within-cell top-k pairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 2, salt = "spec")
    val k = 3
    val out = Similarity.mutualKnn(emb, cents, k)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    assert(out.forall(p => p._1 < p._2))
    // naive replay on collected rows
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def d(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      d(ad, bd) / math.sqrt(d(ad, ad) * d(bd, bd))
    }
    def cell(v: Seq[Float]): Int =
      cents.zipWithIndex.map { case (c, i) => (d(c.toSeq, v.map(_.toDouble)), i) }.max._2
    val topOf = vecs.groupBy(v => cell(v._2)).values.flatMap { vs =>
      vs.map { case (id, v) =>
        id -> vs.filter(_._1 != id)
          .map { case (id2, v2) => (id2, cos(v, v2)) }
          .sortBy { case (id2, c) => (-c, id2) }
          .take(k).map(_._1).toSet
      }
    }.toMap
    val expected = (for {
      (a, ta) <- topOf.toSeq; b <- ta
      if a < b && topOf(b).contains(a)
    } yield (a, b)).toSet
    assert(out.map(p => (p._1, p._2)).toSet === expected)
    // mutuality genuinely prunes one-sided candidates
    val oneSided = (for { (a, ta) <- topOf.toSeq; b <- ta } yield
      (math.min(a, b), math.max(a, b))).toSet
    assert(expected.size < oneSided.size)
  }

  test("nearDupPairs contains no false positives and no self/inverted pairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.nearDupPairs(emb, 0.3).collect()
    assert(out.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
    assert(out.forall(r => r.getAs[Double]("cosine") >= 0.3))
  }

  test("canonicalByScore keeps exactly the best-scoring member per cluster") {
    val docs1 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cl = Dedup.clusters(Dedup.minHashLsh(docs1)).cache()
    val out = Dedup.canonicalByScore(cl,
      docs1.select(col("doc_id"), col("n_chars").as("score")))
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.nonEmpty && out.length === cl.count().toInt)
    // driver replay: per cluster, the (score desc, id asc) head is kept
    out.groupBy(_._2).foreach { case (c, members) =>
      val winner = members.minBy { case (id, _, sc, _) => (-sc, id) }._1
      members.foreach { case (id, _, _, kept) =>
        assert(kept === (id === winner), s"cluster $c: $id kept=$kept")
      }
    }
    // exactly one kept per cluster
    assert(out.filter(_._4).map(_._2).distinct.length === out.map(_._2).distinct.length)
    // a mega-cluster (many identical scores) still keeps exactly one —
    // the min-id member — through the salted two-stage argmax
    val mega = (1L to 5000L).map(i => (i, 1L)).toDF("doc_id", "cluster_id")
    val megaOut = Dedup.canonicalByScore(mega,
      (1L to 5000L).map(i => (i, 7L)).toDF("doc_id", "score"))
    assert(megaOut.filter(col("kept")).select("doc_id").as[Long].collect().toSeq
      === Seq(1L))
    assert(megaOut.count() === 5000L)
  }

  test("dedupAgainst drops exactly the docs with a cross-corpus minHashLsh twin") {
    val docs1 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val newDocs = docs1.filter(col("doc_id") % 2 === 1)
    val kept = docs1.filter(col("doc_id") % 2 === 0)
    val out = Dedup.dedupAgainst(newDocs, kept)
    assert(out.columns.toSeq === newDocs.columns.toSeq) // original schema back
    // the symmetric miner on the union: its odd↔even pairs are exactly the
    // bipartite hits (band collision + J ≥ t are symmetric properties)
    val crossPairs = Dedup.minHashLsh(docs1)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 2) != (b % 2) }
    val expectedDropped = crossPairs
      .map { case (a, b, _) => if (a % 2 == 1) a else b }.toSet
    val newIds = newDocs.select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().toSet ===
      newIds -- expectedDropped)
    assert(expectedDropped.nonEmpty, "no cross-parity dups: test exercises nothing")
    // a doc identical to a reference doc never survives
    val twin = Seq((1001L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val refTwin = Seq((2L, "alpha beta gamma delta epsilon zeta"),
      (4L, "totally unrelated reference page text")).toDF("doc_id", "text")
    assert(Dedup.dedupAgainst(twin, refTwin).isEmpty)
    // and with an unrelated reference it survives untouched
    assert(Dedup.dedupAgainst(twin, refTwin.filter(col("doc_id") === 4L))
      .count() === 1L)
  }

  test("winnow-overlap pairs match a driver replay; boilerplate fingerprints never pair") {
    // driver replay on the real corpus: same fp table (engine-computed,
    // independently oracled), df filter, pair count, containment
    val docs1 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fps = TextAnalysis.winnowFingerprints(docs1)
      .as[(Long, Long)].collect().toSeq
    val df = fps.groupBy(_._2).view.mapValues(_.size).toMap
    val sizes = fps.groupBy(_._1).view.mapValues(_.size).toMap
    val kept = fps.filter { case (_, fp) => df(fp) <= 16 }
    val expected = kept.groupBy(_._2).values.flatMap { group =>
      val ids = group.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= 3)
      .map { case ((a, b), ns) =>
        (a, b, ns.toLong, sizes(a).toLong, sizes(b).toLong,
          ns.toDouble / math.min(sizes(a), sizes(b)).toDouble)
      }.toSet
    val got = Dedup.winnowOverlapPairs(docs1, minShared = 3L, maxDf = 16L)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty, "corpus has no overlapping pairs: test exercises nothing")
    assert(got.forall { case (a, b, ns, na, nb, c) =>
      a < b && c <= 1.0 && ns <= math.min(na, nb) })
    // constructed case: a paragraph lifted between two docs pairs them; a
    // boilerplate page shared by MANY docs (df > maxDf on every one of its
    // fingerprints) pairs nobody — even though those docs are IDENTICAL
    val lifted = "the quick brown fox jumps over the lazy dog again and again"
    val d = ((1L to 20L).map(i => (i, "copyright standard header line")) ++
      Seq((100L, s"$lifted plus tail alpha"), (101L, s"$lifted plus tail beta")))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(d, minShared = 2L, maxDf = 5L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((100L, 101L)),
      "exactly the lifted-paragraph pair: boilerplate-only overlap never pairs")
  }

  test("semantic decontamination drops exactly the band-collided pairs verified at tau") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val train = emb.filter(col("vec_id") % 3 =!= 0)
    val ev = emb.filter(col("vec_id") % 97 === 1)
    val out = Similarity.decontaminateSemantic(train, ev, tau = 0.35)
    assert(out.columns.toSeq === train.columns.toSeq) // original schema back
    // driver replay of the full contract: SRP band signatures (the same
    // srpPlane constants), bipartite band collision, exact-cosine verify
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def fold(a: Seq[Double], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (p, q)) => s + p * q.toDouble }
    def dotf(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (p, q)) => s + p.toDouble * q.toDouble }
    val planes = (0 until 24).map(p => Similarity.srpPlane(p))
    def sig(v: Seq[Float], band: Int): Long =
      (0 until 4).map { r =>
        if (fold(planes(band * 4 + r), v) > 0.0) 1L << r else 0L
      }.sum
    val trainIds = vecs.keys.filter(_ % 3 != 0).toSeq.sorted
    val evalIds = vecs.keys.filter(_ % 97 == 1).toSeq
    val dropped = trainIds.filter { t =>
      evalIds.exists { e =>
        (0 until 6).exists(b => sig(vecs(t), b) == sig(vecs(e), b)) && {
          val c = dotf(vecs(t), vecs(e)) /
            (math.sqrt(dotf(vecs(t), vecs(t))) * math.sqrt(dotf(vecs(e), vecs(e))))
          c >= 0.35
        }
      }
    }.toSet
    assert(out.select("vec_id").as[Long].collect().toSet ===
      trainIds.toSet -- dropped)
    // ids in BOTH train and eval are self-pairs (cosine 1, every band
    // collides) — always dropped; and the threshold exercises something
    val overlap = trainIds.toSet.intersect(evalIds.toSet)
    assert(overlap.nonEmpty && overlap.subsetOf(dropped))
    assert(dropped.size < trainIds.size, "tau too low: dropped everything")
  }

  test("prefix-filtered ngramJaccardPairs equals the naive all-pairs scan (both modes)") {
    val s = docs
      .select(col("doc_id"), TextFunctions.shingleSet(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val naive = s.as("a")
      .join(s.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        TextFunctions.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.ngramJaccardPairs(docs, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val canonical = Dedup.ngramJaccardPairs(docs, 0.3, canonicalize = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(direct === naive)
    assert(canonical === naive)
    assert(naive.nonEmpty || direct.isEmpty) // degenerate-corpus guard
  }

  test("prefix bound survives thresholds whose t·|A| is an exact integer") {
    // t=0.5 with |A| ∈ {4,6,8,…}: t·|A| is mathematically integral, where
    // an unguarded ceil of the double product can overshoot and shorten
    // the prefix below the Bayardo bound. Construct pairs whose jaccard is
    // exactly t so any dropped boundary candidate shows up as a miss.
    val d = Seq(
      (1L, "a b c d e f"), // shingles {abc,bcd,cde,def}
      (2L, "a b c d x y"), // shares {abc,bcd} of 4 each → J = 2/6 = 1/3
      (3L, "a b c d e z"), // with 1: shares {abc,bcd,cde} → J = 3/5
      (4L, "p q r s t u"))
      .toDF("doc_id", "text")
    def naive(t: Double) = {
      val s = d.select(col("doc_id"), TextFunctions.shingleSet(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
      s.as("a").join(s.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          TextFunctions.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
        .filter(col("jaccard") >= t)
        .as[(Long, Long, Double)].collect().toSet
    }
    for (t <- Seq(1.0 / 3.0, 0.5, 0.6)) {
      val got = Dedup.ngramJaccardPairs(d, t).as[(Long, Long, Double)].collect().toSet
      assert(got === naive(t), s"threshold $t")
      assert(got.nonEmpty, s"threshold $t found nothing — fixture broken")
    }
  }

  test("canonicalize + maxShingleDf caps by corpus-level document frequency") {
    // duplicate-heavy corpus: every doc duplicated once. Corpus-level DF
    // of each shingle is ≥2, so cap=3 with 2 copies of 2 docs sharing a
    // shingle caps it; a per-representative DF (1 each) would not. The
    // capped canonical path must equal the capped direct path.
    val dup = docs.limit(20).unionByName(
      docs.limit(20).withColumn("doc_id", col("doc_id") + 100000))
    val direct = Dedup.ngramJaccardPairs(dup, 0.3, maxShingleDf = Some(3))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val canonical = Dedup.ngramJaccardPairs(
      dup, 0.3, maxShingleDf = Some(3), canonicalize = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // canonical ⊇ direct: it additionally keeps identical-set pairs whose
    // every shingle is hot (documented recall improvement); all other
    // pairs agree because the hot set is computed over the full corpus
    assert(direct.subsetOf(canonical))
    val extras = canonical -- direct
    // every extra must be an identical-content pair (jaccard 1 group)
    val fps = dup.select(col("doc_id"),
      md5(to_json(TextFunctions.shingleSet(col("text")))).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(extras.forall { case (a, b) => fps(a) === fps(b) })
  }

  test("canonicalized miners equal their direct forms on a duplicate-heavy corpus") {
    val dup = docs.limit(20).unionByName(
      docs.limit(20).withColumn("doc_id", col("doc_id") + 100000))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairSet(Dedup.minHashLsh(dup, canonicalize = true)) ===
      pairSet(Dedup.minHashLsh(dup)))
    assert(pairSet(Dedup.simHashPairs(dup, 2, canonicalize = true)) ===
      pairSet(Dedup.simHashPairs(dup, 2)))
  }

  test("plan audit: blocked pair enumeration never plans a cartesian product") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).cache()
    val plans = Map(
      "simHashPairs" -> Dedup.simHashPairs(docs, 2),
      "minHashLsh" -> Dedup.minHashLsh(docs),
      "ngramJaccard" -> Dedup.ngramJaccardPairs(docs, 0.6),
      "nearDupPairs" -> Similarity.nearDupPairs(emb, 0.35),
      "ivfTopK" -> Similarity.ivfTopK(emb, col("vec_id") % 10 === 0, 3))
      .view.mapValues(_.queryExecution.executedPlan.toString)
    plans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested-loop join")
    }
  }

  test("dot product nulls out on dimension mismatch instead of partial results") {
    val d = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (Array(1.0f, 2.0f, 9.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d"))
      .as[Option[Double]].collect()
    assert(d(0) === Some(11.0))
    assert(d(1) === None)
  }

  test("bpe-ish token counting splits letter runs, digit runs, and punctuation") {
    // "It's 42 red-ish apples!" lower→ letters{it,s,red,ish,apples} digits{42}
    // punct{' - !} → 5 + 1 + 3 = 9; whitespace tokens = 4
    val d = Seq((1L, "It's 42 red-ish apples!")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenCountsBpe(d).head()
    assert(out.getAs[Long]("n_whitespace") === 4L)
    assert(out.getAs[Long]("n_bpeish") === 9L)
  }

  test("winnowing guarantees a shared fingerprint for shared substrings >= k+w-1") {
    // docs share the 20-char substring; winnowing with k=5,w=4 must give
    // them at least one common fingerprint, while unrelated docs share none
    val shared = "the quick brown fox!"
    val d = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"XXXXXX $shared YYYY"),
      (3L, "completely different content 123"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(d)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    // density sanity: far fewer fingerprints than positions
    assert(fps(1L).size < shared.length + 10)
  }

  test("positional winnowing selects the rightmost window minimum with its 1-based position") {
    val d = Seq((1L, "abcdefghabcdefgh")).toDF("doc_id", "text")
    val pos = TextAnalysis.winnowFingerprintsPos(d, k = 5, w = 4)
      .as[(Long, Long, Long)].collect().toSeq
    // every selected position addresses a real k-gram, fp = h60 of it
    val text = "abcdefghabcdefgh"
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    pos.foreach { case (_, p, f) =>
      assert(p >= 1 && p <= text.length - 5 + 1)
      assert(f === h60(text.substring(p.toInt - 1, p.toInt + 4)), s"pos $p")
    }
    // driver replay of the rightmost-min selection
    val hs = (0 until text.length - 4).map(i => h60(text.substring(i, i + 5)))
    val expect = (0 to hs.length - 4).map { s =>
      val win = (s until s + 4)
      val mn = win.map(hs).min
      val mp = win.filter(j => hs(j) == mn).max // rightmost
      (1L, (mp + 1).toLong, mn)
    }.distinct.toSet
    assert(pos.toSet === expect)
    // the positionless form's fingerprint SET is reproduced exactly
    val flat = TextAnalysis.winnowFingerprints(d, 5, 4)
      .as[(Long, Long)].collect().map(_._2).toSet
    assert(pos.map(_._3).toSet === flat)
  }

  test("winnowSpanPairs localizes a planted copied span on one diagonal") {
    val span = "the rain in spain falls mainly on the plain!"
    val a = s"0123 ze*ro pre&amble $span post one"
    val b = s"completely other lead-in text .. $span tail@"
    val c = "unrelated content with no overlap at all 999"
    val d = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = Dedup.winnowSpanPairs(d, minMatches = 3, maxDf = 16)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) === Seq((1L, 2L))) // only the copied pair
    val (_, _, diag, n, lo, hi, spanChars) = out.head
    // the alignment offset is exactly the difference of the span starts
    assert(diag === (a.indexOf(span) - b.indexOf(span)).toLong)
    assert(n >= 3L)
    // the aligned extent sits inside the planted span on the a side
    assert(lo >= a.indexOf(span) + 1 && hi <= a.indexOf(span) + span.length)
    assert(spanChars === hi - lo + 5)
    assert(spanChars <= span.length)
  }

  test("fast winnowing mode keeps the shared-substring guarantee") {
    // the polynomial-hash path must give the same structural guarantee as
    // the portable mode: any k-gram hash works for winnowing, only the
    // fingerprint VALUES differ
    val shared = "the quick brown fox!"
    val d = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"XXXXXX $shared YYYY"),
      (3L, "completely different content 123"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(d, portableHash = false)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    // every fingerprint stays under the Mersenne modulus (pure long path)
    assert(fps.values.flatten.forall(h => h >= 0 && h < TextAnalysis.FastHashMod))
  }

  test("distributed BPE training equals a driver-side reference for 12 merges") {
    // driver-side reference: same greedy argmax + left-to-right merge
    def mergeRef(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    def trainRef(wc: Map[String, Long], k: Int): List[(String, String, Long)] = {
      var words = wc.toList.map { case (w, c) => (w.split("").toVector, c) }
      val out = List.newBuilder[(String, String, Long)]
      var rank = 0
      var done = false
      while (rank < k && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (syms, c) =>
          syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c)
        }
        if (counts.isEmpty) done = true
        else {
          val ((l, r), n) = counts.toList.minBy { case ((l, r), n) => (-n, l, r) }
          out += ((l, r, n))
          words = words.map { case (syms, c) => (mergeRef(syms, l, r), c) }
          rank += 1
        }
      }
      out.result()
    }
    val wc = docs
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").count()
      .as[(String, Long)].collect().toMap
    val expected = trainRef(wc, 12)
    val got = TextAnalysis.bpeTrain(docs, 12)
      .map(m => (m.left, m.right, m.pair_count))
    assert(got === expected)
    assert(got.size === 12)

    // segmentation through the learned merges is lossless per document
    val merges = TextAnalysis.bpeTrain(docs, 12)
    val seg = TextAnalysis.bpeSegment(docs, merges)
      .select(col("doc_id"), concat_ws("", col("bpe_syms")).as("joined"))
    val orig = docs.select(col("doc_id"),
      concat_ws("", TextFunctions.tokens(col("text"))).as("joined"))
    assert(seg.as[(Long, String)].collect().toMap ===
      orig.as[(Long, String)].collect().toMap)
    // and it actually merged something: fewer symbols than characters
    val nSyms = TextAnalysis.bpeSegment(docs, merges)
      .select(sum(size(col("bpe_syms")))).head().getLong(0)
    val nChars = orig.select(sum(length(col("joined")))).head().getLong(0)
    assert(nSyms < nChars)
  }

  test("bpeTrainBatched runs ≥4× fewer Spark jobs than sequential for a 64-merge train") {
    // count jobs via job groups; the status tracker is fed asynchronously,
    // so poll until the group's job count stops moving
    def jobs(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      var prev = -1
      var cur = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      var spins = 0
      while (cur != prev && spins < 50) {
        Thread.sleep(100)
        prev = cur
        cur = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
        spins += 1
      }
      cur
    }
    var exact: Seq[TextAnalysis.BpeMerge] = Seq.empty
    var batched: Seq[TextAnalysis.BpeMerge] = Seq.empty
    val exactJobs = jobs("bpe-exact") { exact = TextAnalysis.bpeTrain(docs, 64) }
    val batchedJobs = jobs("bpe-batched") {
      batched = TextAnalysis.bpeTrainBatched(docs, 64, batchSize = 16)
    }
    assert(exact.size === 64 && batched.size === 64)
    assert(batchedJobs * 4 <= exactJobs,
      s"batched=$batchedJobs jobs vs exact=$exactJobs — batching did not amortize")
    // both orderings start from the same snapshot argmax, and the batched
    // list never repeats a pair
    assert(batched.head.copy(rank = exact.head.rank) === exact.head)
    assert(batched.map(m => (m.left, m.right)).distinct.size === 64)
    // segmentation through the batched vocabulary is still lossless
    val seg = TextAnalysis.bpeSegment(docs, batched)
      .select(col("doc_id"), concat_ws("", col("bpe_syms")).as("joined"))
    val orig = docs.select(col("doc_id"),
      concat_ws("", TextFunctions.tokens(col("text"))).as("joined"))
    assert(seg.as[(Long, String)].collect().toMap ===
      orig.as[(Long, String)].collect().toMap)
  }

  test("bpeSegment applies a 256-merge vocabulary without a deep expression tree") {
    // fabricated vocabulary: all 256 single-char pairs over a-p, applied in
    // rank order — 8 re-materialized chunks of 32, never one 256-deep plan
    val letters = "abcdefghijklmnop"
    val merges = (for { l <- letters; r <- letters } yield (l.toString, r.toString))
      .zipWithIndex.map { case ((l, r), i) => TextAnalysis.BpeMerge(i + 1, l, r, 1L) }
      .toSeq
    val d = Seq(
      (1L, "abcd efgh ijkl mnop zebra quartz"),
      (2L, "the quick brown fox jumps over pale ponds"),
      (3L, "aaaa abab cdcd")).toDF("doc_id", "text")
    // driver-side reference: the same greedy left-to-right fold per word
    def mergeRef(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    def segRef(text: String): Vector[String] =
      text.split("\\s+").filter(_.nonEmpty).toVector.flatMap { w =>
        merges.foldLeft(w.split("").toVector) { (syms, m) => mergeRef(syms, m.left, m.right) }
      }
    val got = TextAnalysis.bpeSegment(d, merges)
      .select("doc_id", "bpe_syms").as[(Long, Seq[String])]
      .collect().toMap
    val texts = d.select("doc_id", "text").as[(Long, String)].collect().toMap
    texts.foreach { case (id, text) =>
      assert(got(id).toVector === segRef(text.toLowerCase), s"doc $id")
    }
    // the vocabulary actually bit: adjacent a-p pairs merged
    assert(got(3L).contains("ab") && got(3L).contains("cd"))
  }

  test("int8 quantization codes stay in [0,255]; round-trip error <= scale/2") {
    val vecs = Seq(
      (1L, Seq(0.5f, -1.25f, 3.75f, 0.0f)),
      (2L, Seq(2.0f, 2.0f, 2.0f))) // constant vector → scale 0, all-zero codes
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs).cache()
    val rows = q.orderBy("vec_id")
      .as[(Long, Double, Double, Seq[Long])].collect()
    assert(rows.forall(_._4.forall(c => c >= 0 && c <= 255)))
    assert(rows(0)._2 === -1.25 && math.abs(rows(0)._3 - 5.0 / 255.0) < 1e-12)
    assert(rows(1)._3 === 0.0 && rows(1)._4 === Seq(0L, 0L, 0L))
    val recon = Similarity.dequantizeInt8(q)
      .orderBy("vec_id").as[(Long, Seq[Float])].collect().map(r => r._1 -> r._2).toMap
    val orig = vecs.as[(Long, Seq[Float])].collect().toMap
    orig.foreach { case (id, v) =>
      val scale = rows(id.toInt - 1)._3
      v.zip(recon(id)).foreach { case (o, r) =>
        assert(math.abs(o - r) <= scale / 2 + 1e-6, s"vec $id: $o vs $r")
      }
    }
  }

  test("repetitionScores computes Gopher-style token/bigram/trigram repetition") {
    val d = Seq(
      (1L, "a a b"),           // dup 1-2/3; bigrams {a a, a b} top 1/2; no dup trigram
      (2L, "x y x y x y"),     // dup 1-2/6; top bigram 3/5; every trigram duplicated
      (3L, "q"))               // too short for gram levels
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionScores(d).orderBy("doc_id")
      .as[(Long, Long, Double, Double, Double)].collect()
    val eps = 1e-12
    val r1 = out(0); val r2 = out(1); val r3 = out(2)
    assert(r1._2 === 3L && math.abs(r1._3 - (1.0 - 2.0 / 3.0)) < eps)
    assert(math.abs(r1._4 - 0.5) < eps && r1._5 === 0.0)
    assert(math.abs(r2._3 - (1.0 - 2.0 / 6.0)) < eps)
    assert(math.abs(r2._4 - 3.0 / 5.0) < eps && r2._5 === 1.0)
    assert(r3._2 === 1L && r3._3 === 0.0 && r3._4 === 0.0 && r3._5 === 0.0)
  }

  test("redact scrubs emails and phone numbers, counting the matches") {
    val d = Seq(
      (1L, "contact me at bob@example.com or 555-123-4567 ok"),
      (2L, "no pii here"),
      (3L, "two mails a@b.co c@d.org"))
      .toDF("doc_id", "text")
    val out = Curate.redact(d).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    assert(out(0)._2 === "contact me at <EMAIL> or <PHONE> ok" && out(0)._3 === 2L)
    assert(out(1)._2 === "no pii here" && out(1)._3 === 0L)
    assert(out(2)._2 === "two mails <EMAIL> <EMAIL>" && out(2)._3 === 2L)
  }

  test("languageId falls back to und when no stopword list hits") {
    val d = Seq((1L, "zzz qqq xxx"), (2L, "the cat is on the mat")).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(d).orderBy("doc_id")
      .select("guessed_lang").as[String].collect()
    assert(out === Array("und", "en"))
  }

  test("vocabulary ranks tokens by occurrences with doc frequency") {
    val d = Seq((1L, "a a b c"), (2L, "a b b")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(d, topK = 2)
      .as[(String, Long, Long)].collect()
    assert(out === Array(("a", 3L, 2L), ("b", 3L, 2L))) // tie → token order
  }

  test("qualityScores guards zero-length and zero-token documents") {
    val d = Seq((1L, ""), (2L, "hi there.")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityScores(d).orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("punct_ratio") === 0.0)
    assert(out(0).getAs[Double]("stopword_ratio") === 0.0)
    assert(out(0).getAs[Double]("mean_token_len") === 0.0)
    assert(out(1).getAs[Double]("punct_ratio") > 0.0)
  }

  test("NearestCodes expression ≡ the per-subspace nearestCode literal form, " +
    "bit-for-bit (incl. ties), and WeightedSum ≡ the scalar-literal margin") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(150).cache()
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 1, salt = "nceq")
    val sub = Similarity.Dim / books.length
    // legacy shape: one nearestCode struct tree per subspace over a slice
    val legacy = emb.select(col("vec_id"),
      array((0 until books.length).map(s =>
        LegacyForms.nearestCode(books(s),
          slice(col("embedding"), s * sub + 1, sub))): _*).as("codes"))
      .orderBy("vec_id").select("codes").as[Seq[Int]].collect().toSeq
    val fused = Similarity.pqEncode(emb, books)
      .orderBy("vec_id").select("codes").as[Seq[Int]].collect().toSeq
    assert(fused === legacy)
    // tie rule: two identical codewords must pick the LARGER code, as the
    // struct array_max did
    val tieBooks = Array(Array(Array.fill(Similarity.Dim)(0.5),
      Array.fill(Similarity.Dim)(0.5)))
    val tie = Similarity.pqEncode(emb.limit(5), tieBooks)
      .select("codes").as[Seq[Int]].collect()
    assert(tie.forall(_ === Seq(1)))
    // WeightedSum ≡ Σ f·lit(w) reduce, on the real feature vector
    val lf = Classify.labeledFeatures(docs)
    val w = Array(0.25, -1.5, 3.0, 0.0, -0.125)
    val viaLits = Classify.featureVector.zip(w)
      .map { case (f, wi) => f * lit(wi) }.reduce(_ + _)
    val both = lf.select(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.WeightedSum(w,
          Classify.featureVector.map(
            org.apache.spark.sql.graft.ColumnBridge.expression))).as("a"),
      viaLits.as("b"))
      .select((col("a") === col("b")).as("eq")).as[Boolean].collect()
    assert(both.nonEmpty && both.forall(identity))
  }

  test("NearestCellScore/TopCells ≡ the cellScores literal forms, bit-for-bit " +
    "(argmax struct, probe order incl. ties)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(150).cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 17, iters = 1, salt = "nceq2")
    // argmax struct: same winning (s, i) as array_max over the literal array
    val legacyBest = emb.select(col("vec_id"),
      array_max(LegacyForms.cellScores(col("embedding"), cents)).as("best"))
      .orderBy("vec_id").select(col("best.s"), col("best.i"))
      .as[(Double, Int)].collect().toSeq
    val fusedBest = emb.select(col("vec_id"),
      Similarity.bestCell(col("embedding"), cents).as("best"))
      .orderBy("vec_id").select(col("best.s"), col("best.i"))
      .as[(Double, Int)].collect().toSeq
    assert(fusedBest === legacyBest)
    // probe list: same ids in the same order as the reversed ascending sort
    val nprobe = 5
    val legacyProbe = emb.select(col("vec_id"),
      transform(
        slice(reverse(array_sort(LegacyForms.cellScores(col("embedding"), cents))),
          1, nprobe),
        s => s.getField("i")).as("cells"))
      .orderBy("vec_id").select("cells").as[Seq[Int]].collect().toSeq
    val fusedProbe = emb.select(col("vec_id"),
      Similarity.topCells(col("embedding"), cents, nprobe).as("cells"))
      .orderBy("vec_id").select("cells").as[Seq[Int]].collect().toSeq
    assert(fusedProbe === legacyProbe)
    // tie rule: identical centroids — argmax picks the LARGER cell id and
    // the probe list orders equal scores by descending id, as the struct
    // sort did
    val tieCents = Array.fill(3)(Array.fill(Similarity.Dim)(0.25))
    val tieBest = emb.limit(5)
      .select(Similarity.bestCell(col("embedding"), tieCents).getField("i"))
      .as[Int].collect()
    assert(tieBest.forall(_ == 2))
    val tieProbe = emb.limit(5)
      .select(Similarity.topCells(col("embedding"), tieCents, 2))
      .as[Seq[Int]].collect()
    assert(tieProbe.forall(_ === Seq(2, 1)))
  }

  test("AdcScore expression ≡ the literal-table ADC chain, bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(150).cache()
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 1, salt = "adceq")
    val coded = Similarity.pqEncode(emb, books)
      .join(emb, "vec_id")
      .select(col("vec_id"), col("embedding"), col("codes"))
    val both = coded.select(
      Similarity.adcScore(books, col("embedding"), col("codes")).as("a"),
      LegacyForms.adcScore(books, col("embedding"), col("codes")).as("b"))
      .select((col("a") === col("b")).as("eq")).as[Boolean].collect()
    assert(both.nonEmpty && both.forall(identity))
  }

  test("pq codes are in range; full-rerank IVF-PQ equals exact-scored IVF") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(120).cache()
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    assert(books.length === 8 && books.forall(_.length === 16))
    assert(books.forall(_.forall(_.length === 8))) // 64 dims / 8 subspaces
    val codes = Similarity.pqEncode(emb, books)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // training is deterministic: a second run yields identical codebooks
    val again = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    assert(books.map(_.map(_.toSeq).toSeq).toSeq === again.map(_.map(_.toSeq).toSeq).toSeq)
    // with rerank ≥ cell population the ADC stage keeps every candidate,
    // so exact re-ranking must reproduce the exact-scored IVF output
    val pq = Similarity.pqTopK(emb, col("vec_id") % 10 === 0, k = 3, rerank = 200)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val ivf = Similarity.ivfTopK(emb, col("vec_id") % 10 === 0, k = 3)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(pq === ivf)
    // tight rerank: never more than k rows per query, ranks contiguous from 1
    val tight = Similarity.pqTopK(emb, col("vec_id") % 10 === 0, k = 3, rerank = 8)
    assert(tight.groupBy("query_id").count().filter(col("count") > 3).count() === 0)
    assert(tight.groupBy("query_id")
      .agg(max("rank").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count() === 0)
  }

  test("bigram LM scores match a hand-computed corpus model") {
    // bigrams: doc1 = (a,a),(a,b); doc2 = (a,b),(b,c); doc3 = "x" (dropped)
    // c2: (a,a)=1 (a,b)=2 (b,c)=1 → c1: a=3, b=1; V = |{a,b,c}| = 3; N2 = 4
    val d = Seq((1L, "a a b"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramScores(d).orderBy("doc_id").collect()
    assert(out.length === 2) // the 1-token doc has no bigrams
    val d1 = out(0)
    assert(d1.getAs[Long]("n_pairs") === 2L)
    assert(d1.getAs[Long]("sum_c2") === 3L) // 1·1 + 1·2
    assert(d1.getAs[Long]("min_c2") === 1L)
    assert(d1.getAs[Long]("n_hapax") === 1L) // (a,a) occurs only here
    assert(d1.getAs[Double]("mean_pair_prob") === 3.0 / 2.0 / 4.0)
    // avg_logprob doc1 = [ln(2/6) + ln(3/6)] / 2  (p(a|a)=(1+1)/(3+3), p(b|a)=(2+1)/(3+3))
    val exp1 = (math.log(2.0 / 6.0) + math.log(3.0 / 6.0)) / 2.0
    assert(math.abs(d1.getAs[Double]("avg_logprob") - exp1) < 1e-12)
    assert(math.abs(d1.getAs[Double]("ppl") - math.exp(-exp1)) < 1e-9)
    val d2 = out(1)
    assert(d2.getAs[Long]("n_pairs") === 2L)
    assert(d2.getAs[Long]("sum_c2") === 3L) // 1·2 + 1·1
    assert(d2.getAs[Long]("n_hapax") === 1L) // (b,c) occurs only here
    // p(b|a)=(2+1)/(3+3), p(c|b)=(1+1)/(1+3)
    val exp2 = (math.log(3.0 / 6.0) + math.log(2.0 / 4.0)) / 2.0
    assert(math.abs(d2.getAs[Double]("avg_logprob") - exp2) < 1e-12)
    // the doc with the rarer transitions scores the higher perplexity
    assert(d2.getAs[Double]("ppl") > 0 && d1.getAs[Double]("ppl") > 0)
  }

  test("unigram LM scores match a hand-computed corpus model") {
    // corpus: a×3, b×2, c×1 → N=6
    val d = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramScores(d, rareMax = 1L)
      .orderBy("doc_id").collect()
    // doc 1: tokens a,a,b → c_sum = 3+3+2 = 8; no rare (c≤1) tokens
    assert(out(0).getAs[Long]("n_tokens") === 3L)
    assert(out(0).getAs[Long]("c_sum") === 8L)
    assert(out(0).getAs[Long]("n_rare") === 0L)
    assert(out(0).getAs[Double]("mean_token_prob") === 8.0 / 3.0 / 6.0)
    // doc 2: a,b,c → c_sum = 3+2+1 = 6; c is rare
    assert(out(1).getAs[Long]("c_sum") === 6L)
    assert(out(1).getAs[Long]("n_rare") === 1L)
    assert(out(1).getAs[Double]("rare_ratio") === 1.0 / 3.0)
    // avg_logprob = (Σ ln c − n ln N)/n, here for doc 2
    val want = (math.log(3) + math.log(2) + math.log(1) - 3 * math.log(6)) / 3
    assert(math.abs(out(1).getAs[Double]("avg_logprob") - want) < 1e-12)
  }

  test("collocations rank adjacent pairs by PMI with exact-integer ranks") {
    // "red apple" ×5: c_ab=5, c_red=c_apple=5; "the the" ×6: c_ab=6,
    // c_the=12; N=22 → ratios 5·22/25=4.4 and 6·22/144=0.91666…
    val d = ((0 until 5).map(i => (i.toLong, "red apple")) ++
      (5 until 11).map(i => (i.toLong, "the the"))).toDF("doc_id", "text")
    val out = TextAnalysis.collocations(d, topK = 5, minCount = 5L).collect()
    assert(out.length === 2)
    assert(out(0).getAs[String]("a") === "red" && out(0).getAs[String]("b") === "apple")
    assert(out(0).getAs[Long]("c_ab") === 5L)
    assert(out(0).getAs[Long]("ratio_ppm") === 4400000L)
    assert(math.abs(out(0).getAs[Double]("pmi") - math.log(4.4)) < 1e-9)
    assert(out(1).getAs[Long]("ratio_ppm") === 916666L) // floor of 916666.6
    // minCount prunes the low-frequency PMI pathology
    assert(TextAnalysis.collocations(d, topK = 5, minCount = 6L).count() === 1)
  }

  test("keywords ranks by tf then rarity with the float score riding along") {
    val d = Seq(
      (1L, "apple apple apple common rare"),
      (2L, "common banana banana"),
      (3L, "common cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.keywords(d, topK = 2)
      .select("doc_id", "rank", "token", "tf", "df")
      .as[(Long, Long, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // doc 1: apple tf=3 first; tie at tf=1 between common (df=3) and rare
    // (df=1) → rarer token wins
    assert(out.toSeq === Seq(
      (1L, 1L, "apple", 3L, 1L), (1L, 2L, "rare", 1L, 1L),
      (2L, 1L, "banana", 2L, 1L), (2L, 2L, "common", 1L, 3L),
      (3L, 1L, "cherry", 1L, 1L), (3L, 2L, "common", 1L, 3L)))
    val tfidf = TextAnalysis.keywords(d, topK = 1)
      .filter(col("doc_id") === 1L).select("tfidf").as[Double].head()
    assert(math.abs(tfidf - 3 * math.log(3.0 / 1.0)) < 1e-12)
  }

  test("boilerplateParagraphs drops over-frequent paragraphs from EVERY doc") {
    // avgTokens=1: single-token paragraphs. 'a' is in 3 distinct docs
    // (> maxDf=2) → removed everywhere, including repeats inside doc 1;
    // contrast with paragraphDedup, which would keep doc 1's first 'a'
    val d = Seq((1L, "a b a"), (2L, "a c"), (3L, "a d")).toDF("doc_id", "text")
    val out = Dedup.boilerplateParagraphs(d, avgTokens = 1, maxDf = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq((1L, 3L, 2L, "b"), (2L, 2L, 1L, "c"), (3L, 2L, 1L, "d")))
  }

  test("gopherGate flags discriminate rule by rule; pass_all is the conjunction") {
    val d = Seq(
      (1L, "the cat sat"),                       // passes every rule below
      (2L, "xx yy"),                             // too few words
      (3L, "aaaaaaaaaaaaaaaaaaaaaaaaa bbb ccc"), // mean word length too high
      (4L, "1 2 3 4"),                           // no alpha words, no stopwords
      (5L, "a a a a"))                           // type-token ratio too low
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherGate(d,
        minWords = 3, maxWords = 5, minMwlTenths = 20, maxMwlTenths = 60,
        alphaPct = 50, minStopDistinct = 1, ttrPct = 60)
      .select("doc_id", "words_ok", "mwl_ok", "alpha_ok", "stop_ok", "ttr_ok", "pass_all")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, 1L, 1L, 1L, 1L, 1L, 1L),
      (2L, 0L, 1L, 1L, 0L, 1L, 0L),
      (3L, 1L, 0L, 1L, 0L, 1L, 0L),
      (4L, 1L, 0L, 0L, 0L, 1L, 0L),
      (5L, 1L, 0L, 1L, 1L, 0L, 0L)))
  }

  test("encodeIds maps tokens to vocab ranks in order; OOV is 0") {
    val d = Seq(
      (1L, "b a b c"),   // b(×3 corpus-wide) → id 1, a(×2) → id 2, c OOV
      (2L, "a b b")).toDF("doc_id", "text")
    val out = TextAnalysis.encodeIds(d, topK = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq((1L, 4L, 1L, "1 2 1 0"), (2L, 3L, 0L, "2 1 1")))
  }

  test("minKCountAudit selects the k% lowest-count tokens, integer-exactly") {
    val corpus = Seq(
      (1L, "the the the cat sat"),  // the:3(+2 below)=?? counts computed over whole corpus
      (2L, "the dog sat sat"),
      (3L, "a rare zebra")).toDF("doc_id", "text")
    // corpus counts: the=4, cat=1, sat=3, dog=1, a=1, rare=1, zebra=1
    val audit = Seq(
      (10L, "the cat runs runs runs the"), // counts: the=4,cat=1,runs=0(x3),the=4
      (11L, "zebra"),
      (12L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.minKCountAudit(corpus, audit, kPct = 40)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    // doc 10: n=6, sorted counts [0,0,0,1,4,4], m=max(1,⌊6·40/100⌋)=2 → sum 0
    // doc 11: n=1, m=1 → counts [1] → sum 1
    // doc 12: zero tokens → no row
    assert(out === Array((10L, 6L, 2L, 0L), (11L, 1L, 1L, 1L)))
    // members of a corpus have a better-covered tail than held-out text:
    // audit doc 1 (a member) vs the OOV-heavy doc 10
    val member = TextAnalysis.minKCountAudit(corpus,
      corpus.filter(col("doc_id") === 1), kPct = 40)
      .select("lowk_count_sum").as[Long].head()
    assert(member > 0L)
  }

  test("pairAgreement computes tp/precision/recall over pair sets") {
    val pred = Seq((1L, 2L), (1L, 3L), (4L, 5L), (6L, 7L))
      .toDF("doc_a", "doc_b")
    val truth = Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = Dedup.pairAgreement(pred, truth)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(out === ((4L, 2L, 2L, 0.5, 1.0)))
    // empty prediction: both denominators guard to 0, not NaN
    val empty = Dedup.pairAgreement(pred.limit(0), truth.limit(0))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(empty === ((0L, 0L, 0L, 0.0, 0.0)))
  }

  test("bm25TopK: scores match an independent BigInt replay of the formula") {
    val d = Seq((1L, "x y z x"), (2L, "x q q"), (3L, "p p p"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(d, Seq("x", "q"), k = 3).collect()
    // replay the documented integer formula (k1=1.2, b=0.75 cleared
    // through ×10A; rational idf) in plain BigInt arithmetic
    def w(tf: Long, df: Long, dl: Long, n: Long, a: Long): Long = {
      val satur = (BigInt(1000000) * 22 * a * tf) /
        (BigInt(10) * a * tf + BigInt(3) * a + BigInt(9) * dl * n)
      val idf = (BigInt(1000000) * (2 * n - 2 * df + 1)) / BigInt(2 * df + 1)
      (satur * idf / 1000000).toLong
    }
    val (n, a) = (3L, 10L) // 3 docs, 10 corpus tokens
    val s1 = w(tf = 2, df = 2, dl = 4, n, a)          // doc 1: x only
    val s2 = w(1, 2, 3, n, a) + w(2, 1, 3, n, a)      // doc 2: x + q
    val expected = Seq((1L, s1, 1L), (2L, s2, 2L))
      .sortBy { case (id, s, _) => (-s, id) }
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === expected)
    // the rare term q dominates: doc 2 outranks the doc with more hits of x
    assert(out.head.getLong(0) === 2L)
  }

  test("bm25TopK: k truncates after the (score desc, doc_id) tiebreak") {
    val d = Seq((5L, "x"), (4L, "x"), (9L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(d, Seq("x"), k = 2).collect()
    // identical tf/dl/df → identical scores; doc_id breaks the tie
    assert(out.map(_.getLong(0)).toSeq === Seq(4L, 5L))
    assert(out.map(_.getLong(1)).distinct.length === 1)
  }

  test("containmentPairs finds asymmetric inclusion; boilerplate shingles excluded") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), // B: 4 shingles
      (2L, "w2 w3 w4 w5"), // A ⊂ B: 2 shingles, both in B
      (3L, "z1 z2 z3 z4"), // unrelated
      (10L, "c1 c2 c3"), (11L, "c1 c2 c3"), (12L, "c1 c2 c3")) // boilerplate
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, tauPpm = 600000L, maxDf = 2L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // A fully contained in B: cont_a(2→1) = 2/2 = 1e6 ppm surfaces the
    // pair even though Jaccard = 2/4 and cont on B's side is 500000;
    // the df=3 boilerplate shingle is excluded, so docs 10-12 (whose
    // ONLY shingle is boilerplate) produce no pairs at all
    assert(out === Seq((1L, 2L, 2L, 4L, 2L, 500000L, 1000000L)))
    // without the valve the boilerplate trio is fully mutually contained
    val unvalved = Dedup.containmentPairs(d, tauPpm = 600000L, maxDf = 100L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(unvalved.map(p => (p._1, p._2)).toSet ===
      Set((1L, 2L), (10L, 11L), (10L, 12L), (11L, 12L)))
  }

  test("lmScoreAgainst scores a target corpus under the reference add-one unigram LM") {
    val ref = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    // ref: cnt(a)=3, cnt(b)=1, cnt(c)=1 → T=5, V=3
    val tgt = Seq((10L, "a b"), (11L, "z z a"), (12L, "q")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreAgainst(ref, tgt).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // doc 10: n=2, oov=0, cnt_sum=4, score_ppb = 1e9*(4+2)/(2*8)=375000000
    // doc 11: n=3, oov=2, cnt_sum=3, score_ppb = 1e9*6/24 = 250000000, oov=666666
    // doc 12: n=1, oov=1, cnt_sum=0, score_ppb = 1e9*1/8  = 125000000, oov=1000000
    assert(out === Seq(
      (10L, 2L, 0L, 4L, 375000000L, 0L),
      (11L, 3L, 2L, 3L, 250000000L, 666666L),
      (12L, 1L, 1L, 0L, 125000000L, 1000000L)))
    // the LM is the reference's: a self-scored clean doc outranks an
    // OOV-heavy one even though both are internally consistent
    assert(out(0)._5 > out(1)._5 && out(1)._5 > out(2)._5)
  }

  test("suppressRareTokens masks below-df tokens preserving order; spacing normalized") {
    val d = Seq(
      (1L, "the secret key the"), (2L, "the  cat"), (3L, "the cat sat"))
      .toDF("doc_id", "text")
    // df: the=3, cat=2, secret=1, key=1, sat=1
    val out = TextAnalysis.suppressRareTokens(d, minDf = 2).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 4L, 2L, "the <rare> <rare> the"),
      (2L, 2L, 0L, "the cat"), // double space normalized by the tokenizer
      (3L, 3L, 1L, "the cat <rare>")))
    // minDf = 1 masks nothing and reproduces the normalized text
    val none = TextAnalysis.suppressRareTokens(d, minDf = 1).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(none.map(_._3).forall(_ == 0L))
    assert(none.map(_._4) === Seq("the secret key the", "the cat", "the cat sat"))
  }

  test("one-pass store build ≡ the build→join(doclen)→bucket chain: same rows, " +
    "files still tok-sorted per bucket") {
    val d = Seq((1L, "x y z x"), (2L, "x q q"), (3L, "p p p"), (4L, "y y q"),
      (5L, "z x p q y z"), (6L, "q"))
      .toDF("doc_id", "text")
    val wd = java.nio.file.Files.createTempDirectory("bm25onepass").toString
    TextAnalysis.saveBm25Index(spark, s"$wd/tf", d)
    TextAnalysis.saveBm25Positional(spark, s"$wd/pos", d)
    // legacy semantics: the build → join(doclen) chain, spelled out —
    // postings from a plain explode + groupBy(doc_id, tok), each row
    // joined with its document's (doc_id, dl)
    val toks = TextFunctions.tokens(col("text"))
    val dl = d.select(col("doc_id"), size(toks).cast("long").as("dl"))
    val built = d
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("ps"))
      .join(dl, Seq("doc_id"))
    val wantTf = built
      .select("doc_id", "tok", "tf", "dl")
      .as[(Long, String, Long, Long)].collect().toSet
    val gotTf = spark.read.parquet(s"$wd/tf/postings")
      .select("doc_id", "tok", "tf", "dl")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(gotTf === wantTf)
    val wantPos = built
      .select("doc_id", "tok", "tf", "ps", "dl")
      .as[(Long, String, Long, Seq[Int], Long)].collect().toSet
    val gotPos = spark.read.parquet(s"$wd/pos/postings_pos")
      .select("doc_id", "tok", "tf", "ps", "dl")
      .as[(Long, String, Long, Seq[Int], Long)].collect().toSet
    assert(gotPos === wantPos)
    // plan contract: the one-pass build moves the corpus through exactly
    // ONE exchange (the tok repartition the aggregation reuses) — the
    // legacy chain paid three (groupBy shuffle + doc_id join shuffle +
    // (tok_bucket, tok) write repartition)
    val buildPlan = TextAnalysis.bucketedPostingsOnePass(d, positional = false)
      .queryExecution.executedPlan.toString
    val nExchanges = "(?m)^.*Exchange".r.findAllIn(buildPlan).size
    assert(nExchanges == 1,
      s"one-pass postings build must have exactly 1 Exchange, got $nExchanges:\n$buildPlan")
    // layout contract: every file tok-sorted (row-group min/max pruning)
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$wd/tf/postings"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val toks = spark.read.parquet(f.toString).select("tok").as[String].collect().toSeq
      assert(toks === toks.sorted, s"file $f not tok-sorted")
    }
  }

  test("salted postings build ≡ unsalted on a forced-hot-token fixture; " +
    "valve spreads the hot token, exchange count stays 1") {
    // every doc carries the stopword-class token 'the' many times — the
    // shape whose postings all met ONE task under tok-only placement
    val hot = (1L to 40L).map(i =>
      (i, ("the " * 8 + s"w$i u${i % 3}").trim)).toDF("doc_id", "text")
    // rows must be IDENTICAL to the unsalted reference (the salt is
    // grouping-transparent: every (doc_id, tok) group lives in one salt)
    val want = hot
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("ps"), max(col("dl")).as("dl"))
      .as[(Long, String, Long, Seq[Int], Long)].collect().toSet
    val got = TextAnalysis.bucketedPostingsOnePass(hot, positional = true)
      .select("doc_id", "tok", "tf", "ps", "dl")
      .as[(Long, String, Long, Seq[Int], Long)].collect().toSet
    assert(got === want)
    // the valve property: the hot token's docs land on >1 salt value, so
    // its postings no longer share one exchange partition
    val salts = hot.select(pmod(xxhash64(col("doc_id")), lit(16L)))
      .distinct().count()
    assert(salts > 1, s"salt spread degenerate: $salts")
    // and the build still moves the corpus through exactly ONE exchange
    // (the (tok, salt) repartition the salted aggregation reuses)
    val plan = TextAnalysis.bucketedPostingsOnePass(hot, positional = false)
      .queryExecution.executedPlan.toString
    val nExchanges = "(?m)^.*Exchange".r.findAllIn(plan).size
    assert(nExchanges == 1,
      s"salted one-pass build must have exactly 1 Exchange, got $nExchanges:\n$plan")
    // end-to-end: a store built through the valve serves identically to
    // the direct corpus scan (df/tf/positions are row-set functions)
    val wd = java.nio.file.Files.createTempDirectory("bm25salt").toString
    TextAnalysis.saveBm25Index(spark, s"$wd/tf", hot)
    val (postings, doclen) = TextAnalysis.loadBm25Index(spark, s"$wd/tf")
    val served = TextAnalysis.bm25TopKFromIndex(postings, doclen,
      Seq("the", "w7"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = TextAnalysis.bm25TopK(hot, Seq("the", "w7"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served === direct)
  }

  test("corpus-form BM25 serves join no doclen table: dl rides the postings rows") {
    val d = Seq((1L, "x y z x"), (2L, "x q q"), (3L, "p p p"), (4L, "y y q x q"),
      (5L, ""), (6L, "q x q x"))
      .toDF("doc_id", "text")
    val qs = Seq((10L, Seq("x", "q")), (20L, Seq("y", "y", "p")))
      .toDF("query_id", "terms")
    // the physical join tree under the audit view (pins are the identity,
    // so the plan below the would-be checkpoints is visible): every join,
    // and every join side that is a (doc_id, dl) doclen table
    def joins(df: => org.apache.spark.sql.DataFrame) = Pins.withAuditView {
      df.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
    }
    def doclenSides(js: Seq[org.apache.spark.sql.execution.joins.BaseJoinExec]) =
      js.flatMap(_.children).count(_.output.map(_.name) == Seq("doc_id", "dl"))
    // bm25TopK: the df broadcast (on tok) is its only join
    val topK = joins(TextAnalysis.bm25TopK(d, Seq("x", "q"), k = 3))
    assert(doclenSides(topK) == 0 && topK.size == 1, topK.mkString("\n"))
    // bm25PerQuery: the df broadcast, the qt fan-out and the query-term
    // semi-join under the tf table, which both of them read (twice in the
    // tree: the tf pin is the identity here) — all on tok
    Seq(false, true).foreach { w =>
      val perQuery = joins(TextAnalysis.bm25PerQuery(d, qs, k = 2, weighted = w))
      assert(doclenSides(perQuery) == 0 && perQuery.size == 4,
        s"weighted=$w:\n" + perQuery.mkString("\n"))
    }
    // phraseTopK: the df broadcast and the phrase-hits ⋈ scores join
    val phrase = joins(TextAnalysis.phraseTopK(d, Seq("x", "q"), k = 3))
    assert(doclenSides(phrase) == 0 && phrase.size == 2, phrase.mkString("\n"))
  }

  test("BM25 index lifecycle: build → save → load → serve equals the corpus scan") {
    val d = Seq((1L, "x y z x"), (2L, "x q q"), (3L, "p p p"), (4L, "y y q"))
      .toDF("doc_id", "text")
    val direct = TextAnalysis.bm25TopK(d, Seq("x", "q"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val wd = java.nio.file.Files.createTempDirectory("bm25idx").toString
    TextAnalysis.saveBm25Index(spark, wd, d)
    val (postings, doclen) = TextAnalysis.loadBm25Index(spark, wd)
    val servedDf = TextAnalysis.bm25TopKFromIndex(postings, doclen, Seq("x", "q"), k = 4)
    val served = servedDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served === direct)
    // the store is bucketed by h60(tok) % Bm25Buckets: the terms' buckets
    // go down as a static PARTITION filter, so the scan lists only the
    // probed buckets' directories (the lexical twin of probed-cell
    // pruning on the ANN stores)
    val plan = servedDf.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*tok_bucket[^\\]]*\\].*"),
      s"term-bucket filter must reach the postings scan as a partition filter:\n$plan")
    // the index is union-mergeable over disjoint doc batches: two stores
    // saved from disjoint halves, loaded, and concatenated (postings AND
    // doclen — the corpus stats fold from the merged doclen) serve the
    // identical top-k
    TextAnalysis.saveBm25Index(spark, s"$wd/b1", d.filter(col("doc_id") <= 2))
    TextAnalysis.saveBm25Index(spark, s"$wd/b2", d.filter(col("doc_id") > 2))
    val (p1, l1) = TextAnalysis.loadBm25Index(spark, s"$wd/b1")
    val (p2, l2) = TextAnalysis.loadBm25Index(spark, s"$wd/b2")
    val merged = TextAnalysis.bm25TopKFromIndex(
      p1.unionByName(p2), l1.unionByName(l2), Seq("x", "q"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged === direct)
    // batch retrieval from the same store: identical per-query ranking to
    // the corpus form (unweighted AND qtf-weighted), term buckets pruned
    val qs = Seq((10L, Seq("x", "q")), (20L, Seq("y", "y", "p")))
      .toDF("query_id", "terms")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rnk", "doc_id", "score", "n_hit")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    Seq(false, true).foreach { w =>
      val fromIdx = TextAnalysis.bm25PerQueryFromIndex(
        postings, doclen, qs, k = 3, weighted = w)
      assert(rows(fromIdx) === rows(
        TextAnalysis.bm25PerQuery(d, qs, k = 3, weighted = w)),
        s"weighted=$w")
      assert(rows(fromIdx).nonEmpty)
    }
    // under the audit view (pins become identity) so the postings scan is
    // visible below the would-be pin truncation
    val multiPlan = graft.operators.Pins.withAuditView {
      TextAnalysis.bm25PerQueryFromIndex(postings, doclen, qs, k = 3)
        .queryExecution.executedPlan.toString
    }
    assert(multiPlan.matches("(?s).*PartitionFilters: \\[[^\\]]*tok_bucket[^\\]]*\\].*"),
      "batch-retrieval term buckets must reach the postings scan as a partition filter")
    // the positional store: phrase serve from disk ≡ the corpus form
    // (same occurrences, same ranking), term buckets pruned the same way
    TextAnalysis.saveBm25Positional(spark, wd, d)
    val (postPos, dlPos) = TextAnalysis.loadBm25Positional(spark, wd)
    def ph(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_phrase", "score")
        .as[(Long, Long, Long)].collect().toSeq
    val phStored = ph(TextAnalysis.phraseTopKFromIndex(postPos, dlPos, Seq("x", "q"), k = 4))
    assert(phStored === ph(TextAnalysis.phraseTopK(d, Seq("x", "q"), k = 4)))
    assert(phStored.nonEmpty)
    val phrasePlan = graft.operators.Pins.withAuditView {
      TextAnalysis.phraseTopKFromIndex(postPos, dlPos, Seq("x", "q"), k = 4)
        .queryExecution.executedPlan.toString
    }
    assert(phrasePlan.matches("(?s).*PartitionFilters: \\[[^\\]]*tok_bucket[^\\]]*\\].*"),
      "phrase-serve term buckets must reach the positional-postings scan as a partition filter")
  }

  test("skipgramCounts emits forward pairs within the window with exact counts") {
    val d = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    // window 2: doc1 → (a,b),(a,c),(b,c),(b,d),(c,d); doc2 → (a,b)
    val out = TextAnalysis.skipgramCounts(d, window = 2, minCount = 1)
      .orderBy("w1", "w2").as[(String, String, Long)].collect().toSeq
    assert(out === Seq(
      ("a", "b", 2L), ("a", "c", 1L),
      ("b", "c", 1L), ("b", "d", 1L), ("c", "d", 1L)))
    // the count floor gates the tail; window 1 degenerates to bigrams
    assert(TextAnalysis.skipgramCounts(d, window = 2, minCount = 2)
      .as[(String, String, Long)].collect().toSeq === Seq(("a", "b", 2L)))
    val bigrams = TextAnalysis.skipgramCounts(d, window = 1, minCount = 1)
      .orderBy("w1", "w2").as[(String, String, Long)].collect().toSeq
    assert(bigrams === Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "d", 1L)))
  }

  test("embeddingMoments: exact per-dim micro-unit sums; merge equals one-shot") {
    val e = Seq(
      (1L, Array(1f, 2f)),
      (2L, Array(3f, 4f))).toDF("vec_id", "embedding")
    def micro(df: org.apache.spark.sql.DataFrame) = df
      .select(col("dim"), col("n"),
        (col("s") * 1000000).cast("long").as("sm"),
        (col("s2") * 1000000).cast("long").as("s2m"))
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = micro(Similarity.embeddingMoments(e))
    assert(got === Seq(
      (0, 2L, 4000000L, 10000000L),  // 1+3, 1+9
      (1, 2L, 6000000L, 20000000L))) // 2+4, 4+16
    // mergeable: per-half moments merge into the one-shot state
    val merged = micro(Similarity.mergeMoments(
      Similarity.embeddingMoments(e.filter(col("vec_id") === 1)),
      Similarity.embeddingMoments(e.filter(col("vec_id") === 2))))
    assert(merged === got)
  }

  test("sourcePhrases ranks per-source bigrams by (count desc, gram asc) through the salt valve") {
    val d = Seq(
      (1L, "a b a b", "A"), // grams: "a b"×2, "b a"×1
      (2L, "c d", "A"),     // "c d"×1
      (3L, "x y", "B"),     // "x y"×1
      (4L, "z", "B"))       // <2 tokens → no grams
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourcePhrases(d, k = 3)
      .orderBy("source", "rnk")
      .as[(String, Long, String, Long)].collect().toSeq
    assert(out === Seq(
      ("A", 1L, "a b", 2L), ("A", 2L, "b a", 1L), ("A", 3L, "c d", 1L),
      ("B", 1L, "x y", 1L)))
  }

  test("oovRate: deterministic vocab boundary, exact ppm; all-OOV source hits 1e6") {
    val d = Seq(
      (1L, "a a a a a b b b", "S1"), // a×5, b×3 — both in the top-2 vocab
      (2L, "c c", "S2"))             // c — outside
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.oovRate(d, vocabSize = 2)
      .orderBy("source")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(("S1", 8L, 0L, 0L), ("S2", 2L, 2L, 1000000L)))
    // boundary tie: with vocabSize=1 only 'a' survives; b becomes OOV
    val cut = TextAnalysis.oovRate(d, vocabSize = 1)
      .orderBy("source")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(cut === Seq(("S1", 8L, 3L, 375000L), ("S2", 2L, 2L, 1000000L)))
  }

  test("sourceOverlap computes exact pairwise shingle Jaccard; disjoint sources emit no row") {
    val d = Seq(
      (1L, "a b c d", "A"),  // shingles {a b c, b c d}
      (2L, "a b c", "B"),    // {a b c}
      (3L, "b c d", "B"),    // {b c d} → B = {a b c, b c d}
      (4L, "x y z", "C"),    // {x y z} — disjoint from A and B
      (5L, "a b", "D"))      // <3 tokens → no shingles, D absent entirely
      .toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(d)
      .orderBy("src_a", "src_b")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // A∩B = {a b c, b c d} → J = 2/2; C shares nothing → no A-C/B-C row
    assert(out === Seq(("A", "B", 2L, 2L, 2L, 1000000L)))
  }

  test("ppmiPairs ranks by the exact co-occurrence ratio with self-contained marginals") {
    val d = Seq((1L, "a b a b")).toDF("doc_id", "text")
    // window 1 pairs: (a,b)×2, (b,a)×1 → T=3; m1(a)=2 m1(b)=1, m2(b)=2 m2(a)=1
    // ratio(b,a) = 1·3·1e6/(1·1) = 3e6;  ratio(a,b) = 2·3·1e6/(2·2) = 1.5e6
    val out = TextAnalysis.ppmiPairs(d, window = 1, minCount = 1L, topK = 10)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("b", "a", 1L, 1L, 1L, 3000000L),
      ("a", "b", 2L, 2L, 2L, 1500000L)))
    // independence floor: all four (a|b)×(a|b) pairs once each → every
    // ratio is exactly 1·4·1e6/(2·2) = 1e6 (PPMI == 0), filtered out
    val uniform = Seq((1L, "a a"), (2L, "a b"), (3L, "b a"), (4L, "b b"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.ppmiPairs(uniform, window = 1, minCount = 1L, topK = 10)
      .count() === 0L)
    // topK truncates on the (ratio, w1, w2) total order
    assert(TextAnalysis.ppmiPairs(d, window = 1, minCount = 1L, topK = 1)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
      === Seq(("b", "a", 1L, 1L, 1L, 3000000L)))
  }

  test("phraseTopK matches exact consecutive phrases only, counting occurrences") {
    val d = Seq(
      (1L, "a b c a b"),   // "a b" twice, "a b c" once
      (2L, "b a"),          // both terms, wrong order
      (3L, "a x b"),        // both terms, not adjacent
      (4L, "c c c"),        // missing terms
      (5L, "a a a"))        // repeated-term phrase fodder
      .toDF("doc_id", "text")
    val ab = TextAnalysis.phraseTopK(d, Seq("a", "b"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(ab.map(_._1) === Seq(1L)) // only the true phrase match
    assert(ab.head._2 === 2L)        // both occurrences counted
    // 3-term phrase: the second "a b" has no trailing c
    val abc = TextAnalysis.phraseTopK(d, Seq("a", "b", "c"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(abc.map(r => (r._1, r._2)) === Seq((1L, 1L)))
    // repeated-term phrase: consecutive equal tokens
    val aa = TextAnalysis.phraseTopK(d, Seq("a", "a"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(aa.map(r => (r._1, r._2)) === Seq((5L, 2L)))
    // score equals the plain BM25 score of the same terms for that doc
    val plainScores = TextAnalysis.bm25TopK(d, Seq("a", "b"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ab.head._3 === plainScores(1L))
  }

  test("bm25PerQuery weighted mode multiplies each term's weight by its query multiplicity") {
    val d = Seq((1L, "x y z x"), (2L, "x q q"), (3L, "p p p"), (4L, "y y q"))
      .toDF("doc_id", "text")
    // baseline per-term weights via the set-semantics single queries
    def scoresOf(terms: Seq[String]): Map[Long, Long] =
      TextAnalysis.bm25PerQuery(d, Seq(9L -> terms).toDF("query_id", "terms"),
        k = 4, salts = 4)
        .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    val wx = scoresOf(Seq("x")) // per-doc weight of term x alone
    val wq = scoresOf(Seq("q"))
    // query "x x q": x's weight doubles, q's counts once
    val weighted = TextAnalysis.bm25PerQuery(d,
      Seq(1L -> Seq("x", "x", "q")).toDF("query_id", "terms"),
      k = 4, salts = 4, weighted = true)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    weighted.foreach { case (doc, s) =>
      assert(s === 2L * wx.getOrElse(doc, 0L) + wq.getOrElse(doc, 0L),
        s"doc $doc")
    }
    assert(weighted.nonEmpty)
    // with no repeated terms, weighted ≡ the set-semantics default
    val dup = TextAnalysis.bm25PerQuery(d,
      Seq(1L -> Seq("x", "q")).toDF("query_id", "terms"),
      k = 4, salts = 4, weighted = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val set = TextAnalysis.bm25PerQuery(d,
      Seq(1L -> Seq("x", "q")).toDF("query_id", "terms"), k = 4, salts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(dup === set)
  }

  test("bm25PerQuery agrees with bm25TopK per query; ranks are 1..n") {
    val d = Seq((1L, "x y z x"), (2L, "x q q"), (3L, "p p p"), (4L, "y y q"))
      .toDF("doc_id", "text")
    val qs = Seq(1L -> Seq("x", "q"), 2L -> Seq("y")).toDF("query_id", "terms")
    val multi = TextAnalysis.bm25PerQuery(d, qs, k = 3, salts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // corpus-level df/dl/N/A are query-independent, so each query's head
    // equals the single-query operator run with the same terms
    val single = TextAnalysis.bm25TopK(d, Seq("x", "q"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val q1 = multi.filter(_._1 == 1L).sortBy(_._2)
      .map { case (_, _, id, s, h) => (id, s, h) }
    assert(q1.toSeq === single.toSeq)
    multi.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // query 2 sees only docs containing y, ordered by tf
    assert(multi.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq === Seq(4L, 1L))
  }

  test("ngramDiversity: exact type/token counts; short docs contribute nothing") {
    val d = Seq((1L, "a b a b", "s1"), (2L, "a", "s1"), (3L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val bi = TextAnalysis.ngramDiversity(d, n = 2).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // s1: "a b","b a","a b" → 3 grams / 2 types; doc 2 is sub-bigram
    assert(bi.toSeq === Seq(("s1", 3L, 2L, 666666L), ("s2", 1L, 1L, 1000000L)))
    val uni = TextAnalysis.ngramDiversity(d, n = 1).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(uni.toSeq === Seq(("s1", 5L, 2L, 400000L), ("s2", 2L, 2L, 1000000L)))
    // n=3 exercises the widest guarded sequence/element_at window: doc 1
    // yields "a b a","b a b" (2 grams / 2 types); docs 2 ("a") and 3
    // ("x y") are sub-trigram, so s2 has no grams and is absent
    val tri = TextAnalysis.ngramDiversity(d, n = 3).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(tri.toSeq === Seq(("s1", 2L, 2L, 1000000L)))
  }

  test("recallAtK counts top-k intersection per query; the exact side defines the universe") {
    val approx = Seq((1L, 10L, 1L), (1L, 11L, 2L), (3L, 30L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val exact = Seq((1L, 10L, 1L), (1L, 12L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.recallAtK(approx, exact, k = 2)
      .orderBy("query_id").as[(Long, Long, Double)].collect().toSeq
    // query 3 exists only on the approx side → absent; query 2 got no
    // approx results → recall 0
    assert(out === Seq((1L, 1L, 0.5), (2L, 0L, 0.0)))
  }

  test("tokenBurstiness: VMR over all docs — clumped 10^6 ppm, evenly-spread 0") {
    // doc1 "a a b", doc2 "b": a counts (2,0) → mean 1, var 1 → VMR 1;
    // b counts (1,1) → var 0 → VMR 0
    val d = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenBurstiness(d, topK = 10)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("a", 1L, 2L, 4L, 2L, 1000000L),
      ("b", 2L, 2L, 2L, 2L, 0L)))
  }

  test("negativeSamples: hash inverse-CDF picks the unigram interval, deterministically") {
    // counts: a=3, b=1 → intervals a:[0,3), b:[3,4), total 4
    val d = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val out = TextAnalysis.negativeSamples(d, window = 1, minCount = 1L, nNeg = 3)
      .orderBy("w1", "w2", "i")
      .as[(String, String, Long, String, Long)].collect().toSeq
    // positives (window 1): (a,a), (a,b) — 3 draws each
    assert(out.map(t => (t._1, t._2)).distinct === Seq(("a", "a"), ("a", "b")))
    assert(out.size === 6)
    out.foreach { case (w1, w2, i, neg, pos) =>
      val expectPos = java.lang.Math.floorMod(
        TextFunctions.h60Jvm(s"neg|$w1|$w2|$i"), 4L)
      assert(pos === expectPos)
      assert(neg === (if (pos < 3) "a" else "b"), s"pos $pos picked $neg")
    }
    // re-run draws the identical negatives (rand()-free)
    val again = TextAnalysis.negativeSamples(d, window = 1, minCount = 1L, nNeg = 3)
      .orderBy("w1", "w2", "i")
      .as[(String, String, Long, String, Long)].collect().toSeq
    assert(again === out)
    // draws are unigram-proportional on the fixture corpus: over many
    // draws, the head token must be sampled more often than a tail token
    val many = TextAnalysis.negativeSamples(docs, window = 2, minCount = 1L, nNeg = 4)
    val byNeg = many.groupBy("neg").count()
      .as[(String, Long)].collect().toMap
    val mass = docs.select(explode(TextFunctions.tokens(col("text"))).as("t"))
      .groupBy("t").count().as[(String, Long)].collect().toMap
    val head = mass.maxBy(_._2)._1
    val tail = mass.minBy(_._2)._1
    assert(byNeg.getOrElse(head, 0L) > byNeg.getOrElse(tail, 0L),
      s"head '$head' drawn ${byNeg.getOrElse(head, 0L)}x vs tail '$tail' ${byNeg.getOrElse(tail, 0L)}x")
  }

  test("rankDrift: per-side exact ranks, sentinel rank for absent vocabulary") {
    val a = Seq((1L, "x x y")).toDF("doc_id", "text")
    val b = Seq((2L, "y y z")).toDF("doc_id", "text")
    // A: x(2)→0, y(1)→1, types 2; B: y(2)→0, z(1)→1, types 2
    // x absent from B → rank_b = 2 (one past the end), n_b = 0
    val out = TextAnalysis.rankDrift(a, b, topK = 10)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("x", 2L, 0L, 0L, 2L, 2L),
      ("y", 1L, 2L, 1L, 0L, 1L),
      ("z", 0L, 1L, 2L, 1L, 1L)))
    // identical snapshots: zero drift everywhere
    val same = TextAnalysis.rankDrift(a, a, topK = 10)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(same.forall(_._6 == 0L))
  }

  test("rrfFuse: integer ppm contributions, absent-rank sentinel, fused order and cut") {
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("doc_id", "rank")
    val b = Seq((11L, 1L), (13L, 2L)).toDF("doc_id", "rank")
    val out = Similarity.rrfFuse(a, b, "doc_id", kRrf = 60, topK = 10)
      .orderBy("fused_rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // contributions: rank1→1e6 DIV 61 = 16393, rank2→16129, rank3→15873
    assert(out === Seq(
      (11L, 2L, 1L, 16129L + 16393L, 1L), // both lists — fused to the top
      (10L, 1L, 0L, 16393L, 2L),
      (13L, 0L, 2L, 16129L, 3L),
      (12L, 3L, 0L, 15873L, 4L)))
    // topK truncates the fused list
    assert(Similarity.rrfFuse(a, b, "doc_id", topK = 2).count() === 2L)
  }

  test("sourceKmv keeps the k smallest h per source; merge is commutative and idempotent") {
    val k = 64
    val post = Dedup.sourceShinglePostings(docs)
    val oneShot = Dedup.kmvCompact(post, k)
    // sketch == per-source min-k of the full posting set
    val expected = post.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("r") <= k).select("source", "h")
    assert(oneShot.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(oneShot).count() === 0L)
    // split the corpus, sketch each half, merge — identical state either
    // order; re-merging a batch (replay) changes nothing
    val h1 = Dedup.sourceKmv(docs.filter(col("doc_id") % 2 === 0), k)
    val h2 = Dedup.sourceKmv(docs.filter(col("doc_id") % 2 === 1), k)
    val m12 = Dedup.mergeKmv(h1, h2, k)
    val m21 = Dedup.mergeKmv(h2, h1, k)
    val replay = Dedup.mergeKmv(m12, h1, k)
    Seq(m12, m21, replay).foreach { m =>
      assert(m.exceptAll(oneShot).count() === 0L)
      assert(oneShot.exceptAll(m).count() === 0L)
    }
  }

  test("kmvCardinality: exact below saturation, estimator accuracy measured at k=32") {
    val exact = Dedup.sourceShinglePostings(docs)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // unsaturated: k larger than any source's distinct set → exact answers
    val big = Dedup.kmvCardinality(Dedup.sourceKmv(docs, 1 << 20), 1 << 20)
      .select("source", "est_distinct").as[(String, Long)].collect().toMap
    assert(big === exact)
    // saturated: deterministic estimates, measured accuracy on this
    // corpus at k=32 (σ ≈ 1/√30 ≈ 18%): worst source 0.39, mean ≈ 0.13
    val est = Dedup.kmvCardinality(Dedup.sourceKmv(docs, 32), 32)
      .select("source", "k_used", "est_distinct")
      .as[(String, Long, Long)].collect()
    val rels = est.map { case (src, kUsed, e) =>
      val t = exact(src)
      if (kUsed == 32L && t > 32L) {
        val rel = math.abs(e - t).toDouble / t
        assert(rel < 0.45, s"$src: est $e vs exact $t (rel $rel)")
        rel
      } else { assert(e === t, s"$src unsaturated must be exact"); 0.0 }
    }
    assert(rels.sum / rels.length < 0.2, s"mean rel error ${rels.sum / rels.length}")
  }

  test("dedupSavings buckets cluster sizes by floor(log2) with redundant mass") {
    // pairs forming clusters of sizes 2, 3, and 4:
    // {1,2}, {3,4,5}, {6,7,8,9} → buckets 1 (sz 2-3: two clusters) and 2
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 5L), (6L, 7L), (7L, 8L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dedupSavings(pairs).orderBy("bucket")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 2L, 5L, 3L),   // sizes 2 and 3 → floor(log2) = 1
      (2L, 1L, 4L, 3L)))  // size 4 → bucket 2
  }

  test("kmvOverlap with k ≥ union size reproduces the exact source-overlap matrix") {
    val k = 1 << 20 // larger than any per-source shingle set in the fixture
    val est = Dedup.kmvOverlap(Dedup.sourceKmv(docs, k), k)
      .select("src_a", "src_b", "n_shared", "jaccard_est_ppm")
    val exact = Dedup.sourceOverlap(docs)
      .select(col("src_a"), col("src_b"), col("n_common"),
        col("jaccard_ppm").cast("long"))
    // every exact row must be reproduced verbatim; kmv additionally emits
    // explicit zero rows for disjoint pairs (complete matrix)
    val joined = est.join(exact, Seq("src_a", "src_b"), "full_outer").collect()
    joined.foreach { r =>
      val estShared = Option(r.getAs[java.lang.Long]("n_shared")).map(_.toLong)
      val exShared = Option(r.getAs[java.lang.Long]("n_common")).map(_.toLong)
      assert(estShared.isDefined, s"kmv missing pair ${r.getString(0)}-${r.getString(1)}")
      assert(exShared.getOrElse(0L) === estShared.get, r.toString)
      val estPpm = r.getAs[Long]("jaccard_est_ppm")
      val exPpm = Option(r.getAs[java.lang.Long]("jaccard_ppm")).map(_.toLong)
      assert(exPpm.getOrElse(0L) === estPpm, r.toString)
    }
    // small k: still a complete matrix, estimates within [0, 1e6]
    val small = Dedup.kmvOverlap(Dedup.sourceKmv(docs, 8), 8).collect()
    assert(small.length === joined.length)
    small.foreach { r =>
      val ppm = r.getAs[Long]("jaccard_est_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
      assert(r.getAs[Long]("k_used") <= 8L)
    }
  }

  test("editDistancePairs: planted edits land exactly, far and short texts drop") {
    val base = "the quick brown fox jumps over the lazy dog and runs away fast"
    val planted = Seq(
      (1L, base),
      (2L, base.replace("quick", "quack")), // one substitution
      (3L, base + " x2"),                   // three appended chars
      (4L, base),                           // identical twin, dist 0
      (5L, "completely different text that shares nothing with the base at all here"),
      (6L, "tiny")                          // below (d+1)*q: out of contract
    ).toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(planted, d = 4, q = 4)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 2L, 1L), (1L, 3L, 3L), (1L, 4L, 0L),
      (2L, 3L, 4L), (2L, 4L, 1L), (3L, 4L, 3L)))
  }

  test("editDistancePairs equals the all-pairs brute force on the real corpus") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val out = Dedup.editDistancePairs(corpus, d = 8, q = 4)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    // brute force is test-only: 500x500 pairs; thresholded levenshtein
    // (kept values equal the plain form) keeps the truth pass O(d*len)
    val truth = corpus.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      .join(corpus.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), 8).cast("long"))
      .filter(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    assert(out === truth)
    assert(out.nonEmpty) // the corpus really contains <=8-edit near-dups
  }

  test("editDistanceAgainst equals the bipartite brute force; novel batch ids survive") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val batch = corpus.filter(col("doc_id") % 2 === 1)
    val kept = corpus.filter(col("doc_id") % 2 === 0)
    val out = Dedup.editDistanceAgainst(batch, kept, d = 8, q = 4)
      .orderBy("doc_id", "kept_id").as[(Long, Long, Long)].collect().toSeq
    val truth = batch.select(col("doc_id"), col("text").as("ta"))
      .join(kept.select(col("doc_id").as("kept_id"), col("text").as("tb")), lit(true))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), 8).cast("long"))
      .filter(col("dist") >= 0)
      .select("doc_id", "kept_id", "dist")
      .orderBy("doc_id", "kept_id").as[(Long, Long, Long)].collect().toSeq
    assert(out === truth)
    assert(out.nonEmpty)
    // the pair table drives the crawl decision: batch anti-join = survivors
    val survivors = batch.join(
      out.map(_._1).distinct.toDF("doc_id"), Seq("doc_id"), "left_anti").count()
    assert(survivors === batch.count() - out.map(_._1).distinct.size)
  }

  test("taggedQGrams equals the posexplode + per-doc window form on the real corpus") {
    import org.apache.spark.sql.expressions.Window
    val q = 4
    val fast = docs
      .select(col("doc_id"), explode(TextFunctions.taggedQGrams(col("text"), q)).as("tg"))
      .select(col("doc_id"), col("tg.gram"), col("tg.occ"))
      .orderBy("doc_id", "gram", "occ")
      .as[(Long, String, Int)].collect().toSeq
    val slow = docs
      .filter(length(col("text")) >= q)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(text) - ${q - 1}), i -> substring(text, i, $q))"))
        .as(Seq("pos", "gram")))
      .withColumn("occ", row_number().over(
        Window.partitionBy(col("doc_id"), col("gram")).orderBy(col("pos"))))
      .select(col("doc_id"), col("gram"), col("occ"))
      .orderBy("doc_id", "gram", "occ")
      .as[(Long, String, Int)].collect().toSeq
    assert(fast === slow)
    assert(fast.nonEmpty)
    // below-q strings yield empty arrays, and grams slice by code point
    val edge = Seq("abc", "ab", "😀bcd").toDF("text")
      .select(size(TextFunctions.taggedQGrams(col("text"), 3)).as("n"))
      .as[Int].collect().toSeq
    assert(edge === Seq(1, 0, 2))
  }

  test("charClassHist counts code points mod classes; l1Int is exact and length-strict") {
    // 'a'=97→1, 'b'=98→2, 'c'=99→3 under mod 32
    val h = Seq("abcab").toDF("s")
      .select(TextFunctions.charClassHist(col("s"), 32)).head().getSeq[Int](0)
    assert(h.length === 32)
    assert(h(1) === 2 && h(2) === 2 && h(3) === 1)
    assert(h.sum === 5)
    // code points, not UTF-16 units: one supplementary char = one count
    val hs = Seq("a😀").toDF("s") // "a" + U+1F600
      .select(TextFunctions.charClassHist(col("s"), 32)).head().getSeq[Int](0)
    assert(hs.sum === 2)
    val l1 = Seq(("abcab", "abcd")).toDF("a", "b")
      .select(TextFunctions.l1Int(
        TextFunctions.charClassHist(col("a"), 32),
        TextFunctions.charClassHist(col("b"), 32))).head().getLong(0)
    // hists: a:2,b:2,c:1 vs a:1,b:1,c:1,d:1 → |1|+|1|+|0|+|1| = 3
    assert(l1 === 3L)
    // length mismatch → null, never a partial sum
    val mism = Seq(("x", "y")).toDF("a", "b")
      .select(TextFunctions.l1Int(
        TextFunctions.charClassHist(col("a"), 32),
        TextFunctions.charClassHist(col("b"), 16))).head()
    assert(mism.isNullAt(0))
    // nullable ELEMENTS are rejected at analysis time — getInt on a null
    // slot would fold to 0 and silently under-filter the ED candidates
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(TextFunctions.l1Int(
        array(lit(1), lit(null).cast("int")),
        TextFunctions.charClassHist(lit("ab"), 2))).collect()
    }
    assert(ex.getMessage.contains("non-nullable array elements"))
  }

  test("content filter is a true lower bound: classL1 <= 2*levenshtein on corpus pairs") {
    // the safety property the edVerify filter rests on, checked against
    // the built-in levenshtein over a real cross-section of pairs
    val sample = docs.limit(30)
    val viol = sample.select(col("doc_id").as("ida"), col("text").as("ta"))
      .join(sample.select(col("doc_id").as("idb"), col("text").as("tb")),
        col("ida") < col("idb"))
      .select(TextFunctions.l1Int(
        TextFunctions.charClassHist(col("ta"), 32),
        TextFunctions.charClassHist(col("tb"), 32)).as("l1"),
        levenshtein(col("ta"), col("tb")).cast("long").as("ed"))
      .filter(col("l1") > col("ed") * 2)
      .count()
    assert(viol === 0L)
  }

  test("content filter bound holds on seeded random strings incl. multi-byte code points") {
    // the general-input safety net behind the corpus check above: the
    // L1 ≤ 2·ED inequality is claimed for ANY strings (code-point
    // histograms), so exercise it over a mixed-script alphabet with
    // 2-byte, 3-byte, and supplementary (surrogate-pair) code points,
    // plus the adversarial shapes — equal strings, pure permutations
    // (ED large, L1 exactly 0), block repeats, prefix/suffix edits
    val rnd = new scala.util.Random(421100)
    val alphabet = "abcde _-xyz" + "éñü" + "中文字" + new String(Character.toChars(0x1F600))
    val cps = { // code-point list (the emoji is two chars)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < alphabet.length) {
        val cp = alphabet.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toSeq
    }
    def randStr(maxLen: Int): String =
      (0 until rnd.nextInt(maxLen + 1)).map(_ => cps(rnd.nextInt(cps.size))).mkString
    val pairs = (0 until 280).map { i =>
      val a = randStr(40)
      val b = i % 4 match {
        case 0 => randStr(40) // independent
        case 1 => new String(rnd.shuffle(a.toList).toArray) // permutation: L1 = 0
        case 2 => a + randStr(6) // suffix insert
        case 3 => if (a.isEmpty) randStr(5)
          else a.updated(rnd.nextInt(a.length), 'q') // substitution
      }
      (a, b)
    } ++ Seq(("", ""), ("", "abc"), ("aaaa", "aaaaaaaa"))
    val viol = pairs.toDF("a", "b")
      .select(TextFunctions.l1Int(
        TextFunctions.charClassHist(col("a"), 32),
        TextFunctions.charClassHist(col("b"), 32)).as("l1"),
        levenshtein(col("a"), col("b")).cast("long").as("ed"),
        col("a"), col("b"))
      .filter(col("l1") > col("ed") * 2)
      .collect()
    assert(viol.isEmpty, s"bound violated: ${viol.take(3).mkString("; ")}")
  }

  test("editDistanceShortPairs: planted shorts land exactly, long docs out of class") {
    val planted = Seq(
      (1L, "short title one"),            // 15 chars
      (2L, "short title one!"),           // +1 char, dist 1
      (3L, "short title two"),            // "one"→"two", dist 3 to #1
      (4L, "a completely different str"), // in class, |len diff| > d from all
      (5L, "x" * 200)                     // above (d+1)*q: out of class
    ).toDF("doc_id", "text")
    val out = Dedup.editDistanceShortPairs(planted, d = 4, q = 8) // class: len < 40
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 3L, 4L)))
  }

  test("editDistanceShortPairs equals the all-pairs brute force on the real short class") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val out = Dedup.editDistanceShortPairs(corpus, d = 5, q = 16) // len < 96
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    val short = corpus.filter(length(col("text")) < 96)
    val truth = short.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      .join(short.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), 5).cast("long"))
      .filter(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    assert(out === truth)
  }

  test("editDistanceBoundaryPairs: the straddle pair neither two-sided miner sees") {
    // d=4, q=4: boundary at 20; bands [16,20) and [20,24)
    val base20 = "abcdefghijklmnopqrst" // 20 chars: long class
    val planted = Seq(
      (1L, base20),                 // long, len 20
      (2L, base20.take(17)),        // short, len 17 — ED 3 to #1: STRADDLE
      (3L, base20.take(16)),        // short, len 16 — ED 1 to #2 (both short)
      (4L, base20 + "uvw"),         // long, len 23 — ED 3 to #1 (both long)
      (5L, "zzzzzzzzzzzzzzzzz")     // short, len 17, far from everything
    ).toDF("doc_id", "text")
    val boundary = Dedup.editDistanceBoundaryPairs(planted, d = 4, q = 4)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    // exactly the cross-class pairs (#3 at len 16 is ED 4 from #1 too);
    // both-short and both-long pairs excluded
    assert(boundary === Seq((1L, 2L, 3L), (1L, 3L, 4L)))
    // and the hole is real: neither two-sided miner reports the straddle
    val mainOut = Dedup.editDistancePairs(planted, d = 4, q = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val shortOut = Dedup.editDistanceShortPairs(planted, d = 4, q = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!mainOut((1L, 2L)) && !shortOut((1L, 2L)))
    assert(mainOut((1L, 4L)) && shortOut((2L, 3L))) // each owns its class
  }

  test("three-way edit union equals the unrestricted brute force (planted-augmented corpus)") {
    // same derivation as q_dedup_edit_boundary: 93/97-char prefix variants
    // plant guaranteed straddles of the (d+1)*q = 96 boundary
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val seeds = docs.filter(length(col("text")) >= 120 && col("doc_id") % 17 === 3)
    val corpus = docs
      .unionAll(seeds.select((col("doc_id") + 10000000L).as("doc_id"),
        substring(col("text"), 1, 93).as("text")))
      .unionAll(seeds.select((col("doc_id") + 20000000L).as("doc_id"),
        substring(col("text"), 1, 97).as("text")))
    val d = 5
    val union = Dedup.editDistancePairs(corpus, d, q = 16)
      .unionByName(Dedup.editDistanceShortPairs(corpus, d, q = 16))
      .unionByName(Dedup.editDistanceBoundaryPairs(corpus, d, q = 16))
    val out = union.orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    val truth = corpus.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      .join(corpus.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), d).cast("long"))
      .filter(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b").as[(Long, Long, Long)].collect().toSeq
    assert(out === truth) // full coverage AND no duplicates across classes
    // the boundary class genuinely contributed (planted straddles found)
    val straddles = Dedup.editDistanceBoundaryPairs(corpus, d, q = 16)
      .as[(Long, Long, Long)].collect().toSeq
    assert(straddles.nonEmpty)
    assert(straddles.forall(_._3 <= d))
  }

  test("editDistanceShortAgainst complements editDistanceAgainst to the full bipartite truth") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val kept = docs.filter(col("doc_id") % 2 === 0)
    val d = 5
    val shortOut = Dedup.editDistanceShortAgainst(batch, kept, d, q = 16)
      .orderBy("doc_id", "kept_id").as[(Long, Long, Long)].collect().toSeq
    val mainOut = Dedup.editDistanceAgainst(batch, kept, d, q = 16)
      .orderBy("doc_id", "kept_id").as[(Long, Long, Long)].collect().toSeq
    val truth = batch.select(col("doc_id"), col("text").as("ta"))
      .join(kept.select(col("doc_id").as("kept_id"), col("text").as("tb")), lit(true))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), d).cast("long"))
      .filter(col("dist") >= 0)
      .select("doc_id", "kept_id", "dist")
      .orderBy("doc_id", "kept_id").as[(Long, Long, Long)].collect().toSeq
    assert((shortOut ++ mainOut).sorted === truth) // partition: complete + disjoint
    assert(shortOut.nonEmpty) // the short side really carries pairs here
    // contract: every short-side pair has a sub-96 doc, every main pair none
    val lens = docs.select(col("doc_id"), length(col("text")).as("l"))
      .as[(Long, Int)].collect().toMap
    assert(shortOut.forall { case (a, b, _) => lens(a) < 96 || lens(b) < 96 })
    assert(mainOut.forall { case (a, b, _) => lens(a) >= 96 && lens(b) >= 96 })
  }

  test("retrain lifecycle: drift readout, refreshed rewrite, stale-store rejection") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val half = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val cents = Similarity.kmeansCentroids(half, numCells = 4, iters = 1, salt = "ret")
    val wd = java.nio.file.Files.createTempDirectory("annret").toString
    Similarity.saveIvfIndex(spark, s"$wd/v1", cents,
      Some(Similarity.cellStats(half, cents)))
    Similarity.saveIvfAssigned(spark, s"$wd/v1",
      Similarity.assignIvfCells(half, cents), cents)
    Similarity.appendIvfAssigned(spark, s"$wd/v1", batch, cents)
    val merged = Similarity.mergeCellStats(
      Similarity.loadCellStats(spark, s"$wd/v1"),
      Similarity.cellStats(batch, cents)).localCheckpoint()
    Similarity.saveIvfIndex(spark, s"$wd/v1", cents, Some(merged))
    // drift readout over the accumulated state: populations account for
    // every vector, shares are exact ppm, and a 4-cell quantizer over
    // this corpus (>40 vectors) must have a cell past a valve of 10
    // (pigeonhole)
    val total = emb.count()
    assert(total > 40L)
    val load = Similarity.cellLoad(merged, maxCellSize = 10).collect()
    assert(load.map(_.getAs[Long]("n_members")).sum === total)
    assert(load.forall(_.getAs[Long]("share_ppm") <= 1000000L))
    assert(load.exists(_.getAs[Boolean]("over_valve")))
    Pins.release(merged)
    // version-swap is enforced
    intercept[IllegalArgumentException] {
      Similarity.retrainIvfStore(spark, s"$wd/v1", s"$wd/v1")
    }
    val next = Similarity.retrainIvfStore(spark, s"$wd/v1", s"$wd/v2")
    // the refresh really moved the quantizer (the odd half shifted means)
    assert(Similarity.quantizerFingerprint(next)
      !== Similarity.quantizerFingerprint(cents))
    // v2 serves at PARTIAL probe exactly like an in-line serve of the
    // full corpus under the refreshed quantizer
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    val pred = col("vec_id") % 20 === 0
    val served = keys(Similarity.ivfTopKAssigned(
      Similarity.loadIvfAssigned(spark, s"$wd/v2", next), pred, 5, next, nprobe = 2))
    assert(served === keys(
      Similarity.ivfTopKWithCentroids(emb, pred, 5, next, nprobe = 2)))
    assert(served.nonEmpty)
    // the old version no longer loads under the refreshed quantizer, and
    // v2's rebuilt stats state accounts for the whole corpus
    intercept[IllegalArgumentException] {
      Similarity.loadIvfAssigned(spark, s"$wd/v1", next)
    }
    val load2 = Similarity.cellLoad(
      Similarity.loadCellStats(spark, s"$wd/v2"), maxCellSize = 10).collect()
    assert(load2.map(_.getAs[Long]("n_members")).sum === total)
    // one-scan rewrite: the stats derived from the rewritten store
    // (cellStatsFromAssigned — no second nearestCell pass) ≡ the
    // two-scan form (a fresh cellStats pass over the same corpus)
    def statRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cell").cast("long"), col("dim").cast("long"),
        col("n").cast("long"), col("s").cast("string"))
        .as[(Long, Long, Long, String)].collect().toSet
    assert(statRows(Similarity.loadCellStats(spark, s"$wd/v2"))
      === statRows(Similarity.cellStats(emb, next)))
  }

  test("deletion propagates through the retrieval stores with an exact audit") {
    import graft.functions.TextFunctions.h60Jvm
    val allDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val wd = java.nio.file.Files.createTempDirectory("storedel").toString
    // ---- BM25 half
    TextAnalysis.saveBm25Index(spark, s"$wd/v1", allDocs)
    intercept[IllegalArgumentException] {
      TextAnalysis.deleteFromBm25Index(spark, s"$wd/v1", s"$wd/v1", lit(true))
    }
    val audit = TextAnalysis.deleteFromBm25Index(
      spark, s"$wd/v1", s"$wd/v2", col("doc_id") % 3 === 1).collect()
    assert(audit.length === 1)
    val ids = allDocs.select("doc_id").as[Long].collect()
    val del = ids.filter(_ % 3 == 1)
    assert(audit.head.getAs[Long]("n_deleted") === del.length.toLong)
    assert(audit.head.getAs[Long]("n_kept") === (ids.length - del.length).toLong)
    assert(audit.head.getAs[Long]("del_fp_sum")
      === del.map(id => h60Jvm(id.toString) % 1000003L).sum)
    // the survivor store serves EXACTLY a from-scratch index of the
    // surviving corpus — df/N/avg-dl all re-derive over survivors only
    TextAnalysis.saveBm25Index(spark, s"$wd/fresh",
      allDocs.filter(col("doc_id") % 3 =!= 1))
    val terms = Seq("vector", "stream", "window")
    def bmKeys(dir: String) = {
      val (p, d) = TextAnalysis.loadBm25Index(spark, dir)
      TextAnalysis.bm25TopKFromIndex(p, d, terms, 20)
        .as[(Long, Long, Long)].collect().toSeq
    }
    val servedDel = bmKeys(s"$wd/v2")
    assert(servedDel === bmKeys(s"$wd/fresh"))
    assert(servedDel.nonEmpty && servedDel.forall(_._1 % 3 != 1))
    // ---- ANN half
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 1, salt = "del")
    Similarity.saveIvfAssigned(spark, s"$wd/a1",
      Similarity.assignIvfCells(emb, cents), cents)
    val aud2 = Similarity.deleteFromIvfAssigned(
      spark, s"$wd/a1", s"$wd/a2", col("vec_id") % 4 === 1, cents).collect()
    val vids = emb.select("vec_id").as[Long].collect()
    val vdel = vids.filter(_ % 4 == 1)
    assert(aud2.head.getAs[Long]("n_deleted") === vdel.length.toLong)
    assert(aud2.head.getAs[Long]("del_fp_sum")
      === vdel.map(id => h60Jvm(id.toString) % 1000003L).sum)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    val pred = col("vec_id") % 20 === 0
    val servedAnn = keys(Similarity.ivfTopKAssigned(
      Similarity.loadIvfAssigned(spark, s"$wd/a2", cents), pred, 5, cents, nprobe = 2))
    assert(servedAnn === keys(Similarity.ivfTopKWithCentroids(
      emb.filter(col("vec_id") % 4 =!= 1), pred, 5, cents, nprobe = 2)))
    assert(servedAnn.nonEmpty)
    assert(servedAnn.forall { case (_, _, n) => n % 4 != 1 })
  }

  test("deletion propagates through the PQ-codes and positional-phrase stores") {
    import graft.functions.TextFunctions.h60Jvm
    val wd = java.nio.file.Files.createTempDirectory("storedel2").toString
    // ---- positional phrase half
    val allDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    TextAnalysis.saveBm25Positional(spark, s"$wd/q1", allDocs)
    intercept[IllegalArgumentException] {
      TextAnalysis.deleteFromBm25Positional(spark, s"$wd/q1", s"$wd/q1", lit(true))
    }
    val audit = TextAnalysis.deleteFromBm25Positional(
      spark, s"$wd/q1", s"$wd/q2", col("doc_id") % 3 === 1).collect()
    assert(audit.length === 1)
    val ids = allDocs.select("doc_id").as[Long].collect()
    val del = ids.filter(_ % 3 == 1)
    assert(audit.head.getAs[Long]("n_deleted") === del.length.toLong)
    assert(audit.head.getAs[Long]("n_kept") === (ids.length - del.length).toLong)
    assert(audit.head.getAs[Long]("del_fp_sum")
      === del.map(id => h60Jvm(id.toString) % 1000003L).sum)
    // survivor store serves the phrase EXACTLY like a from-scratch
    // positional index of the surviving corpus
    TextAnalysis.saveBm25Positional(spark, s"$wd/qfresh",
      allDocs.filter(col("doc_id") % 3 =!= 1))
    def phKeys(dir: String) = {
      val (p, d) = TextAnalysis.loadBm25Positional(spark, dir)
      TextAnalysis.phraseTopKFromIndex(p, d, Seq("stream", "window"), 20)
        .as[(Long, Long, Long)].collect().toSeq
    }
    val servedPh = phKeys(s"$wd/q2")
    assert(servedPh === phKeys(s"$wd/qfresh"))
    assert(servedPh.nonEmpty && servedPh.forall(_._1 % 3 != 1))
    // the rewrite kept the bucketed layout (pruning carries over)
    assert(spark.read.parquet(s"$wd/q2/postings_pos")
      .columns.contains("tok_bucket"))
    // ---- PQ codes half
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val books = Similarity.pqCodebooks(
      Similarity.pqTrainSet(emb, 0.3), m = 8, ksub = 16, iters = 1)
    Similarity.savePqCodes(spark, s"$wd/p1",
      Similarity.encodePqCodes(emb, books, cellBits = 4), books, cellBits = 4)
    intercept[IllegalArgumentException] {
      Similarity.deleteFromPqCodes(spark, s"$wd/p1", s"$wd/p1", lit(true), books)
    }
    val aud2 = Similarity.deleteFromPqCodes(
      spark, s"$wd/p1", s"$wd/p2", col("vec_id") % 4 === 1, books).collect()
    val vids = emb.select("vec_id").as[Long].collect()
    val vdel = vids.filter(_ % 4 == 1)
    assert(aud2.head.getAs[Long]("n_deleted") === vdel.length.toLong)
    assert(aud2.head.getAs[Long]("del_fp_sum")
      === vdel.map(id => h60Jvm(id.toString) % 1000003L).sum)
    // survivor store serves EXACTLY a from-scratch encode of survivors
    Similarity.savePqCodes(spark, s"$wd/pfresh",
      Similarity.encodePqCodes(emb.filter(col("vec_id") % 4 =!= 1), books,
        cellBits = 4), books, cellBits = 4)
    def pqKeys(dir: String) = {
      val (codes, cb) = Similarity.loadPqCodes(spark, dir, books)
      Similarity.pqTopKWithCodes(codes, emb, col("vec_id") % 20 === 0, 5,
        books, cellBits = cb, rerank = 16)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    }
    val servedPq = pqKeys(s"$wd/p2")
    assert(servedPq === pqKeys(s"$wd/pfresh"))
    assert(servedPq.nonEmpty)
    assert(servedPq.forall { case (_, _, n) => n % 4 != 1 })
    // the rewritten version still enforces the codebook stamp
    val drifted = books.map(_.map(_.map(_ + 0.25)))
    intercept[IllegalArgumentException] {
      Similarity.loadPqCodes(spark, s"$wd/p2", drifted)
    }
  }

  test("retrainPqStore: accumulated sub_stats refresh, corpus re-encode, version swap, stale-stamp rejection") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val half = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val books = Similarity.pqCodebooks(half, m = 8, ksub = 16, iters = 1, salt = "pqret")
    val wd = java.nio.file.Files.createTempDirectory("pqretrain").toString
    Similarity.savePqBooks(spark, s"$wd/v1", books,
      Some(Similarity.pqSubspaceStats(half, books)))
    Similarity.savePqCodes(spark, s"$wd/v1",
      Similarity.encodePqCodes(half, books, cellBits = 4), books, cellBits = 4)
    Similarity.appendPqCodes(spark, s"$wd/v1", batch, books)
    // merged per-batch state ≡ the one-shot stats of the union corpus
    // (the mergeable-state contract, exact DECIMAL sums)
    val merged = Similarity.mergePqSubStats(
      Similarity.loadPqSubStats(spark, s"$wd/v1"),
      Similarity.pqSubspaceStats(batch, books)).localCheckpoint()
    def statKeys(df: org.apache.spark.sql.DataFrame) = df
      .select(col("s").cast("int"), col("code").cast("int"),
        col("dim").cast("int"), col("n").cast("long"),
        col("sm").cast("string"))
      .as[(Int, Int, Int, Long, String)].collect().toSet
    assert(statKeys(merged) === statKeys(Similarity.pqSubspaceStats(emb, books)))
    Similarity.savePqBooks(spark, s"$wd/v1", books, Some(merged))
    Pins.release(merged)
    // version-swap is enforced
    intercept[IllegalArgumentException] {
      Similarity.retrainPqStore(spark, s"$wd/v1", s"$wd/v1", emb)
    }
    val next = Similarity.retrainPqStore(spark, s"$wd/v1", s"$wd/v2", emb)
    // the refresh really moved the codebooks (the odd half shifted means)
    assert(Similarity.bookFingerprint(next) !== Similarity.bookFingerprint(books))
    // v2 serves exactly like an in-line PQ serve under the refreshed books
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val pred = col("vec_id") % 20 === 0
    val (codes, cb) = Similarity.loadPqCodes(spark, s"$wd/v2", next)
    val served = keys(Similarity.pqTopKWithCodes(
      codes, emb, pred, 5, next, cellBits = cb, rerank = 16))
    assert(served === keys(Similarity.pqTopKWithBooks(
      emb, pred, 5, next, cellBits = cb, rerank = 16)))
    assert(served.nonEmpty)
    // row accounting: the rewrite re-encoded the WHOLE corpus
    assert(codes.count() === emb.count())
    // one-scan rewrite: the sub_stats derived from the pinned encode
    // projection (pqSubspaceStatsFromCodes — no second code search) ≡
    // the two-scan form (a fresh pqSubspaceStats pass over the corpus)
    assert(statKeys(Similarity.loadPqSubStats(spark, s"$wd/v2"))
      === statKeys(Similarity.pqSubspaceStats(emb, next)))
    // stale stamps fail loudly in both directions
    intercept[IllegalArgumentException] {
      Similarity.loadPqCodes(spark, s"$wd/v1", next)
    }
    intercept[IllegalArgumentException] {
      Similarity.loadPqCodes(spark, s"$wd/v2", books)
    }
  }

  test("denormalized BM25 stores serve from dl-on-postings + the stats sidecar, never doclen") {
    val allDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val wd = java.nio.file.Files.createTempDirectory("bm25dl").toString
    TextAnalysis.saveBm25Index(spark, s"$wd/tf", allDocs)
    TextAnalysis.saveBm25Positional(spark, s"$wd/pos", allDocs)
    val (p, d) = TextAnalysis.loadBm25Index(spark, s"$wd/tf")
    assert(p.columns.contains("dl"), "postings carry the denormalized dl")
    val stats = TextAnalysis.loadBm25Stats(spark, s"$wd/tf")
    assert(stats.isDefined)
    // the sidecar IS the doclen aggregation, exactly (zero-token docs in)
    assert(stats.get === TextAnalysis.Bm25Stats(d.count(),
      d.agg(coalesce(sum(col("dl")), lit(0L))).as[Long].head()))
    // a POISONED doclen leaves the serve untouched when the sidecar and
    // the dl column are in play — the proof the 100 TB path reads one
    // stats row + term-pruned postings and nothing corpus-sized
    val poisoned = d.withColumn("dl", lit(0L))
    val terms = Seq("vector", "stream", "window")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "score", "n_hit").as[(Long, Long, Long)].collect().toSeq
    assert(rows(TextAnalysis.bm25TopKFromIndex(p, poisoned, terms, 20, stats))
      === rows(TextAnalysis.bm25TopK(allDocs, terms, 20)))
    // batch form, same poison
    val qs = Seq((1L, Seq("vector", "stream")), (2L, Seq("window")))
      .toDF("query_id", "terms")
    assert(TextAnalysis.bm25PerQueryFromIndex(p, poisoned, qs, 5, stats = stats)
        .select("query_id", "rnk", "doc_id").as[(Long, Long, Long)].collect().toSet
      === TextAnalysis.bm25PerQuery(allDocs, qs, 5)
        .select("query_id", "rnk", "doc_id").as[(Long, Long, Long)].collect().toSet)
    // positional store, same poison
    val (pp, dp) = TextAnalysis.loadBm25Positional(spark, s"$wd/pos")
    assert(pp.columns.contains("dl"))
    val pstats = TextAnalysis.loadBm25Stats(spark, s"$wd/pos")
    assert(pstats.isDefined)
    assert(TextAnalysis.phraseTopKFromIndex(pp, dp.withColumn("dl", lit(0L)),
        Seq("stream", "window"), 20, pstats)
        .as[(Long, Long, Long)].collect().toSeq
      === TextAnalysis.phraseTopK(allDocs, Seq("stream", "window"), 20)
        .as[(Long, Long, Long)].collect().toSeq)
    // the sidecar merges exactly under append, and delete rewrites it to
    // the survivors' statistics
    TextAnalysis.appendBm25Index(spark, s"$wd/acc",
      allDocs.filter(col("doc_id") % 2 === 0))
    TextAnalysis.appendBm25Index(spark, s"$wd/acc",
      allDocs.filter(col("doc_id") % 2 === 1))
    assert(TextAnalysis.loadBm25Stats(spark, s"$wd/acc").get === stats.get)
    // the maintenance check: healthy store verifies; a doclen row whose
    // append died before its stats row (the one accretion gap) is caught
    assert(TextAnalysis.verifyBm25Stats(spark, s"$wd/acc"))
    Seq((999999L, 3L)).toDF("doc_id", "dl")
      .write.mode("append").parquet(s"$wd/acc/doclen")
    assert(!TextAnalysis.verifyBm25Stats(spark, s"$wd/acc"))
    TextAnalysis.deleteFromBm25Index(
      spark, s"$wd/tf", s"$wd/tf2", col("doc_id") % 3 === 1)
    val surv = allDocs.filter(col("doc_id") % 3 =!= 1)
    TextAnalysis.saveBm25Index(spark, s"$wd/survfresh", surv)
    assert(TextAnalysis.loadBm25Stats(spark, s"$wd/tf2").get
      === TextAnalysis.loadBm25Stats(spark, s"$wd/survfresh").get)
    // a legacy store with postings but no sidecar refuses appends (its
    // meta is current, so the refusal is the sidecar check's)
    val legacy = s"$wd/legacy"
    bucketedWrite(legacy, Seq((1L, "alpha", 1L, 1L)))
    graft.store.StoreMeta.write(spark, s"$legacy/postings_meta", qfp = 0L, cellBits = -1)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.appendBm25Index(spark, legacy, allDocs.limit(3))
    }
    assert(e.getMessage.contains("stats sidecar"))
  }

  /** Minimal bucketed postings dir (tok_bucket partition, dl column) for
    * the legacy-layout cases.
    */
  private def bucketedWrite(dir: String, rows: Seq[(Long, String, Long, Long)]): Unit = {
    import graft.functions.TextFunctions.h60
    rows.toDF("doc_id", "tok", "tf", "dl")
      .withColumn("tok_bucket", pmod(h60(col("tok")), lit(64L)))
      .write.partitionBy("tok_bucket").parquet(s"$dir/postings")
  }

  test("verifyBm25Stats catches a postings-ahead-of-doclen tear; a torn sidecar never serves") {
    import graft.functions.TextFunctions.h60
    val wd = java.nio.file.Files.createTempDirectory("bm25torn").toString
    val allDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    TextAnalysis.appendBm25Index(spark, s"$wd/acc", allDocs)
    assert(TextAnalysis.verifyBm25Stats(spark, s"$wd/acc"))
    // a crash between the postings and doclen writes of batch N leaves
    // phantom postings: doclen ↔ stats still agree (consistently stale),
    // so only the postings↔doclen reconcile can see it
    Seq((888888L, "zzzphantom", 2L, 2L)).toDF("doc_id", "tok", "tf", "dl")
      .withColumn("tok_bucket", pmod(h60(col("tok")), lit(64L)))
      .write.mode("append").partitionBy("tok_bucket")
      .parquet(s"$wd/acc/postings")
    assert(!TextAnalysis.verifyBm25Stats(spark, s"$wd/acc"))
    // same tear on a positional store (verify reads postings_pos there)
    TextAnalysis.appendBm25Positional(spark, s"$wd/pos", allDocs)
    assert(TextAnalysis.verifyBm25Stats(spark, s"$wd/pos"))
    Seq((888888L, "zzzphantom", 2L, Array(0L, 5L), 2L))
      .toDF("doc_id", "tok", "tf", "ps", "dl")
      .withColumn("tok_bucket", pmod(h60(col("tok")), lit(64L)))
      .write.mode("append").partitionBy("tok_bucket")
      .parquet(s"$wd/pos/postings_pos")
    assert(!TextAnalysis.verifyBm25Stats(spark, s"$wd/pos"))
    // a stats dir that exists but holds no committed rows (crash before
    // the first sidecar write) must load as None — the serve falls back
    // to the doclen aggregation instead of scoring with zeroed stats
    TextAnalysis.saveBm25Index(spark, s"$wd/tornstats", allDocs)
    Seq.empty[(Long, Long)].toDF("n_docs", "a_tokens")
      .write.mode("overwrite").parquet(s"$wd/tornstats/stats")
    assert(TextAnalysis.loadBm25Stats(spark, s"$wd/tornstats").isEmpty)
    // and the serve without the sidecar still ranks correctly off doclen
    val (p, d) = TextAnalysis.loadBm25Index(spark, s"$wd/tornstats")
    val viaDoclen = TextAnalysis.bm25TopKFromIndex(p, d, Seq("vector"), 5,
      stats = TextAnalysis.loadBm25Stats(spark, s"$wd/tornstats"))
    assert(viaDoclen.collect().toSeq
      === TextAnalysis.bm25TopK(allDocs, Seq("vector"), 5).collect().toSeq)
  }

  test("appendBm25Index rejects a store written under the flat (unbucketed) layout") {
    val dir = java.nio.file.Files.createTempDirectory("bm25flat").toString
    Seq((1L, "alpha", 1L)).toDF("doc_id", "tok", "tf")
      .write.parquet(s"$dir/postings")
    Seq((1L, 1L)).toDF("doc_id", "dl").write.parquet(s"$dir/doclen")
    val e = intercept[IllegalStateException] {
      TextAnalysis.appendBm25Index(spark, dir, docs.limit(5))
    }
    assert(e.getMessage.contains("rebuild the store with saveBm25Index"))
    assert(!new java.io.File(s"$dir/stats").exists, "refused before any write")
  }

  test("one-shot similarity paths release every pin they take") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    emb.count() // materialize the spec-local cache before the baseline
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 1, salt = "pin")
    val r1 = Similarity.ivfTopKWithCentroids(
      emb, col("vec_id") % 20 === 0, 5, cents, nprobe = 2)
    assert(r1.count() > 0)
    Pins.release(r1)
    val r2 = Similarity.nearDupPairs(emb, 0.35)
    r2.count()
    Pins.release(r2)
    // with the pre-round-15 `.cache()` implementation the normalized
    // corpus and band tables would linger here for the app's lifetime
    assert(sc.getPersistentRDDs.keySet === before,
      "similarity one-shots must not leave pinned storage behind once " +
        "their results are released")
  }
}
