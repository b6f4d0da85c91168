package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.store.StoreMeta

/** Text-analysis operators over the documents table: token statistics,
  * quality scoring, heuristic language ID, and content fingerprinting.
  * All per-row (narrow) transformations — they scale linearly and never
  * shuffle; every formula is reproducible in ANSI SQL for the oracle.
  */
object TextAnalysis {

  /** Stopword lists for the heuristic language scorer. Deliberately tiny
    * and fixed: the operator contract is the scoring rule, not the lists.
    */
  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val StopwordsEs = Seq("el", "la", "de", "que", "y", "en", "un", "es")
  val StopwordsDe = Seq("der", "die", "das", "und", "ist", "von", "ein", "zu")
  val StopwordsFr = Seq("le", "la", "de", "et", "est", "un", "une", "dans")

  /** Token counting: total and distinct whitespace tokens per document. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_unique"))

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean token
    * length, and a composite score. Ratios are double divisions of integer
    * counts — deterministic across engines.
    */
  def qualityScores(docs: DataFrame): DataFrame = {
    // tokens materialize once in their own projection — the ratios
    // reference the array ~5 times, and an inlined tokenizer would re-split
    // the text per reference (CollapseProject keeps multi-referenced
    // non-cheap expressions un-merged)
    val toks = col("toks")
    val nTok = size(toks).cast("double")
    val stopHits = size(filter(toks, t => t.isin(StopwordsEn: _*))).cast("double")
    val punct = (length(col("text")) - length(translate(col("text"), ".,!?;:", ""))).cast("double")
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        when(length(col("text")) > 0, punct / length(col("text")).cast("double"))
          .otherwise(lit(0.0)).as("punct_ratio"),
        when(nTok > 0, stopHits / nTok).otherwise(lit(0.0)).as("stopword_ratio"),
        when(nTok > 0,
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
          .otherwise(lit(0.0)).as("mean_token_len"))
  }

  /** Heuristic language ID: count stopword hits per language over the
    * token bag (with multiplicity); the guess is the max-hit language with
    * a fixed priority order (en > es > de > fr) breaking ties, 'und'
    * (undetermined) when no list hits at all.
    */
  def languageId(docs: DataFrame): DataFrame = {
    // one tokenization per row, shared by the four language scorers
    def hits(words: Seq[String]) =
      size(filter(col("toks"), t => t.isin(words: _*))).cast("long")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        hits(StopwordsEn).as("en_hits"),
        hits(StopwordsEs).as("es_hits"),
        hits(StopwordsDe).as("de_hits"),
        hits(StopwordsFr).as("fr_hits"))
      .withColumn(
        "guessed_lang",
        when(col("en_hits") + col("es_hits") + col("de_hits") + col("fr_hits") === 0, lit("und"))
          .when(col("en_hits") >= greatest(col("es_hits"), col("de_hits"), col("fr_hits")), lit("en"))
          .when(col("es_hits") >= greatest(col("de_hits"), col("fr_hits")), lit("es"))
          .when(col("de_hits") >= col("fr_hits"), lit("de"))
          .otherwise(lit("fr")))
  }

  /** Vocabulary extraction: the `topK` most frequent tokens with total
    * occurrences and document frequency — the corpus-stats input for
    * tokenizer training and stop-list induction. One explode + one
    * aggregation shuffle on the token; the top-k is a distributed
    * `TakeOrdered`, never a full global sort.
    */
  def vocabulary(docs: DataFrame, topK: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(topK)

  /** Encode documents to vocabulary ids — the final training-prep step
    * after tokenizer induction: each token maps to its [[vocabulary]]
    * rank (1-based; rank order = occurrences DESC, token ASC — the
    * deterministic id assignment), out-of-vocabulary tokens map to 0.
    * Ids emit as a space-joined string (`ids`) plus `n_tokens` and
    * `n_oov` — the OOV rate is the tokenizer-coverage metric a vocab
    * size is tuned on.
    *
    * Scale shape: the vocab is topK rows → broadcast left join onto the
    * exploded token stream, then one per-doc ordered rebuild (the same
    * posexplode → collect_list(struct) pattern as the dedup rewrites).
    * One shuffle on doc_id; the corpus never self-joins.
    */
  def encodeIds(docs: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val vocab = vocabulary(docs, topK)
      .select(col("token").as("tok"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occurrences").desc, col("token"))).cast("long").as("tok_id"))
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "tok")))
      .join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("tok_id", coalesce(col("tok_id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tok_id") === 0, lit(1L)).otherwise(lit(0L))).as("n_oov"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("i"), col("tok_id")))),
          e => e.getField("tok_id"))).as("ids"))
  }

  /** BPE-ish token counting: a tokenizer-shaped regex (letter runs, digit
    * runs, single punctuation marks — the class structure GPT-style BPE
    * pre-tokenizers split on) counted per document, alongside the
    * whitespace count. The engine-portable subset of regex (ASCII classes,
    * alternation) evaluates identically under Java regex and RE2, so the
    * oracle replays it with `regexp_extract_all`.
    */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def tokenCountsBpe(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_whitespace"),
      size(regexp_extract_all(lower(col("text")), lit(BpeishPattern), lit(0)))
        .cast("long").as("n_bpeish"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * rolling-hash scheme): hash every char `k`-gram, slide a window of
    * `w` consecutive hashes, keep each window's minimum, emit the distinct
    * mins. Guarantees any shared substring of length ≥ k + w − 1 yields a
    * shared fingerprint — the local-similarity detector that whole-text
    * hashing cannot provide. One explode (n−k+1 rows per doc) + one
    * per-doc window pass; fingerprint density ≈ 2/(w+1) of positions.
    */
  /** Modulus/base of the fast polynomial k-gram hash: Horner over ASCII
    * codes mod the Mersenne prime 2^31−1, base 257 — pure codegen'd long
    * arithmetic, ~10× cheaper than the md5-derived portable hash (one md5
    * per character position is the price of cross-engine replay). Both
    * modes give the winnowing guarantee; only h60 is oracle-replayable
    * bit-for-bit AND collision-grade for global dedup, so portable stays
    * the default and the fast mode is the single-engine throughput path.
    */
  val FastHashBase = 257L
  val FastHashMod = 2147483647L

  def winnowFingerprints(
      docs: DataFrame,
      k: Int = 5,
      w: Int = 4,
      portableHash: Boolean = true): DataFrame = {
    require(k > 0 && w > 0, "k/w must be positive")
    // fully per-row: a document's fingerprint set never needs another
    // row, so the k-gram hashes, the sliding window minima, and the
    // per-doc dedup all run as array HOFs inside one narrow projection —
    // ZERO shuffles (an explode + per-doc window + global distinct would
    // pay two). The hash array materializes in its own projection: the
    // window lambda references it once per element, and an inlined
    // expression would re-hash every k-gram per reference.
    val eligible = docs.filter(length(col("text")) >= k + w - 1)
    winnowLoop(eligible, k, w, portableHash)
  }

  /** Both winnowing modes as one tight per-partition char loop — the
    * genuine imperative case SURVEY §7.3 reserves `mapPartitions` for.
    * Zero shuffle and no per-element lambda dispatch (higher-order array
    * functions evaluate interpreted — the equivalent declarative HOF form
    * measured 1.8 s fast / 3.2 s portable vs 0.33 s / ~1 s here at sf0.1).
    * Values are bit-identical to what each mode's DuckDB oracle replays:
    * portable = first 60 bits of md5 of the k-gram (the hex-prefix h60,
    * extracted numerically from the digest — no hex formatting), fast =
    * the base-257 mod 2^31−1 Horner polynomial over char codes. A Row
    * encoder carries `doc_id` through at its ORIGINAL type — no silent
    * long-narrowing of string/decimal ids.
    */
  private def winnowLoop(
      eligible: DataFrame, k: Int, w: Int, portable: Boolean): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val in = eligible.select(col("doc_id"), col("text"))
    val outSchema = StructType(Seq(
      in.schema.fields(0), StructField("fp", LongType, nullable = false)))
    in.mapPartitions { it =>
        // one digest instance per partition, reset per k-gram
        val md =
          if (portable) java.security.MessageDigest.getInstance("MD5") else null
        def h60Of(text: String, i: Int): Long = {
          md.reset()
          val d = md.digest(
            text.substring(i, i + k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 15 hex digits == top 60 bits of the first 8 digest bytes
          val top =
            ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
              ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
              ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
              ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
          top >>> 4
        }
        it.flatMap { r =>
          val id = r.get(0)
          val text = r.getString(1)
          val m = text.length - k + 1
          val hs = new Array[Long](m)
          var i = 0
          while (i < m) {
            if (portable) hs(i) = h60Of(text, i)
            else {
              var h = 0L
              var j = 0
              while (j < k) {
                h = (h * FastHashBase + text.charAt(i + j)) % FastHashMod
                j += 1
              }
              hs(i) = h
            }
            i += 1
          }
          val fps = new java.util.HashSet[java.lang.Long]()
          var s = 0
          while (s <= m - w) {
            var mn = hs(s)
            var j = 1
            while (j < w) { if (hs(s + j) < mn) mn = hs(s + j); j += 1 }
            fps.add(mn)
            s += 1
          }
          val out = new Array[Row](fps.size)
          val fit = fps.iterator()
          var x = 0
          while (fit.hasNext) { out(x) = Row(id, fit.next().longValue()); x += 1 }
          out.iterator
        }
      }(Encoders.row(outSchema))
      .toDF("doc_id", "fp")
  }

  /** Positional winnowing (the form the winnowing paper actually
    * specifies — §4 of Schleimer et al. records (min, position) pairs):
    * like [[winnowFingerprints]] but each selected fingerprint carries
    * the 1-based char position of its k-gram, with the RIGHTMOST minimum
    * selected per window (the paper's robust-winnowing tie rule, which
    * minimizes re-selections as the window slides). Positions are what
    * turn overlap COUNTS into overlap LOCATIONS — the
    * [[Dedup.winnowSpanPairs]] diagonal alignment consumes this table.
    * Portable-hash only (the positional selection must replay in the
    * oracle). Output: distinct (doc_id, pos, fp) — the same fingerprint
    * CAN recur at several positions; same zero-shuffle per-row loop as
    * the positionless form.
    */
  def winnowFingerprintsPos(
      docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, "k/w must be positive")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val in = docs.filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"), col("text"))
    val outSchema = StructType(Seq(
      in.schema.fields(0),
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    in.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h60Of(text: String, i: Int): Long = {
          md.reset()
          val d = md.digest(
            text.substring(i, i + k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val top =
            ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
              ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
              ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
              ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
          top >>> 4
        }
        it.flatMap { r =>
          val id = r.get(0)
          val text = r.getString(1)
          val m = text.length - k + 1
          val hs = new Array[Long](m)
          var i = 0
          while (i < m) { hs(i) = h60Of(text, i); i += 1 }
          val sel = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
          var s = 0
          while (s <= m - w) {
            var mn = hs(s)
            var mp = s
            var j = 1
            // <= so a later equal value wins: the rightmost minimum
            while (j < w) { if (hs(s + j) <= mn) { mn = hs(s + j); mp = s + j }; j += 1 }
            sel += ((mp, mn))
            s += 1
          }
          sel.iterator.map { case (p, f) => Row(id, (p + 1).toLong, f) }
        }
      }(Encoders.row(outSchema))
      .toDF("doc_id", "pos", "fp")
  }

  /** One learned BPE merge: rank order, the two symbols joined, and the
    * corpus-weighted count that won the rank.
    */
  final case class BpeMerge(rank: Int, left: String, right: String, pair_count: Long)

  /** Distributed BPE merge training — the tokenizer-training primitive:
    * greedily learn `numMerges` symbol merges, each the corpus-wide most
    * frequent adjacent symbol pair (ties to the lexicographically smallest
    * pair — deterministic run-to-run and cluster-to-cluster, since pair
    * counts are exact longs).
    *
    * Trains on the DISTINCT-word table weighted by occurrence count (the
    * standard reduction: pair statistics depend only on word shapes ×
    * frequencies, collapsing 100 TB of text to millions of rows). Each
    * iteration is one explode + one (pair)-key aggregation with a
    * distributed argmax (TakeOrdered 1), then a per-row greedy
    * left-to-right merge pass — checkpointed per round (lineage truncated,
    * not just cached) so the logical plan never stacks `numMerges` nested
    * folds and round k never re-analyzes k rounds of history.
    */
  /** Per-round lineage truncation + storage release — shared with the
    * cluster-propagation loop; see [[Iterate.checkpointed]].
    */
  private def checkpointed(df: DataFrame): (DataFrame, () => Unit) =
    Iterate.checkpointed(df)

  def bpeTrain(docs: DataFrame, numMerges: Int): Seq[BpeMerge] =
    bpeTrainBatched(docs, numMerges, batchSize = 1)

  /** Batched BPE training: per round, ONE pair-count job ranks the corpus
    * pairs, the driver greedily selects up to `batchSize` merges whose
    * symbols are pairwise disjoint (and whose symbols don't collide with a
    * just-created merged symbol), and ONE checkpointed pass applies them
    * all in rank order — so a 30k-merge vocabulary costs ~30k/batchSize
    * scheduler round-trips instead of 30k (the round-4/5 wall:
    * one `.limit(1).collect()` job per merge).
    *
    * Exactness: `batchSize = 1` IS sequential greedy BPE (the default
    * [[bpeTrain]] path). For `batchSize > 1`, disjointness guarantees the
    * selected pairs' counts can't change each other (merging (a,b) only
    * perturbs pairs touching `a` or `b`), so every selected merge's count
    * is its true corpus count at selection time; the divergence from
    * sequential greedy is only that a pair NEWLY CREATED by an earlier
    * merge in the same round (count ≤ that merge's count) cannot outrank a
    * later selection until the next round — the standard frequency-
    * snapshot batching of parallel tokenizer trainers. Candidates are
    * drawn from a bounded top-(4·batchSize) window; if the window runs dry
    * of disjoint pairs the round simply selects fewer (never wrong, the
    * next snapshot re-ranks).
    */
  def bpeTrainBatched(
      docs: DataFrame, numMerges: Int, batchSize: Int): Seq[BpeMerge] = {
    require(numMerges > 0, "numMerges must be positive")
    require(batchSize > 0, "batchSize must be positive")
    var (words, releaseWords) = checkpointed(docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(split(col("w"), "").as("syms"), col("wc")))
    val merges = Seq.newBuilder[BpeMerge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val window = math.max(batchSize * 4, 16)
      val top = words
        .select(col("wc"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(window)
        .collect()
      if (top.isEmpty) done = true // every word is a single symbol
      else {
        // greedy disjoint selection in rank order: a candidate is dropped
        // if it shares a symbol with an already-selected pair, or if one
        // of its symbols is a string a selected merge is about to create
        val forbidden = scala.collection.mutable.Set.empty[String]
        val selected = Seq.newBuilder[BpeMerge]
        var taken = 0
        top.iterator
          .takeWhile(_ => taken < batchSize && rank + taken <= numMerges)
          .foreach { row =>
            val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
            if (!forbidden(l) && !forbidden(r)) {
              selected += BpeMerge(rank + taken, l, r, n)
              forbidden += l += r += (l + r)
              taken += 1
            }
          }
        val batch = selected.result()
        val folded = batch.foldLeft(col("syms")) { (syms, m) =>
          mergePair(syms, m.left, m.right)
        }
        val (next, releaseNext) = checkpointed(
          words.select(folded.as("syms"), col("wc")))
        releaseWords()
        words = next
        releaseWords = releaseNext
        merges ++= batch
        rank += batch.size
      }
    }
    releaseWords()
    merges.result()
  }

  /** Segment each word of each document through the learned merges, in
    * rank order — the apply side of [[bpeTrain]]. Adds `bpe_syms`
    * (array of subword symbols per document, word boundaries preserved by
    * construction: merges never cross words).
    *
    * Scale shape: segmentation depends only on the word, so the merges run
    * over the DISTINCT-word table (the same reduction [[bpeTrain]] uses —
    * 100 TB of text collapses to a vocabulary-sized frame), applied in
    * re-materialized chunks of `chunkSize` so the plan never nests more
    * than `chunkSize` aggregate HOFs — a 30k-merge vocabulary is ~1000
    * shallow cached passes, not one unanalyzable 30k-deep expression tree.
    * The word→segments lookup then joins back to the exploded documents
    * (broadcast by default: the lookup is vocabulary-sized); document
    * order is restored explicitly from the token position, never from
    * collect_list arrival order.
    */
  def bpeSegment(
      docs: DataFrame,
      merges: Seq[BpeMerge],
      chunkSize: Int = 32,
      broadcastLookup: Boolean = true): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    var seg = docs
      .select(explode(tokens(col("text"))).as("w"))
      .distinct()
      .select(col("w"), split(col("w"), "").as("syms"))
    // the LAST chunk's checkpoint stays persisted — the returned plan reads
    // from it (vocabulary-sized); intermediate generations release eagerly
    var releasePrev: () => Unit = () => ()
    merges.grouped(chunkSize).foreach { chunk =>
      val folded = chunk.foldLeft(col("syms")) { (syms, m) =>
        mergePair(syms, m.left, m.right)
      }
      // the checkpoint truncates the LINEAGE, not just the execution: the
      // next chunk starts from a LogicalRDD instead of stacking another
      // `chunkSize` aggregates onto an ever-deeper logical plan (a cache
      // alone keeps the full tree and the analyzer/optimizer still walk it
      // every chunk — O(merges²) analysis and an eventual stack overflow)
      val (next, releaseNext) = checkpointed(seg.select(col("w"), folded.as("syms")))
      releasePrev()
      releasePrev = releaseNext
      seg = next
    }
    val lookup = if (broadcastLookup) broadcast(seg) else seg
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .join(lookup, "w")
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        e => e.getField("syms"))).as("bpe_syms"))
  }

  /** Adjacent (left, right) symbol pairs of one word; single-symbol words
    * yield none (guarded: sequence(1, 0) would count DOWN).
    */
  private def adjacentPairs(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1), i =>
        struct(element_at(syms, i).as("l"), element_at(syms, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** One greedy left-to-right merge pass: every non-overlapping adjacent
    * (l, r) becomes the joined symbol ("aaa" under (a,a) → ["aa","a"]).
    */
  private def mergePair(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** Repetition quality scores — the Gopher/RefinedWeb-style repetition
    * rules a pretraining filter applies (Rae et al. 2021 §A1.1: fraction
    * of duplicated content, top-n-gram fraction), token-level so the
    * oracle replays them exactly:
    *
    *   - `dup_token_ratio`: 1 − distinct/total tokens (per-row HOF);
    *   - `top_bigram_ratio`: occurrences of the most frequent bigram over
    *     all bigram slots;
    *   - `dup_trigram_ratio`: fraction of trigram slots whose trigram
    *     occurs more than once.
    *
    * Gram stats are explode + two (doc_id[, gram])-keyed aggregations —
    * linear and shuffle-partitioned by document, never a per-row O(n²)
    * membership scan. Docs too short for a gram level score 0.
    */
  def repetitionScores(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n_tokens"))
    val tokenDup = base.select(col("doc_id"), col("n_tokens"),
      when(col("n_tokens") > 0,
        lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
          col("n_tokens").cast("double"))
        .otherwise(lit(0.0)).as("dup_token_ratio"))
    def gramCounts(n: Int): DataFrame = base
      .filter(col("n_tokens") >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(col("toks"), i + lit(j))): _*))).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
    val bi = gramCounts(2)
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("total"))
      .select(col("doc_id"),
        (col("top_c").cast("double") / col("total").cast("double"))
          .as("top_bigram_ratio"))
    val tri = gramCounts(3)
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"),
        sum(col("c")).as("total"))
      .select(col("doc_id"),
        (col("dup").cast("double") / col("total").cast("double"))
          .as("dup_trigram_ratio"))
    tokenDup
      .join(bi, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("dup_token_ratio"),
        coalesce(col("top_bigram_ratio"), lit(0.0)).as("top_bigram_ratio"),
        coalesce(col("dup_trigram_ratio"), lit(0.0)).as("dup_trigram_ratio"))
  }

  /** Gopher-style heuristic quality gate (Rae et al. 2021 §A1.1) — the
    * rule battery a pretraining filter applies per document, emitted as
    * per-rule flags plus the conjunction, so a pipeline can either hard-
    * filter on `pass_all` or audit per-rule failure rates before choosing
    * thresholds:
    *
    *   - `words_ok`:  token count within [minWords, maxWords];
    *   - `mwl_ok`:    mean token length within [minMwl, maxMwl] tenths;
    *   - `alpha_ok`:  ≥ alphaPct% of tokens contain an alphabetic char;
    *   - `stop_ok`:   ≥ minStopDistinct distinct common stopwords occur
    *     (Gopher's "at least 2 of a small stop list" rule, over
    *     [[StopwordsEn]]);
    *   - `ttr_ok`:    distinct/total tokens ≥ ttrPct% (the repetition
    *     proxy; [[repetitionScores]] has the graded forms).
    *
    * Every flag is an INTEGER cross-multiplication comparison (e.g. mean
    * length ≥ 3.0 tested as 10·Σlen ≥ 30·n), so there is no float
    * division anywhere and the oracle replays bit-exactly. One narrow
    * projection per row — zero shuffle, codegen throughout. Defaults are
    * Gopher's published bounds; tests/queries pass stricter ones so the
    * flags discriminate on the synthetic corpus.
    */
  def gopherGate(
      docs: DataFrame,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMwlTenths: Int = 30,
      maxMwlTenths: Int = 100,
      alphaPct: Int = 80,
      minStopDistinct: Int = 2,
      ttrPct: Int = 20): DataFrame = {
    val toks = col("toks")
    val n = col("n_tokens")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_unique"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("sum_token_len"),
        size(filter(toks, t => t.rlike("[a-z]"))).cast("long").as("n_alpha_words"),
        size(filter(array_distinct(toks), t => t.isin(StopwordsEn: _*)))
          .cast("long").as("n_stop_distinct"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_unique"), col("sum_token_len"),
        col("n_alpha_words"), col("n_stop_distinct"),
        (n >= minWords && n <= maxWords).cast("long").as("words_ok"),
        (col("sum_token_len") * 10 >= n * minMwlTenths &&
          col("sum_token_len") * 10 <= n * maxMwlTenths).cast("long").as("mwl_ok"),
        (col("n_alpha_words") * 100 >= n * alphaPct).cast("long").as("alpha_ok"),
        (col("n_stop_distinct") >= minStopDistinct).cast("long").as("stop_ok"),
        (col("n_unique") * 100 >= n * ttrPct).cast("long").as("ttr_ok"))
      .withColumn("pass_all",
        (col("words_ok") === 1 && col("mwl_ok") === 1 && col("alpha_ok") === 1 &&
          col("stop_ok") === 1 && col("ttr_ok") === 1).cast("long"))
  }

  /** Content fingerprints: h60 of the full normalized text (exact-content
    * identity) and md5 of the sorted distinct-token bag (order-insensitive
    * identity) — the lookup keys for dedup joins.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      h60(concat_ws(" ", tokens(col("text")))).as("content_h60"),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))).as("bag_fp"))

  /** Corpus unigram language-model scoring — the classic cheap
    * perplexity proxy for quality filtering: fit a unigram LM on the
    * corpus itself (token frequencies), then score each document by how
    * probable its tokens are under that model. Emits per document:
    * `n_tokens`, `c_sum` (Σ corpus-count of each token occurrence),
    * `n_rare` (occurrences of tokens seen ≤ `rareMax` times corpus-wide),
    * `mean_token_prob` = c_sum / (n_tokens · N), `rare_ratio`, and
    * `avg_logprob` = (Σ ln c(w) − n·ln N) / n — low avg_logprob or high
    * rare_ratio flags gibberish / OCR noise; *suspiciously high*
    * mean_token_prob flags boilerplate.
    *
    * Shape at 100 TB: one (doc_id, token) partial-aggregated shuffle for
    * per-doc term frequencies, one token-keyed shuffle for the vocabulary,
    * one tf⋈vocab equi-join (AQE skew-split handles hot tokens — the tf
    * table carries ≤ one row per (doc, token), never one per occurrence),
    * one doc-keyed fold. The corpus total N rides along as a broadcast
    * 1-row aggregate — no driver action in the plan.
    *
    * Determinism note: `avg_logprob` sums `ln` terms in partition order —
    * fine for filtering, but only the integer-exact columns and the pure
    * ratios (single IEEE division of exact longs) are oracle-hashable;
    * the oracle query projects those.
    */
  def unigramScores(docs: DataFrame, rareMax: Long = 2L): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("c"))
    val total = vocab.agg(sum(col("c")).as("n_corpus"))
    tf.join(vocab, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("c")).as("c_sum"),
        sum(when(col("c") <= rareMax, col("tf")).otherwise(lit(0L))).as("n_rare"),
        sum(col("tf").cast("double") * log(col("c").cast("double"))).as("sum_log_c"))
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("c_sum"),
        col("n_rare"),
        // divide twice in double rather than multiplying the Long factors:
        // n_tokens·n_corpus overflows 2^63 at real corpus scale (2e13
        // corpus tokens × a 5e5-token document)
        (col("c_sum").cast("double") / col("n_tokens").cast("double") /
          col("n_corpus").cast("double")).as("mean_token_prob"),
        (col("n_rare").cast("double") / col("n_tokens").cast("double")).as("rare_ratio"),
        ((col("sum_log_c") - col("n_tokens").cast("double") *
          log(col("n_corpus").cast("double"))) /
          col("n_tokens").cast("double")).as("avg_logprob"))
  }

  /** Bigram language-model scoring — the CCNet-style perplexity quality
    * signal (documents whose word transitions are improbable under a
    * corpus LM are boilerplate, gibberish, or mis-identified language;
    * CCNet buckets a crawl into head/middle/tail by exactly this score).
    * The LM is trained ON the corpus in the same pass: bigram counts
    * c2(w1,w2), left-context marginals c1(w1) = Σ_w c2(w1,w), right-vocab
    * size V, and add-one smoothing p(w2|w1) = (c2+1)/(c1+V) — every
    * quantity an exact integer, so the model itself replays bit-for-bit.
    *
    * Per document: n_pairs, the exact surrogates the oracle hashes
    * (sum_c2 = Σ tf·c2, min_c2 = the rarest transition, n_hapax =
    * transitions seen nowhere else, mean_pair_prob = integer-ratio mean)
    * and the float avg_logprob / ppl ride-alongs (Σ tf·(ln(c2+1) −
    * ln(c1+V)) / n, ppl = e^−avg) for actual threshold filtering.
    *
    * Shape: one (doc, w1, w2) partial-agg shuffle, a (w1, w2)-keyed corpus
    * count over it, a (w1)-keyed marginal over THAT (no second corpus
    * pass), two keyed equi-joins back, one doc_id aggregation; V and the
    * bigram total broadcast as a 1-row aggregate. No global windows, no
    * driver data paths — the same scale shape as [[unigramScores]].
    * `tf2` and `c2` are persisted while the result is computed: the plan
    * references them 3× each (join + downstream aggregates), and without
    * storage-backed sharing Spark re-tokenizes the corpus once per
    * reference (measured: 4 Generate nodes, zero ReusedExchange). The
    * per-doc result is materialized EAGERLY (localCheckpoint) so both
    * scratch caches can be released before returning — otherwise every
    * call pins corpus-sized storage for the app lifetime, and repeated
    * timed runs read the first run's cache instead of doing the work.
    */
  def bigramScores(docs: DataFrame): DataFrame = {
    val toksDf = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val tf2 = toksDf
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = tf2.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val consts = c2.agg(
      countDistinct(col("w2")).as("v_right"),
      sum(col("c2")).as("n_bigrams"))
    val out = Pins.pin(tf2
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(consts))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_pairs"),
        sum(col("tf") * col("c2")).as("sum_c2"),
        min(col("c2")).as("min_c2"),
        sum(when(col("c2") === 1, col("tf")).otherwise(lit(0L))).as("n_hapax"),
        // exact-int ratio, divided twice (overflow-safe, unigramScores rule)
        (sum(col("tf") * col("c2")).cast("double") / sum(col("tf")).cast("double") /
          max(col("n_bigrams")).cast("double")).as("mean_pair_prob"),
        (sum(col("tf").cast("double") *
          (log(col("c2").cast("double") + 1.0) -
            log(col("c1").cast("double") + col("v_right").cast("double")))) /
          sum(col("tf")).cast("double")).as("avg_logprob"))
      .withColumn("ppl", exp(-col("avg_logprob")))
    ) // eager pin: consume the caches, then release them
    tf2.unpersist(blocking = false)
    c2.unpersist(blocking = false)
    out
  }

  /** PMI collocations: the corpus's top adjacent-token pairs by pointwise
    * mutual information — the phrase-mining step (tokenizer vocab
    * candidates, stopword-phrase lists) over corpus-wide statistics.
    * PMI = ln(c(ab)·N / (c(a)·c(b))); pairs below `minCount` are noise
    * and dropped (the classic PMI low-frequency pathology). Ranking and
    * row selection use the score's ln-free argument as a truncated ratio
    * — ⌊c(ab)·N·10^6 / (c(a)·c(b))⌋ in IEEE doubles, so the selected rows
    * replay bit-for-bit on any engine (identical operations in identical
    * order), and the rank is exactly monotone in true PMI while
    * c(ab)·N·10^6 stays inside the double mantissa (2^53 ≈ 9·10^15 —
    * corpora to ~10^9 tokens at c(ab) ≤ 10^3 · 10^6 ppm); beyond that the
    * order still replays but may diverge from exact-rational PMI order in
    * the last ulp. The float pmi rides along.
    *
    * Shape: one explode for bigram counts, one for unigram counts (both
    * partially aggregated), two token-keyed broadcast-or-shuffle joins of
    * the pair table against the unigram table, a TakeOrdered top-k.
    */
  def collocations(docs: DataFrame, topK: Int = 20, minCount: Long = 5L): DataFrame = {
    val toksDf = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val pairs = toksDf
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
        struct(element_at(col("toks"), i).as("a"),
          element_at(col("toks"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val uni = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).as("n_corpus"))
    pairs
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(n))
      // integer rank surrogate: floor(c_ab·N·10^6 / (c_a·c_b)) — monotone
      // in the PMI argument, exact on both engines (c_ab·N·1e6 stays well
      // under 2^63 for any corpus this operator's minCount admits)
      .withColumn("ratio_ppm",
        floor(col("c_ab").cast("double") * col("n_corpus").cast("double") * 1e6 /
          (col("c_a").cast("double") * col("c_b").cast("double"))).cast("long"))
      .withColumn("pmi",
        log(col("c_ab").cast("double") * col("n_corpus").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double"))))
      .orderBy(col("ratio_ppm").desc, col("a"), col("b"))
      .limit(topK)
      .select("a", "b", "c_ab", "c_a", "c_b", "ratio_ppm", "pmi")
  }

  /** TF-IDF keyword extraction: the `topK` most characteristic tokens per
    * document. Rank is computed in EXACT integer arithmetic — (tf DESC,
    * df ASC, token ASC): highest in-document frequency first, corpus-rarer
    * token on ties — so the selected rows replay bit-for-bit on any
    * engine; the conventional float score tf·ln(N/df) rides along for
    * consumers (monotone in tf then 1/df, the same signal the rank orders
    * by lexicographically).
    *
    * Shape: per-doc term frequencies (one partial-aggregated shuffle),
    * document frequencies over the tf table (one token shuffle), a
    * token-keyed equi-join, then a doc_id-partitioned top-k window —
    * every stage keyed, nothing global, N broadcast as a 1-row aggregate.
    */
  def keywords(docs: DataFrame, topK: Int = 5): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(dfreq, Seq("token"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(nDocs))
      .select(
        col("doc_id"), col("rank").cast("long").as("rank"), col("token"),
        col("tf"), col("df"), col("n_docs"),
        (col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double"))).as("tfidf"))
  }

  /** BM25 top-k retrieval over the corpus for a literal term query — the
    * lexical-retrieval primitive a curation pipeline uses to pull
    * topic-relevant training documents (and, inverted, to decontaminate
    * by retrieval: rank the corpus against an eval query and audit the
    * head). Okapi weighting with k1 = 1.2, b = 0.75, with ONE deliberate
    * deviation: the idf factor is the raw Robertson–Sparck-Jones ratio
    * (2N − 2df + 1)/(2df + 1) rather than its logarithm. Dropping the log
    * keeps every quantity a ratio of integers, so the whole score is
    * computed in exact DECIMAL(38,0) arithmetic (the q_dsir div pattern)
    * and replays bit-for-bit cross-engine — no transcendental function
    * whose last-ulp behavior differs between libms ever touches a hashed
    * or ranked value. Monotonicity in (tf, df, dl) is unchanged, so
    * single-term rankings are identical to log-idf BM25; multi-term
    * rankings weight rare terms more sharply (documented contract).
    *
    * Per-term integer weight, all k1/b rationals cleared through ×10A:
    *   satur_ppm = ⌊10^6 · 22·A·tf / (10·A·tf + 3·A + 9·dl·N)⌋
    *   idf_ppm   = ⌊10^6 · (2N − 2df + 1) / (2df + 1)⌋
    *   w         = ⌊satur_ppm · idf_ppm / 10^6⌋            (BIGINT)
    * score = Σ_t w — an exact BIGINT sum, order-independent. Bounds: with
    * A ≤ 2·10^13 corpus tokens and tf ≤ 10^5 the widest intermediate
    * (10^6·22·A·tf ≈ 4.4·10^25) sits inside DECIMAL(38,0) with 12
    * digits of headroom, and
    * satur_ppm·idf_ppm ≤ 2.2·10^6 · 6.6·10^15 needs the DECIMAL cast it
    * gets before the final div.
    *
    * Scale shape: the tf table is built the way the stored postings are
    * ([[tokenRows]]): document length dl = size(tokens) rides every
    * posting row, attached before the explode, so scoring joins no
    * doclen table on doc_id. The explode filters to the query terms
    * BEFORE the shuffle, so only matching postings move; df broadcasts
    * as a |terms|-row table, and the corpus stats N/A fold from the
    * narrow (doc_id, dl) projection in one shuffle-free job and ride as
    * literals. Top-k is TakeOrdered (distributed heap, never a global
    * sort), ties broken by doc_id. The tf checkpoint is released before
    * returning; the ≤ k-row result is eagerly materialized first.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k > 0, "k must be positive")
    val st = Bm25Stats.of(docLengthsPlan(docs))
    // pinned: df derivation and scoring both read the tf table — without
    // the pin each reference re-tokenizes the corpus (the bigramScores
    // lesson: identical agg subtrees get zero ReusedExchange)
    val tf = Pins.pin(postingsOf(
      tokenRows(docs).filter(col("tok").isin(terms: _*)), positional = false))
    // eager pin: consume the tf checkpoint, then release it
    val out = Pins.pin(scoreTopK(tf, k, st))
    Pins.release(tf)
    out
  }

  /** The scoring tail [[bm25TopK]] and [[bm25TopKFromIndex]] share: Σ w
    * per document over a (doc_id, tok, tf, dl) postings table already
    * restricted to the query terms, against the corpus statistics `st`,
    * top-k by (score desc, doc_id).
    */
  private def scoreTopK(tf: DataFrame, k: Int, st: Bm25Stats): DataFrame = {
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .select(col("doc_id"), bm25Weight(st).as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Phrase-filtered BM25 — the positional-index extension every serving
    * stack adds to bag-of-words retrieval (exact-phrase operators in
    * Lucene/Elasticsearch; Manning et al. IR ch. 2's positional
    * postings): documents containing the EXACT consecutive phrase,
    * ranked by the BM25 score of the phrase's distinct terms (the
    * standard filter-by-phrase / score-by-terms decomposition), with the
    * occurrence count carried. Same integer-exact weighting as
    * [[bm25TopK]] — ranking and hash replay cross-engine; the phrase
    * test is pure integer position arithmetic (occurrences = positions p
    * of term 1 with p+i in term i+1's position set for every i).
    *
    * Scale shape: the postings table gains a sorted per-(doc, term)
    * position list — the positional-postings layout, O(tf) ints per
    * posting, built in the SAME one explode + one keyed aggregation as
    * the tf table (positions and dl ride the aggregation; no extra
    * shuffle, no doclen join).
    * The phrase check runs per candidate document (those containing ALL
    * distinct terms — a |terms|-way within-doc check, no join fan-out),
    * and the final top-k is a bounded sort over phrase-matching docs.
    */
  def phraseTopK(docs: DataFrame, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    require(k > 0, "k must be positive")
    val terms = phrase.distinct
    val st = Bm25Stats.of(docLengthsPlan(docs))
    // pinned: the df table, the phrase map, and the scorer all read the
    // positional postings — unpinned, each reference would re-tokenize
    val post = Pins.pin(postingsOf(
      tokenRows(docs).filter(col("tok").isin(terms: _*)), positional = true))
    val out = scorePhrase(post, phrase, k, st)
    Pins.release(post)
    out
  }

  /** The phrase-match + score tail [[phraseTopK]] and
    * [[phraseTopKFromIndex]] share, over a (doc_id, tok, tf, ps, dl)
    * positional-postings table already restricted to the phrase's
    * distinct terms, scored against the corpus statistics `st`. Inputs
    * arrive pinned; callers release after the returned frame's eager
    * pin.
    */
  private def scorePhrase(
      post: DataFrame, phrase: Seq[String], k: Int, st: Bm25Stats): DataFrame = {
    val terms = phrase.distinct
    val dfreq = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // per-doc term→positions map; docs missing any distinct term cannot match
    val pmap = post
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("tok"), col("ps")))).as("m"),
        count(lit(1)).as("n_present"))
      .filter(col("n_present") === terms.size)
    val phraseCount = size(filter(
      element_at(col("m"), phrase.head),
      p => phrase.zipWithIndex.tail
        .map { case (t, i) => array_contains(element_at(col("m"), lit(t)), p + i) }
        .reduce(_ && _))).cast("long")
    val hits = pmap
      .select(col("doc_id"), phraseCount.as("n_phrase"))
      .filter(col("n_phrase") >= 1L)
    val scored = post.select(col("doc_id"), col("tok"), col("tf"), col("dl"))
      .join(broadcast(dfreq), Seq("tok"))
      .select(col("doc_id"), bm25Weight(st).as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("score"))
    Pins.pin(hits
      .join(scored, Seq("doc_id"))
      .select(col("doc_id"), col("n_phrase"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    ) // eager pin: the caller releases its input pins
  }

  /** [[phraseTopK]] served from a stored positional index — identical
    * phrase occurrences and ranking by construction (same positions,
    * same integer weights); the phrase's term buckets prune the store
    * scan exactly like [[bm25TopKFromIndex]]'s, and nothing
    * re-tokenizes.
    */
  def phraseTopKFromIndex(
      postingsPos: DataFrame, doclen: DataFrame, phrase: Seq[String], k: Int,
      stats: Option[Bm25Stats] = None): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    require(k > 0, "k must be positive")
    val terms = phrase.distinct
    val st = stats.getOrElse(Bm25Stats.of(doclen))
    val post = Pins.pin(probedPostings(postingsPos, terms, "ps"))
    val out = scorePhrase(post, phrase, k, st)
    Pins.release(post)
    out
  }

  /** Per-source n-gram diversity (type/token ratio): distinct n-grams /
    * total n-grams, the mixture-planning readout that flags templated or
    * SEO-spam sources (low diversity → boilerplate factory, prime
    * dedup/downweight candidate) and complements the per-doc repetition
    * scores with a corpus-level view. The ratio is emitted as an exact
    * integer ppm (DECIMAL(38,0) floor division — 10^6·distinct can pass
    * 2^63 at corpus scale), so the readout replays cross-engine.
    *
    * Scale shape: one tokenize projection (toks materialized BEFORE the
    * n-gram transform so the lambda's n references don't re-tokenize per
    * element), one explode, one per-source aggregation whose
    * count-distinct Spark rewrites into a (source, gram)-keyed partial
    * dedup — never a driver-side set. Sources whose every document has
    * fewer than n tokens have no grams and are absent (documented).
    */
  def ngramDiversity(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1 && n <= 3, "n in [1,3]")
    val d38 = "decimal(38,0)"
    val base = docs.select(col("source"), tokens(col("text")).as("toks"))
    val grams =
      if (n == 1) col("toks")
      else
        // sequence(a, b) generates a DESCENDING range when a > b, so an
        // unguarded size(toks) - (n-1) bound would fabricate grams for
        // docs shorter than n tokens — hence the when() guard
        when(size(col("toks")) >= n,
          transform(sequence(lit(1), size(col("toks")) - (n - 1)), i =>
            concat_ws(" ",
              (0 until n).map(j => element_at(col("toks"), i + j)): _*)))
          .otherwise(array().cast("array<string>"))
    base.select(col("source"), explode(grams).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"), countDistinct(col("g")).as("n_distinct"))
      .withColumn("ttr_ppm", call_function("div",
        lit(1000000L).cast(d38) * col("n_distinct").cast(d38),
        col("n_grams").cast(d38)))
  }

  /** Forward skip-gram co-occurrence counts — the training-pair
    * statistic embedding models consume (word2vec's context windows,
    * Mikolov et al. 2013, arXiv:1301.3781) and the window generalization
    * of adjacent-only [[collocations]]: every ordered pair (w1, w2) with
    * w1 preceding w2 within `window` tokens, counted over the corpus,
    * gated at `minCount` (the standard vocabulary floor that also bounds
    * the output: ≤ vocab² rows before the gate, far fewer after).
    * Symmetric-window consumers read the forward table from both sides
    * (count(w2 after w1) at distance d IS count(w1 before w2) at d).
    *
    * Scale shape: the pair fan-out happens per row as array HOFs over
    * the materialized token array (zero shuffle, ≤ window·|tokens| pairs
    * per doc); the only shuffle is the (w1, w2)-keyed count, map-side
    * combinable into the vocab²-bounded table.
    */
  def skipgramCounts(
      docs: DataFrame, window: Int = 3, minCount: Long = 1L): DataFrame = {
    require(window >= 1, "window must be at least 1")
    require(minCount >= 1, "minCount must be at least 1")
    docs
      .select(tokens(col("text")).as("toks"))
      .select(explode(flatten(transform(col("toks"), (t, i) =>
        transform(slice(col("toks"), i + 2, lit(window)),
          u => struct(t.as("w1"), u.as("w2")))))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Deterministic negative sampling for contrastive / word2vec-style
    * training pairs: each positive skip-gram pair draws `nNeg` negatives
    * from the corpus UNIGRAM distribution by inverse-CDF lookup — the
    * token whose cumulative-mass interval contains the hash position
    *
    *   pos_i = h60(salt|w1|w2|i) mod total_mass
    *
    * Deterministic where `rand()` is not (a re-run, a retried task, or
    * the DuckDB oracle draws the SAME negatives), yet distributed
    * unigram-proportional: a token's chance of selection is exactly
    * n(token)/total_mass per draw. Collisions with w1/w2 (or a true
    * context word) are kept — the standard word2vec treatment; re-roll
    * policies belong to the caller. Plain unigram mass; a tempered
    * (n^0.75) variant would need integer-exact tempering and is
    * deliberately out of scope.
    *
    * Scale shape: the cumulative-mass intervals come from ONE
    * [[Diagnostics.rankAndCumSum]] kernel pass over the vocab-sized
    * count table; the lookup is [[RangeJoin.byBucket]]'s bucketized
    * range join (each draw lands in exactly one interval — the intervals
    * partition [0, total) — so the join is equi-bucket + containment
    * filter, never a nested loop). total_mass is a bounded 1-row
    * collect (bucket-width choice only).
    */
  def negativeSamples(
      docs: DataFrame, window: Int = 2, minCount: Long = 1L,
      nNeg: Int = 2, salt: String = "neg"): DataFrame = {
    require(nNeg >= 1, "nNeg must be at least 1")
    val counts = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val iv = Diagnostics.rankAndCumSum(
      counts, Seq(col("n").desc, col("tok").asc), col("n"), "rk", "cum")
      .select(col("tok").as("neg"),
        (col("cum") - col("n")).as("lo"), col("cum").as("hi"))
    val total = iv.agg(coalesce(max(col("hi")), lit(0L)).as("tm"))
      .collect()(0).getLong(0) // 1-row bounded collect: bucket sizing
    val draws = skipgramCounts(docs, window, minCount)
      .select(col("w1"), col("w2"))
      .withColumn("i", explode(sequence(lit(0L), lit(nNeg - 1L))))
      .withColumn("pos",
        pmod(h60(concat_ws("|", lit(salt), col("w1"), col("w2"),
          col("i").cast("string"))), lit(total)))
    RangeJoin.byBucket(draws, "pos", iv, "lo", "hi",
      bucketWidth = math.max(1L, total / 256L))
      .select(col("w1"), col("w2"), col("i"), col("neg"), col("pos"))
  }

  /** Per-source top-k signature bigrams — the template/boilerplate
    * readout per FEED: a source whose head phrases dominate its token
    * mass is a generated/SEO feed, and the phrases themselves tell a
    * curator what the template is. One per-row bigram fan-out (zero
    * shuffle) into a (source, gram)-keyed count, then the per-source
    * head via the salted two-stage top-k — never a bare
    * `Window.partitionBy(source)` (a hot source would pull its whole
    * gram table through one task; the house skew rule).
    */
  def sourcePhrases(docs: DataFrame, k: Int = 5, salts: Int = 8): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val grams = docs
      .select(col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ",
          element_at(col("toks"), i), element_at(col("toks"), i + 1)))).as("gram"))
      .groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("n"))
    Diagnostics.saltedTopKPerKey(
      grams.select(col("source"), col("n"), col("gram")),
      col("source"), col("n"), col("gram"), k, salts)
      .select(col("key").as("source"), col("rank").as("rnk"),
        col("tiebreak").as("gram"), col("value").as("n"))
  }

  /** Per-source out-of-vocabulary rate against the corpus's own top-N
    * token vocabulary — the tokenizer-coverage readout ([[fertility]]'s
    * complement): a source whose token mass falls outside the shared
    * vocabulary either needs tokenizer retraining or is noise. The
    * vocabulary boundary is deterministic (count DESC, token ASC, top
    * `vocabSize`), rates are exact integer ppm, so keep decisions
    * replay cross-engine.
    *
    * Scale shape: one (source, token) count (map-side combinable,
    * vocab×sources-bounded), the vocab head via sort-limit (a
    * `TakeOrderedAndProject`, vocabSize rows to the driver-side limit),
    * one equi-join of the tf table against the vocabSize-row list (AQE
    * broadcasts it), one source-keyed sum. The tf table is pinned: the
    * vocab derivation and the join both read it.
    */
  def oovRate(docs: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be at least 1")
    val d38 = "decimal(38,0)"
    val tf = Pins.pin(docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n")))
    val vocab = tf.groupBy(col("token")).agg(sum(col("n")).as("tot"))
      .orderBy(col("tot").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1L).as("in_vocab"))
    val out = Pins.pin(tf
      .join(vocab, Seq("token"), "left")
      .groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(lit(0L)))
          .as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        call_function("div", lit(1000000L).cast(d38) * col("n_oov").cast(d38),
          col("n_tokens").cast(d38)).as("oov_ppm"))
    ) // eager pin of the |sources|-row readout, then release the tf pin
    Pins.release(tf)
    out
  }

  /** PPMI collocation mining over the forward skip-gram counts: the
    * top-k (w1, w2) pairs whose co-occurrence beats independence,
    * scored by the RATIO n(w1,w2)·T / (n(w1,·)·n(·,w2)) in parts-per-
    * million — PPMI = ln(ratio), and ln is monotone, so ranking by the
    * exact integer ratio IS the PPMI ranking without a transcendental
    * that could reorder near-ties cross-engine (the BM25 rational-idf
    * rule). Marginals are the skip-gram table's own row/column sums
    * (standard PPMI normalization), so the operator is self-contained
    * on [[skipgramCounts]] output. `ratio_ppm > 1e6` ⇔ PPMI > 0.
    *
    * Scale shape: the pair table is vocab²-bounded (already map-side
    * combined); marginals are two keyed aggs of it; the total is a 1-row
    * aggregate crossJoined broadcast (the scalar-build BNLJ the audit
    * admits structurally). Products run in DECIMAL(38,0) (n·T·1e6
    * overflows BIGINT at corpus scale) with `div`, result cast BIGINT.
    * The pair table is pinned: three aggregations and the final join all
    * read it, and a self-referenced derived table gets zero
    * ReusedExchange.
    */
  def ppmiPairs(
      docs: DataFrame,
      window: Int = 3,
      minCount: Long = 2L,
      topK: Int = 50): DataFrame = {
    require(topK >= 1, "topK must be at least 1")
    val d38 = "decimal(38,0)"
    val pairs = Pins.pin(skipgramCounts(docs, window, minCount))
    val left = pairs.groupBy(col("w1")).agg(sum(col("n")).as("m1"))
    val right = pairs.groupBy(col("w2")).agg(sum(col("n")).as("m2"))
    val tot = pairs.agg(sum(col("n")).as("t"))
    val out = Pins.pin(pairs
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("ratio_ppm",
        call_function("div",
          col("n").cast(d38) * col("t").cast(d38) * lit(1000000L).cast(d38),
          col("m1").cast(d38) * col("m2").cast(d38)).cast("long"))
      .filter(col("ratio_ppm") > 1000000L)
      .select(col("w1"), col("w2"), col("n"), col("m1"), col("m2"),
        col("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
    ) // eager pin: consume the pair-table checkpoint, then release it
    Pins.release(pairs)
    out
  }

  /** The unpinned (doc_id, dl) projection — the doclen rows the store
    * writers persist and the one narrow fold every corpus statistic
    * comes from ([[Bm25Stats.of]]). The store's stats row folds either
    * from the just-written doclen file (save/delete — correct by
    * construction) or from a recompute of this narrow plan (append —
    * the accreted doclen dir can't isolate the new batch), and the
    * corpus forms fold it once per call; nothing reads the frame twice,
    * so a pin's localCheckpoint job would buy nothing (the r17
    * pin-vs-recompute lesson: measure before pinning a cheap
    * single-pass recompute).
    */
  private def docLengthsPlan(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), tokens(col("text")).as("toks"))
    .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))

  /** One row per token occurrence, (doc_id, dl, pos, tok), with the
    * document length dl = size(toks) attached BEFORE the explode — the
    * row shape every BM25 postings table aggregates from, stored
    * ([[bucketedPostingsOnePass]]) or per call (the corpus forms), so
    * no build and no serve joins a doclen table back on doc_id.
    * `tokens(text)` materializes in its own projection (the shingleSets
    * HOF rule): `size` and the generator both reference it, and
    * inlining would tokenize twice per row.
    */
  private def tokenRows(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), tokens(col("text")).as("toks"))
    .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
      posexplode(col("toks")).as(Seq("pos", "tok")))

  /** [[tokenRows]] aggregated to the one postings row shape,
    * (doc_id, tok, `keys`, tf[, sorted ps], dl), grouped by doc_id, tok
    * and the caller's extra `keys`.
    */
  private def postingsOf(rows: DataFrame, positional: Boolean, keys: Column*): DataFrame =
    rows.groupBy(Seq(col("doc_id"), col("tok")) ++ keys: _*).agg(count(lit(1)).as("tf"),
      (if (positional) Seq(sort_array(collect_list(col("pos"))).as("ps")) else Nil) :+
        max(col("dl")).as("dl"): _*)

  // ------------------------------------------------- BM25 index lifecycle

  // The persistent lexical-retrieval index: (doc_id, tok, tf[, ps], dl)
  // postings plus the (doc_id, dl) length table — together the COMPLETE
  // state the BM25 scorer needs (df = postings per tok, N/A from dl), and
  // the simplest possible mergeable state: disjoint document batches
  // merge by plain UNION, since each document's postings and length live
  // in exactly one batch. The lexical twin of [[Similarity.saveIvfIndex]]:
  // build once, persist, and every later query job serves from the
  // stored tables without re-tokenizing the corpus — the latency story
  // changes from corpus-scan to postings-lookup. The dl table keeps
  // zero-token documents (they count toward N and the average), so
  // serving is EXACTLY [[bm25TopK]] on the original corpus.

  /** Postings-store bucket count: `tok_bucket = h60(tok) % Bm25Buckets`
    * is the store's PARTITION column, fixed so a serve derives a term's
    * partition from the term alone (h60Jvm ≡ h60, property-tested) with
    * no store metadata. 64 keeps test-scale file counts sane while a
    * 5-term query still prunes to ≤ 5/64 of a 100-TB store's
    * directories; within each file rows are tok-sorted, so the residual
    * `tok IN` predicate also skips row groups off parquet min/max stats
    * (an unclustered postings write defeats that pushdown — doc-ordered
    * row groups all span the token alphabet).
    */
  val Bm25Buckets = 64

  /** ONE-shuffle build of the dl-denormalized, bucket-laid-out postings
    * the save/append paths write — replaces the previous three-exchange
    * chain `build → join(doclen) → repartition(tok_bucket, tok)`
    * (groupBy(doc_id, tok) shuffle + doc_id join shuffle +
    * (tok_bucket, tok) write shuffle):
    *
    *   - `dl` is attached INLINE before the explode ([[tokenRows]]: the
    *     value docLengthsPlan computes), so the corpus-sized doc_id join
    *     disappears — the build-time denormalization the Lucene-norms
    *     layout pays is now a projection, not an exchange;
    *   - the explode repartitions by `tok` FIRST; `tok ⊂ {doc_id, tok}`
    *     satisfies the aggregation's clustering, so the groupBy reuses
    *     that one exchange — and the write needs no further shuffle
    *     because every tok (hence every row of a tok_bucket file) is
    *     already colocated, exactly the repartition(tok_bucket, tok)
    *     placement: one tok lives in one file, as before.
    *
    * Layout contract unchanged: rows sort by (tok_bucket, tok) within
    * each task — the explicit tok_bucket prefix means the partitioned
    * writer's required ordering is already satisfied and it inserts no
    * sort of its own (the previous form relied on the writer's
    * partition-column sort being stable above a tok-only sort); files
    * stay tok-sorted for row-group min/max pruning.
    *
    * Hot-token skew valve (guide §2.5): a tok-only placement sends a
    * stopword-class token's ENTIRE postings through one task at corpus
    * scale. The exchange therefore keys on (tok, salt) where
    * `salt = pmod(xxhash64(doc_id), S)` — deterministic (task retries
    * reproduce it; never rand-derived) and doc-complete (every
    * (doc_id, tok) occurrence group still meets in exactly one task, so
    * tf/positions aggregate unchanged). The salt column joins the
    * grouping keys ({tok, salt} ⊂ {doc_id, tok, salt} keeps the single
    * reused exchange) and drops after the aggregation: output ROWS are
    * identical to the unsalted build (spec-proven on a forced-hot-token
    * fixture); a hot token's rows now land in ≤ S files per bucket
    * instead of 1, which no reader observes — serve-side df/tf and
    * phrase positions are row-set functions, and within-file tok order
    * still serves row-group pruning. S defaults to 16 and scales via
    * `graft.bm25.build.salt` (at 100 TB raise it toward the cluster's
    * task count / expected max postings per task; it costs nothing when
    * tokens are cold — same exchange, same bytes, same file count).
    */
  private[operators] def bucketedPostingsOnePass(
      docs: DataFrame, positional: Boolean): DataFrame = {
    val salt = docs.sparkSession.conf
      .getOption("graft.bm25.build.salt").map(_.toInt).getOrElse(16)
    require(salt >= 1, "graft.bm25.build.salt must be >= 1")
    val ex = tokenRows(docs)
      .withColumn("slt", pmod(xxhash64(col("doc_id")), lit(salt.toLong)))
      .repartition(col("tok"), col("slt"))
    postingsOf(ex, positional, col("slt"))
      .drop("slt")
      .withColumn("tok_bucket", pmod(h60(col("tok")), lit(Bm25Buckets.toLong)))
      .sortWithinPartitions(col("tok_bucket"), col("tok"))
  }

  /** The on-disk layout of one of the two BM25 postings kinds — what the
    * one private body of each lifecycle operation is keyed by. Both
    * kinds share a store dir's `doclen` and `stats` tables; each keeps
    * its own postings dir and stamps its own meta next to it
    * (`<postings>_meta`, the `assigned_meta` / `codes_meta` naming), so
    * a plain and a positional store can share one version dir.
    * `rebuild` is the save function a refusal names, `store` the
    * deletion audit's store label.
    */
  private final case class PostingsLayout(
      postings: String, positional: Boolean, rebuild: String, store: String) {
    def what: String = if (positional) "positional BM25 store" else "BM25 store"

    /** Refuse a store whose meta is missing, empty or of another format
      * version — read FIRST by every load, append and delete.
      */
    def requireMeta(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
      StoreMeta.read(spark, s"$dir/${postings}_meta", what, rebuild)

    /** Stamp a store version ([[graft.store.StoreMeta]]: no quantizer, so
      * `qfp` = 0, and no cell, so `cell_bits` = −1). Written LAST, once
      * every table is in place: a crash before it leaves a version that
      * refuses with the rebuild hint, never one that serves a partial
      * write.
      */
    def stamp(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
      StoreMeta.write(spark, s"$dir/${postings}_meta", qfp = 0L, cellBits = -1)

    /** The postings column set, FIXED by [[bucketedPostingsOnePass]], as
      * an explicit read schema — a load never pays the
      * per-invocation schema-inference footer job (the catalog-supplied-
      * schema analogue, same rationale as the Tables cache). The stamped
      * meta is what vouches for the layout: a store without a current
      * meta refuses before this schema is ever applied, and the
      * round-trip specs pin supplied == inferred.
      */
    val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, tok STRING, tf BIGINT" +
          (if (positional) ", ps ARRAY<INT>" else "") +
          ", dl BIGINT, tok_bucket INT")
  }

  private val TermPostings = PostingsLayout(
    "postings", positional = false, rebuild = "saveBm25Index", store = "bm25")
  private val PhrasePostings = PostingsLayout(
    "postings_pos", positional = true, rebuild = "saveBm25Positional", store = "bm25_pos")

  private val doclenSchema =
    org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, dl BIGINT")

  /** Persist a corpus's BM25 index as `<dir>/postings` + `<dir>/doclen` +
    * `<dir>/stats` parquet (BIGINT/VARCHAR only — trivially
    * engine-portable) plus the `<dir>/postings_meta` stamp: postings
    * PARTITIONED BY `tok_bucket` with tok-sorted files (the
    * [[Bm25Buckets]] pruning layout) and — the Lucene norms trick — each
    * posting row DENORMALIZED with its document's `dl`, so the serve
    * never joins the corpus-sized doclen table per query; `stats` is the
    * 1-row (n_docs, a_tokens) corpus sidecar, mergeable at append
    * (counts add) and rewritten at delete, so the serve reads corpus
    * statistics from one row instead of re-aggregating doclen per
    * request. doclen itself persists unpartitioned — it is the
    * deletion/stats source of truth (zero-token documents live only
    * there) — but a stats-equipped serve never scans it. At scale the
    * postings table is the corpus-sized artifact; writing it once per
    * corpus version is the standard inverted-index trade.
    */
  def saveBm25Index(
      spark: org.apache.spark.sql.SparkSession, dir: String, docs: DataFrame): Unit =
    saveStore(spark, dir, docs, TermPostings)

  /** Persist a corpus's FULL positional postings (doc_id, tok, tf,
    * sorted ps, dl) — the Lucene-layout store that makes
    * [[phraseTopKFromIndex]] possible: positions ride the same
    * one-explode one-aggregation build (O(tf) ints per posting), paid
    * once per corpus version instead of per phrase query — as
    * `<dir>/postings_pos` in the same tok-bucketed, dl-denormalized
    * layout as [[saveBm25Index]] (plus the shared `<dir>/doclen` and
    * `<dir>/stats`, and the `<dir>/postings_pos_meta` stamp), so phrase
    * serves prune exactly like term serves.
    */
  def saveBm25Positional(
      spark: org.apache.spark.sql.SparkSession, dir: String, docs: DataFrame): Unit =
    saveStore(spark, dir, docs, PhrasePostings)

  private def saveStore(
      spark: org.apache.spark.sql.SparkSession, dir: String, docs: DataFrame,
      l: PostingsLayout): Unit = {
    // one-shuffle postings build (dl denormalized inline, no doc_id join,
    // no separate write repartition) — see bucketedPostingsOnePass
    writeTables(spark, dir, l, bucketedPostingsOnePass(docs, l.positional),
      docLengthsPlan(docs), accrete = false)
    l.stamp(spark, dir)
  }

  /** Write one lifecycle step's postings and doclen rows under `l`, with
    * the stats sidecar row they imply — overwriting a new store version,
    * or accreting onto an existing one (`accrete`). The postings write
    * and the doclen → stats chain are independent (each reads its own
    * pass), so they overlap (guide §2.6): the doclen/stats jobs back-fill
    * the postings write's task tail. An overwrite folds the stats row
    * from the just-written doclen file (narrow read, correct by
    * construction); an accretion can't isolate its batch in the accreted
    * doclen dir, so it folds a RECOMPUTE of the batch's narrow dl plan —
    * equal to the rows just written only when the batch is deterministic
    * (tokenize is; the caller's batch frame must be too).
    */
  private def writeTables(
      spark: org.apache.spark.sql.SparkSession, dir: String, l: PostingsLayout,
      postings: DataFrame, dl: DataFrame, accrete: Boolean): Unit = {
    val mode = if (accrete) "append" else "overwrite"
    Par.run(
      () => postings.write.mode(mode).partitionBy("tok_bucket")
        .parquet(s"$dir/${l.postings}"),
      () => {
        dl.write.mode(mode).parquet(s"$dir/doclen")
        val (nDocs, aTokens) = corpusStatsPair(
          if (accrete) dl else spark.read.schema(doclenSchema).parquet(s"$dir/doclen"))
        writeStatsRow(spark, s"$dir/stats", nDocs, aTokens, accrete)
      })
  }

  /** Reload a [[saveBm25Index]] store: (postings, doclen), after checking
    * its stamp.
    */
  def loadBm25Index(
      spark: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) =
    loadStore(spark, dir, TermPostings)

  /** Reload a [[saveBm25Positional]] store: (postings_pos, doclen), after
    * checking its stamp.
    */
  def loadBm25Positional(
      spark: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) =
    loadStore(spark, dir, PhrasePostings)

  private def loadStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      l: PostingsLayout): (DataFrame, DataFrame) = {
    l.requireMeta(spark, dir)
    (spark.read.schema(l.schema).parquet(s"$dir/${l.postings}"),
      spark.read.schema(doclenSchema).parquet(s"$dir/doclen"))
  }

  /** The 1-row (n_docs, a_tokens) corpus-statistics frame the BM25
    * weight needs — over a doclen table, so zero-token documents count
    * toward N and the average exactly as in the corpus form.
    */
  private def corpusStats(dl: DataFrame): DataFrame =
    dl.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("a_tokens"))

  /** [[corpusStats]] folded per partition and finished on the driver —
    * one shuffle-free job instead of the partial-agg → Exchange →
    * final-agg chain (two scheduler jobs under AQE) every save, append,
    * and delete previously paid per stats row. BIGINT count/sum is
    * exact and order-free, so the fold ≡ the agg on any partitioning;
    * null dl is skipped exactly as SUM skips it (count still counts the
    * row, as `count(lit(1))` does).
    */
  private def corpusStatsPair(dl: DataFrame): (Long, Long) = {
    val parts = dl.select(col("dl")).queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      while (it.hasNext) {
        val r = it.next()
        n += 1L
        if (!r.isNullAt(0)) s += r.getLong(0)
      }
      Iterator.single((n, s))
    }.collect()
    parts.foldLeft((0L, 0L)) { case ((n, s), (pn, ps)) => (n + pn, s + ps) }
  }

  /** A BM25 corpus's statistics — document count N and token total A —
    * as a value: [[loadBm25Stats]] sums a store's sidecar into one, and
    * every serve attaches the two numbers to its weight expression as
    * literals.
    */
  final case class Bm25Stats(nDocs: Long, aTokens: Long)

  object Bm25Stats {
    /** The statistics folded from a (doc_id, dl) doclen table in one
      * shuffle-free job ([[corpusStatsPair]]) — the fallback for a store
      * without a sidecar.
      */
    def of(doclen: DataFrame): Bm25Stats = {
      val (nDocs, aTokens) = corpusStatsPair(doclen)
      Bm25Stats(nDocs, aTokens)
    }
  }

  /** The per-batch (n_docs, a_tokens) sidecar row, written ON THE DRIVER
    * ([[graft.store.TinyParquet]]): the values are two longs already in
    * hand, so the `coalesce(1)` 1-row write job (plus its AQE ceremony)
    * disappears from every lifecycle chain. Same plain-parquet layout as
    * the Spark-written rows — old and new sidecar generations mix freely
    * under [[loadBm25Stats]]' commutative sum.
    */
  private val bm25StatsSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType(
      "message graft_bm25_stats { required int64 n_docs; required int64 a_tokens; }")

  private def writeStatsRow(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      nDocs: Long, aTokens: Long, accrete: Boolean): Unit = {
    def rows(f: org.apache.parquet.example.data.simple.SimpleGroupFactory) =
      Seq(f.newGroup().append("n_docs", nDocs).append("a_tokens", aTokens))
    if (accrete) graft.store.TinyParquet.appendGroups(
      spark, dir, bm25StatsSchema, rows)
    else graft.store.TinyParquet.writeGroups(spark, dir, bm25StatsSchema, rows)
  }

  /** The stored corpus-stats sidecar of a [[saveBm25Index]]/
    * [[saveBm25Positional]] store, or None for a store written before
    * the sidecar existed (serves then fold doclen instead, once per
    * call or — in [[RetrievalService]] — once per served collection).
    *
    * The sidecar is an APPEND-ONLY table of per-batch (n_docs, a_tokens)
    * rows — the house mergeable-state shape: the one-shot build writes
    * one row, every [[appendBm25Index]] appends one more, and this load
    * SUMS them into the one [[Bm25Stats]] value the serves attach to
    * their weight expression as literals. Accretion therefore never
    * overwrites a file a live listener may be reading (the
    * never-overwrite-what-is-being-read rule — append-only, like the
    * postings and doclen halves).
    *
    * Torn-sidecar guard: a stats directory that exists but sums to
    * n_docs = 0 (a crash before the first row committed, or an empty
    * corpus) returns None — the serve then falls back to folding doclen
    * instead of silently scoring with zeroed corpus statistics
    * (bm25Weight's denominator would null every score). The sidecar is
    * metadata-sized and summed on the driver at load time; no serve
    * scans or joins it.
    */
  def loadBm25Stats(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[Bm25Stats] = {
    val rows = statsRows(spark, dir)
    val nDocs = rows.map(_._1).sum
    if (nDocs == 0L) None else Some(Bm25Stats(nDocs, rows.map(_._2).sum))
  }

  /** The sidecar's committed per-batch (n_docs, a_tokens) rows, none
    * when the store has no stats dir. One BIGINT pair per append batch,
    * so it is read ON THE DRIVER (TinyParquet), never by a Spark job;
    * values still come from the store files per invocation.
    */
  private def statsRows(
      spark: org.apache.spark.sql.SparkSession, dir: String): Seq[(Long, Long)] =
    if (!exists(spark, s"$dir/stats")) Nil
    else graft.store.TinyParquet.readGroups(spark, s"$dir/stats").map(g =>
      (graft.store.TinyParquet.long(g, "n_docs"), graft.store.TinyParquet.long(g, "a_tokens")))

  private def exists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Full consistency check over all three tables of a
    * [[saveBm25Index]]/[[saveBm25Positional]] store — the recovery
    * check for an [[appendBm25Index]]/[[appendBm25Positional]] that
    * crashed mid-batch. The append writes postings → doclen → stats, so
    * a crash leaves one of TWO torn states, and both must be caught:
    *
    *   - stats behind doclen (died before the stats row): caught by
    *     recomputing [[corpusStats]] from doclen and comparing the
    *     summed sidecar against it;
    *   - postings ahead of doclen (died between the postings and doclen
    *     writes): sidecar ↔ doclen still agree — consistently stale —
    *     so the check additionally reconciles the postings store
    *     against doclen: every document with ≥ 1 token has postings, so
    *     postings' distinct doc count must equal doclen's dl > 0 count,
    *     and Σ tf over all postings must equal doclen's Σ dl (phantom
    *     batch-N postings fail both).
    *
    * Run it after recovering an interrupted ingest; false means rebuild
    * from the corpus (or roll the store back to the last good version).
    * Works on both the tf store (`postings`) and the positional store
    * (`postings_pos`). Cost: one aggregation over each of the three
    * tables — the postings count-distinct is the corpus-sized one, paid
    * at maintenance time, never per-query.
    */
  def verifyBm25Stats(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    import spark.implicits._
    val postPath = Seq(TermPostings, PhrasePostings)
      .map(l => s"$dir/${l.postings}").find(exists(spark, _))
    (loadBm25Stats(spark, dir), postPath) match {
      case (Some(st), Some(pp)) =>
        val sidecar = (st.nDocs, st.aTokens)
        val dl = spark.read.parquet(s"$dir/doclen")
        val fromDl = corpusStats(dl)
          .select(col("n_docs"), col("a_tokens")).as[(Long, Long)].head()
        val fromPostings = spark.read.parquet(pp).agg(
            count_distinct(col("doc_id")).as("n_docs_tok"),
            coalesce(sum(col("tf")), lit(0L)).as("sum_tf"))
          .as[(Long, Long)].head()
        val tokDocs = dl.filter(col("dl") > 0L)
          .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
          .as[(Long, Long)].head()
        sidecar == fromDl && fromPostings == tokDocs
      case _ => false
    }
  }

  /** Per-micro-batch maintenance of a [[saveBm25Index]] store — the
    * streaming twin of the one-shot build, in the house foreachBatch
    * shape (boilerplate-df / corpus-card / HLL maintenance): each batch's
    * postings and doc-length rows APPEND to the stored parquet tables,
    * and one (n_docs, a_tokens) row appends to the stats sidecar
    * ([[loadBm25Stats]] sums them — mergeable state, no file a live
    * reader holds is ever overwritten). Because every document lives in
    * exactly one batch, each (doc_id, tok) posting and (doc_id, dl) row
    * exists exactly once across appends — the accreted files ARE the
    * union-merged state, no compaction read-modify-write — so serving
    * [[bm25TopKFromIndex]] from the store is identical to one-shot
    * indexing of every document seen (StreamingOpsSpec asserts the
    * equality per batch). The first append into an empty dir creates
    * the store and stamps its meta; every later one checks the stamp and
    * the stats sidecar before any write lands.
    *
    * Contract: batches are DISJOINT document sets (the append-only-crawl
    * shape, same contract the TextOpsSpec union-merge case proves) AND
    * DETERMINISTIC frames — the stats row is refolded from a recompute of
    * the batch plan, so a batch whose rows change between evaluations
    * (an upstream sample, limit, or shuffle-order-dependent pick) writes
    * a sidecar that disagrees with its doclen rows, which
    * [[verifyBm25Stats]] later flags. A REPLAYED batch would double-count
    * its documents' tf and dl — run under foreachBatch with batch-id
    * idempotence (write each batch to a `v<id>` path and skip existing,
    * as the maintenance specs do) or dedup redeliveries upstream for
    * at-least-once sources.
    */
  def appendBm25Index(
      spark: org.apache.spark.sql.SparkSession, dir: String, batch: DataFrame): Unit =
    appendStore(spark, dir, batch, TermPostings)

  /** [[appendBm25Index]] for the POSITIONAL phrase store — the accretion
    * path that lets a crawl keep the phrase index current per
    * micro-batch instead of rebuilding it per corpus version. Positions
    * are per-document state, so disjoint batches' positional postings
    * union-merge exactly like the plain tf postings (each (doc_id, tok)
    * row with its sorted in-document positions exists once across
    * appends); the same disjoint, deterministic-batch and
    * batch-id-idempotence contract applies. Serving
    * [[phraseTopKFromIndex]] from the accreted store ≡ one-shot
    * [[saveBm25Positional]] of every document seen (spec-proven).
    */
  def appendBm25Positional(
      spark: org.apache.spark.sql.SparkSession, dir: String, batch: DataFrame): Unit =
    appendStore(spark, dir, batch, PhrasePostings)

  private def appendStore(
      spark: org.apache.spark.sql.SparkSession, dir: String, batch: DataFrame,
      l: PostingsLayout): Unit = {
    val fresh = !exists(spark, s"$dir/${l.postings}")
    if (!fresh) {
      // both checks fire BEFORE any write, so a refused append leaves the
      // store untouched
      l.requireMeta(spark, dir)
      require(statsRows(spark, dir).nonEmpty,
        s"${l.what} at $dir has postings but no stats sidecar — rebuild " +
          s"it with ${l.rebuild} before appending")
    }
    // Crash analysis: whichever of the overlapped writes land, every torn
    // combination leaves some PAIR of the three tables inconsistent —
    // stats behind/ahead of doclen fails the sidecar ↔ doclen
    // reconciliation, and postings behind/ahead of doclen fails the
    // postings ↔ doclen one — so [[verifyBm25Stats]] catches every crash
    // state, exactly as it did under the strictly ordered write chain.
    writeTables(spark, dir, l, bucketedPostingsOnePass(batch, l.positional),
      docLengthsPlan(batch), accrete = true)
    if (fresh) l.stamp(spark, dir)
  }

  /** Data-subject deletion THROUGH the postings store — the composition
    * of [[graft.streaming.Maintenance.deleteWhere]] with the inverted
    * index: documents matching `pred` (a predicate over `doc_id`) are
    * removed from BOTH halves of the store, survivors rewrite as a new
    * store version at `outDir` (version-swap — a 100 TB rewrite never
    * overwrites the files it is reading; the old version stays serveable
    * until the swap), and the returned one-row tombstone audit carries
    * n_deleted / n_kept / the Σ (h60(doc_id) mod 1000003) erasure
    * fingerprint over the DELETED doc ids (doc-level — the data-subject
    * unit; their postings rows go with them).
    *
    * Deletion COMPOSES with serving because every corpus-level statistic
    * the scorer uses derives at serve time from the stored tables: df
    * re-counts per-term postings, N and the average length re-aggregate
    * doclen — so serving the survivor store is EXACTLY serving a
    * from-scratch index of the surviving corpus (oracle-proven
    * hash-exact in q_bm25_delete, not assumed). Survivor postings
    * rewrite through the same bucket/sort layout as [[saveBm25Index]],
    * so pruning behavior carries over to the new version.
    */
  def deleteFromBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      pred: Column): DataFrame =
    deleteFromStore(spark, inDir, outDir, pred, TermPostings)

  /** [[deleteFromBm25Index]] for the POSITIONAL phrase store: documents
    * matching `pred` are removed from both the positional postings and
    * the shared doclen table under the same version-swap rule and audit.
    * Positions are per-document state and df/N/avg-dl re-derive at serve
    * time, so phrase serving the survivor store ≡ serving a from-scratch
    * positional index of the surviving corpus (oracle-proven hash-exact
    * in q_phrase_delete).
    */
  def deleteFromBm25Positional(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      pred: Column): DataFrame =
    deleteFromStore(spark, inDir, outDir, pred, PhrasePostings)

  private def deleteFromStore(
      spark: org.apache.spark.sql.SparkSession, inDir: String, outDir: String,
      pred: Column, l: PostingsLayout): DataFrame = {
    require(inDir != outDir,
      "deletion rewrites a NEW store version — outDir must differ from inDir")
    val (postings, dl) = loadStore(spark, inDir, l)
    val hit = coalesce(pred, lit(false))
    val (survDl, audit) = graft.streaming.Maintenance.deleteWhere(
      dl.withColumn("store", lit(l.store)), pred, Seq("store"), col("doc_id"))
    // The survivor rewrite is SHUFFLE-FREE: the v1 store is already
    // tok_bucket-partitioned with tok-sorted files, and a row filter
    // preserves both, so survivors keep their stored bucket column and
    // only re-sort locally (a task that concatenated several input files
    // must restore the per-file order). Survivor corpus stats re-derive
    // from the new version's own doclen.
    writeTables(spark, outDir, l,
      postings.filter(!hit).select(l.schema.fieldNames.toSeq.map(col): _*)
        .sortWithinPartitions(col("tok_bucket"), col("tok")),
      survDl.drop("store"), accrete = false)
    l.stamp(spark, outDir)
    audit
  }

  /** The stored postings rows of `terms` — doc_id, tok, tf, the `extra`
    * columns, and dl. The terms' `tok_bucket`s (derived driver-side,
    * h60Jvm ≡ h60) go down as a static PARTITION filter ahead of the
    * residual `tok IN`, so the scan lists only the probed buckets'
    * directories.
    */
  private def probedPostings(
      postings: DataFrame, terms: Seq[String], extra: String*): DataFrame = {
    val buckets = terms.map(t => h60Jvm(t) % Bm25Buckets).distinct
    postings
      .filter(col("tok_bucket").isin(buckets: _*) && col("tok").isin(terms: _*))
      .select((Seq("doc_id", "tok", "tf") ++ extra :+ "dl").map(col): _*)
  }

  /** [[bm25TopK]] served from a prebuilt/reloaded index instead of the
    * raw corpus: identical integer weighting, identical output (the
    * round-trip spec asserts row equality), but the corpus explode is
    * replaced by a pushed-down `tok IN terms` filter on the postings
    * scan — only matching postings are read, nothing re-tokenizes. On a
    * [[saveBm25Index]]-bucketed store the terms' `tok_bucket`s (derived
    * driver-side, h60Jvm ≡ h60) go down as a static PARTITION filter
    * first, so the scan lists only the probed buckets' directories —
    * the lexical twin of the ANN stores' probed-cell pruning.
    */
  def bm25TopKFromIndex(
      postings: DataFrame, doclen: DataFrame, terms: Seq[String], k: Int,
      stats: Option[Bm25Stats] = None): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k > 0, "k must be positive")
    // corpus statistics: the stored sidecar's when supplied; otherwise
    // folded from doclen (a corpus-table scan per call — fine at test
    // scale, the sidecar is the 100 TB path)
    val st = stats.getOrElse(Bm25Stats.of(doclen))
    // dl rides the posting rows — no doclen join
    scoreTopK(probedPostings(postings, terms), k, st)
  }

  /** The per-posting integer BM25 weight (see [[bm25TopK]] scaladoc for
    * the formula and bounds), with the corpus statistics attached as
    * literals — no stats frame to scan, aggregate, or join; expects
    * columns tf, df, dl in scope.
    */
  private def bm25Weight(st: Bm25Stats): Column = {
    val d38 = "decimal(38,0)"
    val nDocs = lit(st.nDocs)
    val aTokens = lit(st.aTokens)
    val saturPpm = call_function("div",
      lit(22000000L).cast(d38) * aTokens.cast(d38) * col("tf").cast(d38),
      lit(10L).cast(d38) * aTokens.cast(d38) * col("tf").cast(d38)
        + lit(3L).cast(d38) * aTokens.cast(d38)
        + lit(9L).cast(d38) * col("dl").cast(d38) * nDocs.cast(d38))
    val idfPpm = call_function("div",
      lit(1000000L).cast(d38) *
        (lit(2L) * nDocs - lit(2L) * col("df") + lit(1L)).cast(d38),
      (lit(2L) * col("df") + lit(1L)).cast(d38))
    call_function("div",
      saturPpm.cast(d38) * idfPpm.cast(d38), lit(1000000L).cast(d38))
  }

  /** Batch BM25: top-k per query over a whole table of term-SET queries —
    * the decontamination-by-retrieval shape (rank the corpus against
    * every eval query in one job and audit each head) and the
    * multi-topic curation pull. Default term-SET semantics: query
    * `terms` arrays are deduplicated — a repeated term contributes its
    * weight once, not once per repetition, no qtf weighting (mirrored by
    * the q_bm25_multi oracle's DISTINCT qt CTE). `weighted = true`
    * switches to term-BAG semantics: each term's weight is multiplied by
    * its multiplicity in the query (classic BM25 qtf weighting —
    * repeating a term emphasizes it), with the qtf·w products summed in
    * DECIMAL(38,0) so no query shape can overflow, then cast back to the
    * BIGINT score (exact: the true sum is far inside 38 digits). Same
    * integer-exact weighting as [[bm25TopK]]; df/dl/N/A are corpus-level
    * (shared across queries).
    *
    * Scale shape: the query table explodes to (query_id, tok) postings —
    * small by construction (queries × terms) — and broadcasts twice:
    * once distinct-by-tok to filter the corpus explode BEFORE its
    * shuffle (an inverted-index semi-join: only postings of some query's
    * terms move), once keyed to fan scored postings out per query. The
    * per-(query, doc) sum shuffles on (query_id, doc_id) — skew-safe by
    * key width — and the final per-query top-k runs through the
    * [[Diagnostics.twoStageTopK]] salt valve, never a single-task
    * per-query window (a query containing a stopword scores a large
    * slice of the corpus; the valve bounds stage-2 input at k·salts
    * rows per query regardless).
    */
  def bm25PerQuery(
      docs: DataFrame, queries: DataFrame, k: Int, salts: Int = 16,
      weighted: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    require(salts > 0, "salts must be positive")
    val posting = queries
      .select(col("query_id"), explode(col("terms")).as("tok"))
    val qt = Pins.pin(if (weighted)
        posting.groupBy(col("query_id"), col("tok"))
          .agg(count(lit(1)).as("qtf"))
      else posting.distinct().withColumn("qtf", lit(1L)))
    val terms = qt.select(col("tok")).distinct()
    val st = Bm25Stats.of(docLengthsPlan(docs))
    // pinned like bm25TopK's tf: df derivation and scoring each reference
    // it, and an unpinned table would re-tokenize the corpus per reference
    val tf = Pins.pin(postingsOf(
      tokenRows(docs).join(broadcast(terms), Seq("tok")), positional = false))
    val out = scorePerQuery(tf, qt, k, salts, st)
    Pins.release(qt)
    Pins.release(tf)
    out
  }

  /** The scoring tail [[bm25PerQuery]] and [[bm25PerQueryFromIndex]]
    * share: per-(query, doc) Σ qtf·w over a (doc_id, tok, tf, dl)
    * postings table and qt term bags against the corpus statistics `st`,
    * ranked by the salted two-stage top-k. Both inputs are
    * multi-referenced — callers pass them pinned and release after the
    * returned frame's eager pin.
    */
  private def scorePerQuery(
      tf: DataFrame, qt: DataFrame, k: Int, salts: Int,
      st: Bm25Stats): DataFrame = {
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .select(col("tok"), col("doc_id"), bm25Weight(st).as("w"))
      .join(broadcast(qt), Seq("tok"))
      .groupBy(col("query_id"), col("doc_id"))
      // qtf·w multiplied and summed as DECIMAL so no (qtf, #terms) shape
      // can overflow mid-sum; the final BIGINT cast is exact (true sums
      // sit far inside 38 digits) and matches the oracle's HUGEINT path.
      // In the unweighted default qtf ≡ 1 and this reduces to Σw.
      .agg(sum(col("w").cast("decimal(20,0)") * col("qtf").cast("decimal(18,0)"))
        .cast("long").as("score"), count(lit(1)).as("n_hit"))
    Pins.pin(Diagnostics.twoStageTopK(scored, col("query_id"),
        pmod(h60(col("doc_id").cast("string")), lit(salts.toLong)),
        Seq(col("score").desc, col("doc_id").asc), k)
      .select(col("query_id"), col("ts_rank").cast("long").as("rnk"),
        col("doc_id"), col("score"), col("n_hit"))
    ) // eager pin, then the caller releases its input pins
  }

  /** [[bm25PerQuery]] served from a [[saveBm25Index]] store instead of
    * the raw corpus — the batch-retrieval twin of [[bm25TopKFromIndex]]
    * (decontamination-by-retrieval over a 100-TB corpus never
    * re-tokenizes it per query batch). The query suite is eval-sized by
    * the same contract that broadcasts it in the corpus form, so its
    * distinct terms collect driver-side and push down exactly like the
    * single-query serve: term buckets as a static partition filter on a
    * bucketed store, the residual `tok IN` against tok-sorted row
    * groups. Identical ranking to the corpus form by construction
    * (same tf/df/dl values, same integer weight, same salted top-k).
    */
  def bm25PerQueryFromIndex(
      postings: DataFrame, doclen: DataFrame, queries: DataFrame, k: Int,
      salts: Int = 16, weighted: Boolean = false,
      stats: Option[Bm25Stats] = None): DataFrame = {
    require(k > 0, "k must be positive")
    require(salts > 0, "salts must be positive")
    val posting = queries
      .select(col("query_id"), explode(col("terms")).as("tok"))
    val qt = Pins.pin(if (weighted)
        posting.groupBy(col("query_id"), col("tok"))
          .agg(count(lit(1)).as("qtf"))
      else posting.distinct().withColumn("qtf", lit(1L)))
    val termSeq = qt.select(col("tok")).distinct()
      .collect().map(_.getString(0)).toSeq
    val st = stats.getOrElse(Bm25Stats.of(doclen))
    val tf = Pins.pin(probedPostings(postings, termSeq))
    val out = scorePerQuery(tf, qt, k, salts, st)
    Pins.release(qt)
    Pins.release(tf)
    out
  }

  /** Min-K%-prob membership audit (Shi et al. 2023, arXiv:2310.16789):
    * for each audit document, look at its k% LEAST-likely tokens under
    * the corpus unigram model — if even those are common corpus tokens,
    * the document is well-covered by the corpus (the membership /
    * memorization-risk signal; a genuinely held-out document's rare tail
    * is rare). Under an add-one unigram model, probability is monotone in
    * the corpus token count, so "lowest-prob k%" IS "lowest-count k%":
    * selection is integer sorting, and the CHECKED statistics are
    * integers — the audit-doc token count, the selected-tail size
    * m = max(1, ⌊n·k/100⌋) (capped at n), and the selected counts' sum.
    * Probability-scale scores derive engine-side from the sums.
    *
    * Scale shape: the corpus model is one vocabulary-sized aggregation
    * (broadcast-joined to the exploded audit tokens); per-doc work is a
    * collect+sort of that DOC's counts — bounded by document length,
    * never corpus-sized. The audit set is the small side by construction.
    * A zero-token audit document produces no row (nothing to audit).
    */
  def minKCountAudit(
      corpus: DataFrame, audit: DataFrame, kPct: Int): DataFrame = {
    require(kPct >= 1 && kPct <= 100, "kPct in [1,100]")
    val counts = corpus.select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val m = greatest(lit(1L),
      call_function("div", size(col("cs")).cast("long") * kPct, lit(100L)))
    audit.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .join(broadcast(counts), Seq("t"), "left")
      .select(col("doc_id"), coalesce(col("c"), lit(0L)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("c"))).as("cs"))
      .select(col("doc_id"),
        size(col("cs")).cast("long").as("n_tokens"),
        least(m, size(col("cs")).cast("long")).as("n_lowk"),
        aggregate(slice(col("cs"), lit(1), m),
          lit(0L), (a, x) => a + x).as("lowk_count_sum"))
  }

  /** Cross-corpus unigram-LM likelihood scoring — the CCNet-style filter
    * (Wenzek et al. 2019, arXiv:1911.00359: a LM trained on a trusted
    * REFERENCE corpus ranks a crawl; head/middle/tail buckets by score).
    * Unlike [[unigramScores]] (model trained ON the scored corpus, an
    * in-distribution quality signal) the model here is add-one-smoothed
    * unigram counts from `ref`, applied to `target` — the distribution-
    * shift signal: gibberish, wrong-language, and boilerplate documents
    * score low against a clean reference even when self-consistent.
    *
    * Checked columns are exact integers: n_tokens, n_oov (target tokens
    * absent from the reference vocabulary), cnt_sum = Σ reference counts
    * of the doc's tokens (OOV → 0), and the two rational surrogates —
    * score_ppb = ⌊10^9·(cnt_sum + n)/(n·(T + V))⌋, the add-one mean token
    * probability (Σ(cnt+1)/(T+V) over tokens, ÷ n), and
    * oov_ppm = ⌊10^6·n_oov/n⌋ — both DECIMAL(38,0) products + `div` (the
    * q_dsir pattern), so scores and any ranking on them replay
    * bit-for-bit cross-engine; no logarithm touches a checked value.
    * cnt_sum is an exact BIGINT under the same documented envelope as
    * [[unigramScores]]' c_sum. Documents with no tokens are absent
    * (no likelihood is defined for them).
    *
    * Scale shape: one reference explode into a token-keyed partial-agg
    * vocabulary, one target explode joined to it on the token key (a
    * hash join both sides partition by — never a broadcast of a
    * corpus-sized vocabulary), one doc-keyed aggregation; T and V ride
    * along as a broadcast 1-row aggregate.
    */
  def lmScoreAgainst(ref: DataFrame, target: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    // fail loudly on an empty reference (T + V = 0 would otherwise yield
    // null scores under non-ANSI Spark and a divide error in a DuckDB
    // replay) — the limit(1) probe short-circuits after the first token,
    // mirroring the "PQ training set is empty" check
    require(!ref.select(explode(tokens(col("text"))).as("token")).isEmpty,
      "reference corpus has no tokens — the add-one LM is undefined (T + V = 0)")
    val vocab = ref
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val consts = vocab.agg(
      coalesce(sum(col("cnt")), lit(0L)).as("t_ref"),
      count(lit(1)).as("v_ref"))
    target
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(vocab, Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"),
        coalesce(sum(col("cnt")), lit(0L)).as("cnt_sum"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("cnt_sum"),
        call_function("div",
          lit(1000000000L).cast(d38) *
            (col("cnt_sum") + col("n_tokens")).cast(d38),
          col("n_tokens").cast(d38) *
            (col("t_ref") + col("v_ref")).cast(d38)).as("score_ppb"),
        call_function("div",
          lit(1000000L).cast(d38) * col("n_oov").cast(d38),
          col("n_tokens").cast(d38)).as("oov_ppm"))
  }

  /** Per-source tokenizer-fertility readout: characters per token — the
    * tokenizer-efficiency signal a curation run reads per source before
    * committing a token budget (Rust et al. 2021, arXiv:2012.15613 call
    * this fertility; low chars/token on prose-like text flags a source
    * the tokenizer fragments, very high values flag unsegmentable junk —
    * minified code, base64 blobs, CJK without spaces). All checked values
    * are exact integers: doc/char/token sums plus
    * cpt_ppm = ⌊10^6·Σchars/Σtokens⌋ via the DECIMAL(38,0)+div pattern
    * (10^6·Σchars passes int64 at corpus scale). A source whose every
    * document tokenizes to zero tokens reports NULL cpt_ppm on both
    * engines (no fertility is defined), never a divide error.
    *
    * Scale shape: one narrow per-row projection (no explode — size() on
    * the token array) and one source-keyed aggregation, map-side
    * combinable; output is dimension-sized (one row per source).
    */
  def fertility(docs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    docs
      .select(col("source"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
        coalesce(sum(col("n_toks")), lit(0L)).as("sum_tokens"))
      .withColumn("cpt_ppm",
        when(col("sum_tokens") === 0L, lit(null).cast("long"))
          .otherwise(call_function("div",
            lit(1000000L).cast(d38) * col("sum_chars").cast(d38),
            col("sum_tokens").cast(d38))))
  }

  /** Per-source distribution drift vs the whole corpus — the
    * mixture-planning readout that ranks sources by how far their
    * unigram distribution sits from the corpus average (the CCNet/DSIR
    * importance-weighting signal lifted from per-document to per-source
    * granularity): tokens hash into `dim` buckets (the [[Curate]] DSIR
    * model shape), and each source's bucket histogram is compared to the
    * corpus-wide histogram by total-variation distance over the hashed
    * buckets. The emitted `tv2_ppm` = Σ_b |⌊10^6·c_sb/T_s⌋ −
    * ⌊10^6·c_b/T⌋| is exactly 2·TV·10^6 up to per-bucket floor rounding
    * — an integer in [0, 2·10^6], monotone in drift, bit-replayable
    * cross-engine (each term a DECIMAL(38,0) floor division; no float
    * touches a checked value). The corpus histogram INCLUDES the source
    * itself (drift vs the published mixture, the quantity a reweighting
    * actually changes); sources with zero tokens are absent.
    *
    * Scale shape: one explode into a (source, bucket)-keyed partial
    * aggregation — the only corpus-sized pass; everything after operates
    * on the (sources × dim)-row histogram: the corpus histogram and
    * per-source totals derive from it (pinned once), the zero-bucket
    * scaffold is a totals × broadcast(dim-row histogram) product, and
    * the 1-row corpus total rides a broadcast. Output is one row per
    * source.
    */
  def sourceDivergence(docs: DataFrame, dim: Int = 64): DataFrame = {
    require(dim >= 1, "dim must be at least 1")
    val d38 = "decimal(38,0)"
    val sc = Pins.pin(docs
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .select(col("source"), pmod(h60(col("t")), lit(dim.toLong)).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("c_sb")))
    val corpus = sc.groupBy(col("bucket")).agg(sum(col("c_sb")).as("c_b"))
    val totals = sc.groupBy(col("source")).agg(sum(col("c_sb")).as("t_s"))
    val consts = corpus.agg(coalesce(sum(col("c_b")), lit(0L)).as("t_all"))
    def ppm(c: Column, t: Column): Column = call_function("div",
      lit(1000000L).cast(d38) * c.cast(d38), t.cast(d38))
    totals
      .crossJoin(broadcast(corpus)) // dim-row build side: the zero-bucket scaffold
      .join(sc, Seq("source", "bucket"), "left")
      .crossJoin(broadcast(consts))
      .select(col("source"), col("t_s"),
        coalesce(col("c_sb"), lit(0L)).as("c_sb"), col("c_b"), col("t_all"))
      .groupBy(col("source"))
      .agg(
        max(col("t_s")).as("n_tokens"),
        sum(when(col("c_sb") > 0L, 1L).otherwise(0L)).as("n_buckets_hit"),
        sum(abs(ppm(col("c_sb"), col("t_s")) - ppm(col("c_b"), col("t_all"))))
          .cast("long").as("tv2_ppm"))
  }

  /** Rare-token suppression — the memorization-mitigation scrub: tokens
    * whose corpus document frequency is below `minDf` are replaced by a
    * sentinel, because ultra-rare strings (serials, keys, one-off names)
    * are exactly what a model can only reproduce by memorizing (the
    * k-anonymity intuition: a token seen in ≥ minDf documents is not an
    * individual secret). Complements [[Curate.redact]]'s pattern-based
    * PII scrub with a statistics-based one that needs no pattern list.
    *
    * Output per surviving document: n_tokens, n_masked, and the masked
    * text rebuilt in original token order with single-space joins (the
    * tokenizer's whitespace normalization — documented contract, and the
    * oracle rebuilds the identical string). Documents with no tokens are
    * absent. Deterministic: position-keyed reassembly via
    * sort_array-of-(pos, token) structs, never an order-dependent
    * collect_list alone.
    *
    * Scale shape: one posexplode into a (doc, token) distinct + token-
    * keyed df aggregation, one token-keyed equi-join back (both sides
    * hash-partition on the token — the rare TAIL of the vocabulary is
    * huge, so no broadcast), one doc-keyed reassembly aggregation. The
    * df join is skew-safe by construction: a stopword's df row is one
    * row joined to many postings (hash join build side is the df table).
    */
  def suppressRareTokens(
      docs: DataFrame, minDf: Long, sentinel: String = "<rare>"): DataFrame = {
    require(minDf >= 1, "minDf must be at least 1")
    val exploded = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val dfreq = exploded.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    exploded
      .join(dfreq, Seq("token"))
      .select(col("doc_id"), col("pos"),
        when(col("df") < minDf, lit(sentinel)).otherwise(col("token")).as("tok_out"),
        when(col("df") < minDf, lit(1L)).otherwise(lit(0L)).as("masked"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("masked")).as("n_masked"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok_out")))),
            s => s.getField("tok_out")), " ").as("masked_text"))
  }

  // -- vocabulary coverage curve --------------------------------------------

  /** Vocabulary coverage curve: for each candidate vocab size V, the
    * fraction of the corpus token MASS covered by the V most frequent
    * token types — the readout a tokenizer-budget decision reads
    * ("64 k types cover 99.2% of tokens; the tail is junk"). The
    * complement at a fixed vocab is [[oovRate]]; this sweeps the whole
    * frontier in one pass.
    *
    * Scale shape: one map-side-combined token count (the corpus-sized
    * shuffle), then [[Diagnostics.rankAndCumSum]] stamps exact 0-based
    * frequency ranks AND the running covered mass in ONE distributed
    * kernel pass over the vocab-sized count table — no single-task
    * global window (type counts at web scale are billions of rows).
    * Each bracket then reads cum at rank min(V, |vocab|) − 1: a
    * brackets-literal equi-join against the ≤ |brackets| boundary rows,
    * with the 1-row totals crossJoin-broadcast (the scalar-build shape).
    * Order is total — (count DESC, token ASC) — so ranks, boundaries,
    * and ppm all replay cross-engine in exact integers.
    */
  def vocabCurve(
      docs: DataFrame,
      brackets: Seq[Long] = Seq(1L << 10, 1L << 12, 1L << 14, 1L << 16)): DataFrame = {
    require(brackets.nonEmpty && brackets.forall(_ >= 1), "brackets must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
    val ranked = Diagnostics.rankAndCumSum(
      counts, Seq(col("n").desc, col("tok").asc), col("n"), "rank0", "cum")
    val totals = ranked.agg(
      count(lit(1)).as("n_types"),
      coalesce(max(col("cum")), lit(0L)).as("total_mass"))
    val br = brackets.sorted.toDF("vocab_size")
    // boundary row per bracket: rank0 == min(V, n_types) − 1
    br.crossJoin(broadcast(totals))
      .withColumn("boundary", least(col("vocab_size"), col("n_types")) - 1L)
      .join(ranked.select(col("rank0"), col("cum")),
        col("boundary") === col("rank0"), "left")
      .select(
        col("vocab_size"),
        least(col("vocab_size"), col("n_types")).as("n_types_used"),
        coalesce(col("cum"), lit(0L)).as("covered_mass"),
        col("total_mass"),
        // DECIMAL div (q_dsir rule): 10^6·mass overflows BIGINT at web scale
        when(col("total_mass") > 0,
          call_function("div",
            lit(1000000L).cast("decimal(38,0)") *
              coalesce(col("cum"), lit(0L)).cast("decimal(38,0)"),
            col("total_mass").cast("decimal(38,0)")).cast("long"))
          .otherwise(lit(0L)).as("coverage_ppm"))
  }

  // -- token burstiness ------------------------------------------------------

  /** Token burstiness: the variance-to-mean ratio (index of dispersion)
    * of each token's per-document occurrence counts over ALL N docs —
    * Church & Gale's burstiness statistic: ≈ 1 for Poisson scatter
    * (function words spread evenly), ≫ 1 for content/template words
    * that clump in few documents. The keyword/boilerplate separator a
    * mixture planner reads next to document frequency:
    *
    *   vmr_ppm = 10^6 · (N·Σc² − (Σc)²) DIV (N·Σc)     (zeros included)
    *
    * in exact DECIMAL(38,0) products (N·Σc² overflows BIGINT at web
    * scale — the q_dsir div rule), so the ranking replays cross-engine.
    * Output: top-k by (vmr DESC, token), with doc frequency, total and
    * squared-count sums carried.
    *
    * Scale shape: one (token, doc) count (map-side combined), one token
    * aggregation, the 1-row corpus size crossJoin-broadcast, TakeOrdered
    * head. Zero-count docs contribute through N alone — no explode of
    * the token × doc zero matrix.
    */
  def tokenBurstiness(docs: DataFrame, topK: Int = 50): DataFrame = {
    require(topK >= 1, "topK must be at least 1")
    val d38 = "decimal(38,0)"
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val perTok = perDoc.groupBy(col("tok"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    perTok.crossJoin(broadcast(n))
      .select(col("tok"), col("df"), col("s"), col("q"), col("n_docs"),
        call_function("div",
          lit(1000000L).cast(d38) *
            (col("n_docs").cast(d38) * col("q").cast(d38) -
              col("s").cast(d38) * col("s").cast(d38)),
          col("n_docs").cast(d38) * col("s").cast(d38))
          .cast("long").as("vmr_ppm"))
      .orderBy(col("vmr_ppm").desc, col("tok"))
      .limit(topK)
  }

  // -- token frequency-rank drift --------------------------------------------

  /** Token frequency-rank drift between two corpus snapshots: each side's
    * tokens get an exact global 0-based frequency rank (count DESC, token
    * ASC), and drift = |rank_A − rank_B| — the token-granular
    * distribution-shift readout (a crawl template change, an injected
    * spam vocabulary, a feed swap) that aggregate divergence scores
    * ([[sourceDivergence]], corpusDiff's doc-level view) can't localize.
    * A token absent from one side takes that side's type count as its
    * rank (one past the end — the strongest possible movement) with
    * count 0, so appearing/disappearing vocabulary tops the readout
    * rather than silently dropping out of an inner join.
    *
    * Scale shape: two map-side-combined token counts, each ranked by one
    * [[Diagnostics.rankColumn]] kernel pass (never a single-task global
    * window over a web-scale vocab), a token-keyed full outer join, the
    * two type counts crossJoin-broadcast as 1-row aggregates, and a
    * TakeOrdered head. All integers.
    */
  def rankDrift(docsA: DataFrame, docsB: DataFrame, topK: Int = 50): DataFrame = {
    require(topK >= 1, "topK must be at least 1")
    def ranked(d: DataFrame, nName: String, rName: String) =
      Diagnostics.rankColumn(
        d.select(explode(tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as(nName)),
        Seq(col(nName).desc, col("tok").asc), rName)
    val a = ranked(docsA, "n_a", "rank_a")
    val b = ranked(docsB, "n_b", "rank_b")
    val ta = a.agg(count(lit(1)).as("types_a"))
    val tb = b.agg(count(lit(1)).as("types_b"))
    a.join(b, Seq("tok"), "full_outer")
      .crossJoin(broadcast(ta))
      .crossJoin(broadcast(tb))
      .select(
        col("tok"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("rank_a"), col("types_a")).as("rank_a"),
        coalesce(col("rank_b"), col("types_b")).as("rank_b"))
      .withColumn("drift", abs(col("rank_a") - col("rank_b")))
      .orderBy(col("drift").desc, col("tok").asc)
      .limit(topK)
  }

  // -- Borda rank-blend quality ensemble ------------------------------------

  /** Borda-count ensemble over three integer quality signals — the
    * rank-aggregation way to combine signals whose raw scales are
    * incomparable (token count vs type-token ratio vs stopword ratio):
    * each signal contributes its exact global 0-based rank (best = 0)
    * and the ensemble order is the SUM of ranks ascending — the
    * corpus-wide sibling of [[Similarity.rrfFuse]] (which fuses top-k
    * lists; Borda ranks the whole corpus, e.g. to feed
    * [[Diagnostics.curriculumInterleave]] or a head/tail quality cut).
    * Signals, all exact integers from one tokenization:
    *   - s_len  = token count                      (longer better)
    *   - s_ttr  = 10^6·distinct DIV tokens         (more diverse better)
    *   - s_stop = 10^6·stopword-hits DIV tokens    (more natural better)
    * Ranks tie-break on doc_id, so the blend replays cross-engine.
    *
    * Scale shape: one narrow per-row signal pass, then three
    * [[Diagnostics.rankColumn]] kernel passes over slim (doc_id, signal)
    * projections — three range-shuffles of 2-column rows, never a
    * one-task global window — joined back on doc_id. Zero-token docs
    * rank by (0, 0, 0): worst of every signal, never dropped.
    */
  def qualityEnsemble(docs: DataFrame, topK: Int = 50): DataFrame = {
    require(topK >= 1, "topK must be at least 1")
    val sig = Pins.pin(docs
      // toks in its OWN projection (the shingleSets HOF-inlining rule)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("s_len"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        size(filter(col("toks"), t => t.isin(StopwordsEn: _*)))
          .cast("long").as("n_stop"))
      .select(
        col("doc_id"),
        col("s_len"),
        when(col("s_len") > 0, expr("(1000000L * n_uniq) DIV s_len"))
          .otherwise(lit(0L)).as("s_ttr"),
        when(col("s_len") > 0, expr("(1000000L * n_stop) DIV s_len"))
          .otherwise(lit(0L)).as("s_stop")))
    def rk(c: String, out: String) = Diagnostics.rankColumn(
      sig.select(col("doc_id"), col(c)),
      Seq(col(c).desc, col("doc_id").asc), out)
      .select(col("doc_id"), col(out))
    val out = sig
      .join(rk("s_len", "r_len"), Seq("doc_id"))
      .join(rk("s_ttr", "r_ttr"), Seq("doc_id"))
      .join(rk("s_stop", "r_stop"), Seq("doc_id"))
      .withColumn("borda", col("r_len") + col("r_ttr") + col("r_stop"))
      .orderBy(col("borda").asc, col("doc_id").asc)
      .limit(topK)
      .select("doc_id", "s_len", "s_ttr", "s_stop",
        "r_len", "r_ttr", "r_stop", "borda")
    val pinned = Pins.pin(out)
    Pins.release(sig)
    pinned
  }
}
