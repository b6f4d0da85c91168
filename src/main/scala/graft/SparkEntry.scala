package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a matching ANSI-SQL oracle in
  * [[oracleSql]] (DuckDB dialect-compatible) computing the identical
  * result over the same parquet tables. Determinism rules:
  *   - doubles are aggregated as DECIMAL(12,2) (exact, order-independent)
  *     and cast back to double;
  *   - all outputs ORDER BY a unique key;
  *   - integer-typed outputs are cast so Spark/DuckDB parquet types agree.
  */
object SparkEntry {
  import graft.model.IndexModel

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(Tables(spark, "/root/testdata/sf0.001"))

  /** The materialized index store (written once per JVM, then a parquet
    * scan with real pushdown) — NOT a per-query derivation.
    */
  private def idx(s: SparkSession, dir: String): DataFrame =
    graft.store.IndexStore.materialized(s, dir)

  private def qs(s: SparkSession, dir: String): QueryService =
    QueryService(idx(s, dir))

  /** A registry query's scratch dir under the work root: `<tag>-` plus
    * the testdata dir with every char outside [A-Za-z0-9.] mapped to `_`.
    */
  private def workDir(tag: String, dir: String): String =
    s"${graft.streaming.PersistPipeline.workRoot}/$tag-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** `served` with a deletion's one-row tombstone audit cross-joined: a
    * grouping-free re-aggregate of the 1-row audit — the structurally
    * bounded scalar-build shape the no-cartesian audit admits.
    */
  private def withDeleteAudit(audit: DataFrame)(served: DataFrame): DataFrame =
    served.crossJoin(broadcast(audit.agg(
      max(col("n_deleted")).as("n_deleted"),
      max(col("n_kept")).as("n_kept"),
      max(col("del_fp_sum")).as("del_fp_sum"))))

  /** Composed resubmitter over the index store and the persist run's real
    * written Avro records (the replay's record source, S6/D2).
    */
  private def resubmitter(s: SparkSession, dir: String): Resubmitter = {
    val wd = graft.streaming.PersistPipeline.ensureRun(s, dir)
    val records = graft.streaming.PersistPipeline.readRecords(s, wd)
      .withColumn("payload", col("data").cast("string"))
    Resubmitter(qs(s, dir), records, broadcastIndex = true)
  }

  /** Verification view of a [[ResubmitRun]] publish plan: per ordering
    * group, membership count, the exact per-key publish order (keyless
    * groups exempt — [[Replay.orderingGroups]] owns that rule; the
    * payload-mass sum rides as its extra aggregate, proving the stored
    * blob payloads joined through).
    */
  private def publishGroups(publish: DataFrame): DataFrame =
    Replay.orderingGroups(publish,
      sum(length(col("payload")).cast("long")).as("payload_bytes"))
      .orderBy(col("ordering_key"))

  /** One streaming persist run per JVM per testdata dir: fresh work dir +
    * checkpoint, Trigger.AvailableNow drains the source, foreachBatch
    * persists each micro-batch (W1/W2).
    */
  private object StreamRuns {
    private val ran = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def ensure(s: SparkSession, dir: String): String =
      ran.computeIfAbsent(dir, { d =>
        val wd = workDir("stream", d)
        graft.streaming.PersistPipeline.deleteRecursively(java.nio.file.Paths.get(wd))
        // file-source streams read a DIRECTORY of arriving files — stage
        // the bounded table as that directory
        val src = java.nio.file.Paths.get(s"$wd/source")
        java.nio.file.Files.createDirectories(src)
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$d/events.parquet"),
          src.resolve("events.parquet"))
        graft.streaming.PersistPipeline.runStream(s, src.toString, wd,
          prepare = Tables.normalizeTs)
        wd
      })
  }

  /** One ordered publish per JVM per testdata dir (K6-K9/W6 sink). */
  private object PublishRuns {
    private val ran = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def ensure(s: SparkSession, dir: String): String =
      ran.computeIfAbsent(dir, { d =>
        val topic = s"${graft.streaming.PersistPipeline.ensureRun(s, d)}/publish_topic"
        Publisher.publishOrdered(idx(s, d), topic)
        topic
      })
  }

  /** Memoized per sfDir for the JVM lifetime. Assumes the index for a dir
    * is immutable within one process — true for the bench/verify harness
    * (testdata is driver-generated, the store rebuilt per JVM). If
    * in-process regeneration ever becomes possible, key this on
    * (dir, index snapshot) instead or the cached ids go stale.
    */
  private object FixtureIds {
    val point = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val multi = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  }

  private val T1 = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
  private val T2 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
  private val intervalProj =
    Seq("unique_id", "publish_time", "location_key", "location_position")

  private val orFilters: Seq[Map[String, FilterValue]] = Seq(
    Map("business_source_key" -> Eq("bsk1"),
      "publish_time" -> Cmp("gte", "2024-01-10 00:00:00")),
    Map("ordering_key" -> Eq(""), "additional_metadata.k" -> Cmp("gte", "50")))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- analytics / bench headliners --------------------------------------
    "q1_pricing_summary" -> ((s, dir) => Analytics.pricingSummary(Tables(s, dir))),
    "q3_shipping_priority" -> ((s, dir) => Analytics.shippingPriority(Tables(s, dir))),
    "q5_local_supplier_volume" -> ((s, dir) => Analytics.localSupplierVolume(Tables(s, dir))),
    "q_top_customers_per_nation" -> ((s, dir) => Analytics.topCustomersPerNation(Tables(s, dir))),
    // Link-graph authority scoring (Common-Crawl-style domain weighting):
    // 3 integer-exact PageRank rounds over the symmetrized customer–
    // supplier graph — every rank a BIGINT in parts-per-10^12. Nodes are
    // parity-encoded LONGS (cust = 2k, supp = 2k+1 — the int64 host-hash a
    // web-graph pipeline uses, not strings), and the bipartite reversal is
    // a plain unionByName: the two directions cannot collide, so
    // symmetrize()'s generic distinct would be a wasted 2·|E| shuffle.
    "q_pagerank" -> { (s, dir) =>
      val t = Tables(s, dir)
      val edges = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val sym = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pagerank(sym, iters = 3).orderBy(col("node"))
    },
    // -- index model + query surface (SURVEY §2.1 S7-S10, §2.3 T4/T5, §2.5 A1-A3)
    "q_idx_build" -> ((s, dir) =>
      IndexModel.fromEventsFlat(Tables(s, dir).events).orderBy(col("unique_id"))),
    // Retention sweep with tombstone audit: delete everything published
    // before T1, prove the erasure per broker via the exact Σh60(key)
    // fingerprint — survivors untouched, payload not retained.
    "q_delete_audit" -> { (s, dir) =>
      val idx = IndexModel.fromEventsFlat(Tables(s, dir).events)
      graft.streaming.Maintenance.deleteWhere(idx,
        col("publish_time") < lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
        Seq("broker_id"), col("unique_id"))._2
        .orderBy(col("broker_id"))
    },
    // Fixture-ID selection runs one extra Spark job; memoized per dir so
    // timed bench passes measure only the lookup itself.
    "q_idx_point_lookup" -> { (s, dir) =>
      val service = qs(s, dir)
      val id = FixtureIds.point.computeIfAbsent(dir,
        _ => service.index.agg(min(col("unique_id"))).head().getString(0))
      service.get(id, intervalProj)
    },
    "q_idx_multi_id" -> { (s, dir) =>
      val service = qs(s, dir)
      val ids = FixtureIds.multi.computeIfAbsent(dir,
        _ => service.index.groupBy(col("broker_id"))
          .agg(min(col("unique_id")).as("id")).collect().map(_.getString(1)).toSeq)
      service.getAll(ids, Seq("unique_id", "broker_id", "location_key"))
        .orderBy(col("unique_id"))
    },
    "q_idx_interval" -> ((s, dir) =>
      qs(s, dir).getAllInInterval(T1, T2, "t-click", limit = 20, offset = 40,
        attrs = intervalProj)),
    "q_idx_count_interval" -> ((s, dir) => qs(s, dir).countInInterval(T1, T2, "t-click")),
    "q_idx_query_or" -> ((s, dir) =>
      qs(s, dir).getQueried(orFilters, limit = 50, offset = 0,
        attrs = Seq("unique_id", "business_source_key", "ordering_key", "meta_k"))),
    "q_idx_count_query" -> ((s, dir) => qs(s, dir).countQueried(orFilters)),
    // -- persist-side projections (SURVEY §2.3 T1/T2/T9/T14, §2.2 K5, §2.5 A8)
    "q_persist_partition" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val mask = Persist.parseMask("year/month/day/hour/{et}")
      val withCols = Persist.withPartitionColumns(
        ev, mask, col("ts"),
        Map("et" -> when(col("event_type") === "view", lit(null).cast("string"))
          .otherwise(col("event_type"))))
      withCols
        .withColumn("path", Persist.partitionPath("gs://graft/events", mask))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("path"))
    },
    "q_version_batching" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val versioned = Persist.withVersionColumns(ev, Map(
        "v_color" -> when(col("event_id") % 4 === 0, lit("blue"))
          .when(col("event_id") % 4 === 1, lit("red"))
          .when(col("event_id") % 4 === 3, lit("yellow")),
        "v_spin" -> when(col("user_id") % 2 === 0, lit("left")).otherwise(lit("right"))))
      versioned.groupBy(col("v_color"), col("v_spin"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("v_color"), col("v_spin"))
    },
    "q_dead_letter" -> { (s, dir) =>
      val index = idx(s, dir)
      Persist.deadLetter(
        index.filter(col("business_source_key").isNull),
        col("unique_id"),
        "validation_error",
        concat(lit("missing required field business_source_key for "), col("broker_msg_id")),
        "indexer"
      ).orderBy(col("unique_id"))
    },
    "q_error_dedup" -> { (s, dir) =>
      val failures = idx(s, dir).filter(col("business_source_key").isNull)
      Replay.errorCounts(
        failures,
        concat(lit("missing field on broker "), col("broker_id")))
        .orderBy(col("message"))
    },
    "q_size_calc" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      ev.withColumn("broker_id", concat(lit("t-"), col("event_type")))
        .withColumn("size", Persist.messageSize(
          col("props").cast("binary"),
          map(lit("k"), get_json_object(col("props"), "$.k"),
            lit("et"), col("event_type"))))
        .groupBy(col("broker_id"))
        .agg(sum(col("size")).as("total_bytes"), count(lit(1)).as("n"))
        .orderBy(col("broker_id"))
    },
    "q_good_bad_split" -> { (s, dir) =>
      val index = idx(s, dir)
      val failedIds = index
        .filter(col("broker_msg_id").cast("long") % 7 === 0)
        .select("unique_id")
      val (good, bad) = Persist.goodBadSplit(index, failedIds, "unique_id")
      val g = good.groupBy(col("broker_id")).agg(count(lit(1)).as("n_good"))
      val b = bad.groupBy(col("broker_id")).agg(count(lit(1)).as("n_bad"))
      g.join(b, Seq("broker_id"), "full_outer")
        .select(col("broker_id"),
          coalesce(col("n_good"), lit(0L)).as("n_good"),
          coalesce(col("n_bad"), lit(0L)).as("n_bad"))
        .orderBy(col("broker_id"))
    },
    // -- replay pipeline (SURVEY §2.4 J1/J2, §2.3 T13, §2.6 W6)
    "q_fetch_jobs" -> ((s, dir) =>
      Replay.fetchJobs(idx(s, dir)).orderBy(col("location_key"))),
    // Replay read-back: the records side is the Avro OCF blobs the persist
    // pipeline actually WROTE (D2/S4-local), not a derived view.
    "q_positional_join" -> { (s, dir) =>
      val wd = graft.streaming.PersistPipeline.ensureRun(s, dir)
      val records = graft.streaming.PersistPipeline.readRecords(s, wd)
        .withColumn("payload", col("data").cast("string"))
      val slice = idx(s, dir).filter(
        col("publish_time") >= lit(T1) && col("publish_time") < lit(T2) &&
          col("broker_id") === "t-purchase")
      Replay.positionalJoin(records, slice, broadcastIndex = true)
        .select("unique_id", "location_key", "location_position", "payload")
        .orderBy(col("unique_id"))
    },
    // D1/D2 in isolation: everything written as Avro comes back intact.
    "q_persist_records" -> { (s, dir) =>
      val wd = graft.streaming.PersistPipeline.ensureRun(s, dir)
      graft.streaming.PersistPipeline.readRecords(s, wd)
        .select(col("location_key"), col("location_position"),
          col("id"), col("data").cast("string").as("payload"),
          element_at(col("metadata"), "broker_id").as("broker_id"),
          element_at(col("metadata"), "ordering_key").as("ordering_key"))
        .orderBy(col("location_key"), col("location_position"))
    },
    // D4/T7 live on the real written topic: per-broker valid-doc counts
    // (plus dead-letter count, zero on clean data) after strict decode.
    "q_indexer_validation" -> { (s, dir) =>
      val wd = graft.streaming.PersistPipeline.ensureRun(s, dir)
      val topic = s.read.parquet(s"$wd/indexer_topic")
      // single pass over the JSON parse: per-broker valid counts and the
      // global DL count aggregate the same checked frame (the parse is the
      // dominant cost; good/bad branches would walk it twice)
      graft.streaming.PersistPipeline.checkedTopic(topic)
        .select(col("doc.broker_id").as("broker_id"), col("err"))
        .groupBy(col("broker_id"))
        .agg(
          count(when(col("err").isNull, 1)).as("n_valid"),
          count(col("err")).as("n_bad"))
        .withColumn("n_dead_lettered",
          sum(col("n_bad")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))))
        .filter(col("n_valid") > 0)
        .select("broker_id", "n_valid", "n_dead_lettered")
        .orderBy(col("broker_id"))
    },
    // W1/W2: the same pipeline through checkpointed foreachBatch micro-
    // batches (Trigger.AvailableNow), then read back what the STREAM wrote.
    "q_stream_persist" -> { (s, dir) =>
      val wd = StreamRuns.ensure(s, dir)
      s.read.parquet(s"$wd/index")
        .groupBy(col("broker_id")).agg(
          count(lit(1)).as("n"),
          min(col("location_position")).as("min_pos"),
          max(col("location_position")).as("max_pos"))
        .orderBy(col("broker_id"))
    },
    "q_ordering_groups" -> ((s, dir) =>
      Replay.orderingGroups(idx(s, dir)).orderBy(col("ordering_key"))),
    "q_repackage_metadata" -> { (s, dir) =>
      Replay.repackagedMetadata(idx(s, dir))
        .select(col("unique_id"),
          concat_ws(",",
            transform(array_sort(map_entries(col("attributes"))),
              e => concat(e.getField("key"), lit("="), e.getField("value"))))
            .as("attrs_flat"))
        .orderBy(col("unique_id"))
    },
    // Composed resubmit modes (resubmitter_job.go:93,147,202): index query
    // → positional join vs the real written Avro records → repackaging →
    // ordered publish plan, one entry per reference mode. Output replays
    // the whole chain per ordering group: membership + per-key publish
    // order + payload mass (proof the stored payloads made the plan).
    "q_resubmit_ids" -> { (s, dir) =>
      val r = resubmitter(s, dir)
      val ids = idx(s, dir)
        .filter(col("broker_msg_id").cast("long") % 3 === 0)
        .select("unique_id")
      publishGroups(r.byIdSet(ids).publish)
    },
    "q_resubmit_interval" -> { (s, dir) =>
      publishGroups(resubmitter(s, dir).byInterval(T1, T2, "t-purchase").publish)
    },
    "q_resubmit_query" -> { (s, dir) =>
      publishGroups(resubmitter(s, dir).byQuery(orFilters).publish)
    },
    // J4: large-ID-set membership as a semi-join (vs isin literal lists).
    "q_idx_getall_join" -> { (s, dir) =>
      val service = qs(s, dir)
      val ids = service.index
        .filter(col("broker_msg_id").cast("long") % 3 === 0)
        .select("unique_id")
      service.getAllJoin(ids, Seq("unique_id", "broker_id", "location_key"))
        .orderBy(col("unique_id"))
    },
    // K6-K9/W6: ordered publish to a file topic, then read the TOPIC back
    // and prove per-key publish order survived the round trip. Keyless rows
    // carry no publish_seq (reference: fully parallel, no mutual order), so
    // their group asserts MEMBERSHIP via an order-independent checksum while
    // keyed groups assert the exact replay order; the null routed into
    // collect_list keeps the keyless group's aggregation buffer empty.
    "q_replay_publish" -> { (s, dir) =>
      val topic = PublishRuns.ensure(s, dir)
      val keyless = col("ordering_key") === ""
      Publisher.readTopic(s, topic)
        .groupBy(col("ordering_key"))
        .agg(
          count(lit(1)).as("n"),
          when(keyless, lit(null).cast("string"))
            .otherwise(concat_ws(",",
              transform(
                array_sort(collect_list(when(keyless, lit(null))
                  .otherwise(struct(col("publish_seq"), col("unique_id"))))),
                e => e.getField("unique_id")))).as("publish_order"),
          sum(pmod(graft.functions.TextFunctions.h60(col("unique_id")),
            lit(1000003L))).as("ids_checksum"))
        .orderBy(col("ordering_key"))
    },
    // A7 + J2/S6: end-to-end replay over the real written Avro blobs with
    // deterministic fault injection — per-blob fetch and deserialize
    // faults, per-record publish faults — counting outcomes by the
    // reference's three-stage taxonomy plus the delivered remainder.
    "q_replay_errors" -> { (s, dir) =>
      val wd = graft.streaming.PersistPipeline.ensureRun(s, dir)
      val records = graft.streaming.PersistPipeline.readRecords(s, wd)
      import graft.functions.TextFunctions.h60
      val out = Replay.replayWithFaults(idx(s, dir), records,
        fetchFault = pmod(h60(col("location_key")), lit(11L)) === 0,
        deserFault = pmod(h60(col("location_key")), lit(13L)) === 0,
        publishFault = pmod(h60(col("unique_id")), lit(17L)) === 0)
      out.errors.groupBy(col("reason")).agg(count(lit(1)).as("n"))
        .unionByName(out.delivered
          .agg(count(lit(1)).as("n"))
          .select(lit("delivered").as("reason"), col("n"))
          // the oracle's GROUP BY emits no 'delivered' group when nothing
          // survives; drop the 0-row so both sides stay row-identical
          .filter(col("n") > 0))
        .orderBy(col("reason"))
    },
    // A6: pipeline latency summary — exact p50/p90/p99 of ingestion lag
    // against the newest ingested message as the deterministic "now".
    "q_latency_metrics" -> { (s, dir) =>
      val i = idx(s, dir)
      val mx = i.agg(max(col("ingestion_time")).as("mx"))
      i.crossJoin(broadcast(mx))
        .withColumn("latency_sec",
          (unix_micros(col("mx")) - unix_micros(col("ingestion_time"))) / lit(1000000.0))
        .agg(
          count(lit(1)).as("n"),
          percentile(col("latency_sec"), lit(0.5)).as("p50"),
          percentile(col("latency_sec"), lit(0.9)).as("p90"),
          percentile(col("latency_sec"), lit(0.99)).as("p99"))
    },
    // -- event-time operators: sessions / windows / as-of ------------------
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.Sessions.sessionize(Tables(s, dir).events, "6 hours")
        .orderBy(col("user_id"), col("session_start"))),
    "q_window_agg" -> ((s, dir) =>
      graft.streaming.WindowAgg.tumblingCounts(Tables(s, dir).events, "1 day")
        .orderBy(col("window_start"), col("event_type"))),
    "q_window_hopping" -> ((s, dir) =>
      graft.streaming.WindowAgg.hoppingCounts(Tables(s, dir).events, "1 day", "6 hours")
        .orderBy(col("window_start"), col("event_type"))),
    // CDC-style latest row per user (map-side-combined max(struct), not a
    // full-shuffle row_number window)
    "q_latest_per_key" -> ((s, dir) =>
      graft.streaming.Maintenance.latestSnapshot(
        Tables(s, dir).events.select("user_id", "ts", "event_id", "event_type"),
        keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"))
        .orderBy(col("user_id"))),
    "q_asof_join" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      AsOfJoin.asOf(purchases, clicks,
        key = "user_id", leftTs = "purchase_ts", rightTs = "click_ts")
        .orderBy(col("purchase_id"))
    },
    // Last-touch attribution: purchases credit the latest strictly-earlier
    // click/view by the same user within a 6 h lookback; per-type tally.
    "q_attribution" -> ((s, dir) =>
      Analytics.lastTouchAttribution(Tables(s, dir).events,
        convType = "purchase", touchTypes = Seq("click", "view"),
        lookbackSec = 6L * 3600L)
        .orderBy(col("attr_type"))),
    // Interval join (batch mode of the stream-stream operator): every
    // click within 1 day before each purchase by the same user.
    "q_recent_context" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      graft.streaming.StreamJoin.withRecentContext(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts")),
        key = "user_id", leftTs = "purchase_ts", rightTs = "click_ts",
        lookback = "1 day")
        .orderBy(col("purchase_id"), col("click_id"))
    },
    // Range join: lineitem ship dates probed into overlapping 45-day
    // promo windows (one per order month) — bucketized, never a
    // nested-loop range product.
    "q_range_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      val promos = t.orders
        .select(trunc(to_date(col("o_orderdate")), "month").as("promo_start"))
        .distinct()
        .withColumn("promo_end", date_add(col("promo_start"), 45))
      val ships = t.lineitem
        .select(to_date(col("l_shipdate")).as("ship_date"), col("l_quantity"))
      RangeJoin.datesByBucket(ships, "ship_date", promos,
        "promo_start", "promo_end", bucketDays = 32)
        .groupBy(col("promo_start"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
        .orderBy(col("promo_start"))
    },
    // Sequence packing: chunks laid out in global order, cut into
    // 512-token training bins via the distributed prefix sum.
    "q_pack" -> ((s, dir) =>
      Curate.pack(Curate.chunk(Tables(s, dir).documents, 50, 30), 512)
        .orderBy(col("doc_id"), col("chunk_no"))),
    // Key-skew heavy hitters over the events stream (salting planner input).
    "q_key_skew" -> ((s, dir) =>
      Diagnostics.heavyHitters(Tables(s, dir).events, col("user_id"), 20)),
    "q_token_bpe" -> ((s, dir) =>
      TextAnalysis.tokenCountsBpe(Tables(s, dir).documents).orderBy(col("doc_id"))),
    // Vocabulary-id encoding (the training-prep step after tokenizer
    // induction): ids = top-20 vocab ranks, OOV → 0; n_oov is the
    // coverage metric a vocab size is tuned on.
    "q_token_ids" -> ((s, dir) =>
      TextAnalysis.encodeIds(Tables(s, dir).documents, topK = 20)
        .orderBy(col("doc_id"))),
    // BPE merge training, first rank (the iterative argmax is not
    // SQL-expressible beyond one unrolled step; TextOpsSpec checks deep
    // training against a JVM reference implementation).
    "q_bpe_merges" -> { (s, dir) =>
      import s.implicits._
      TextAnalysis.bpeTrain(Tables(s, dir).documents, 1).toDF()
    },
    // Stratified training-mix sampling: per-language keep rates.
    "q_sample_stratified" -> ((s, dir) =>
      Curate.sampleStratified(Tables(s, dir).documents, col("doc_id"), col("lang"),
        Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.1), "mix1")
        .select("doc_id", "lang")
        .orderBy(col("doc_id"))),
    // Target-proportion source mixing (weights are exact binary fractions
    // so the normalize/rate arithmetic replays bit-for-bit in DuckDB).
    "q_mix_sources" -> ((s, dir) =>
      Curate.mixToTarget(Tables(s, dir).documents, col("source"), col("doc_id"),
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25), "dommix")
        .select("doc_id", "source")
        .orderBy(col("doc_id"))),
    // Per-source corpus card: volume, token mass, dup exposure, dominant
    // language, and the p50-length bracket — the whole datasheet replays.
    "q_corpus_card" -> ((s, dir) =>
      Diagnostics.corpusCard(Tables(s, dir).documents)
        .orderBy(col("source"))),
    // Temperature mixing at τ=0.5: tail sources lifted, binding source
    // kept whole; sqrt keeps the frac derivation oracle-replayable.
    "q_mix_temperature" -> ((s, dir) =>
      Curate.mixTemperature(Tables(s, dir).documents, col("source"),
        col("doc_id"), temperature = 0.5, "temp5")
        .select("doc_id", "source")
        .orderBy(col("doc_id"))),
    "q_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionScores(Tables(s, dir).documents)
        .orderBy(col("doc_id"))),
    "q_redact" -> ((s, dir) =>
      Curate.redact(Tables(s, dir).documents).orderBy(col("doc_id"))),
    "q_winnow" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(Tables(s, dir).documents)
        .orderBy(col("doc_id"), col("fp"))),
    "q_winnow_fast" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(Tables(s, dir).documents, portableHash = false)
        .orderBy(col("doc_id"), col("fp"))),
    // -- LLM training-data pipeline: dedup over documents ------------------
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables(s, dir).documents).orderBy(col("doc_id"))),
    "q_dedup_fingerprint" -> ((s, dir) =>
      Dedup.fingerprint(Tables(s, dir).documents).orderBy(col("doc_id"))),
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir).documents, 0.6)
        .orderBy(col("doc_a"), col("doc_b"))),
    // Asymmetric near-dup: distinctive-shingle containment ≥ 0.5 on
    // either side — the quote/wholesale-inclusion pairs Jaccard dilutes.
    "q_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(Tables(s, dir).documents, tauPpm = 500000L, maxDf = 64L)
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLsh(Tables(s, dir).documents)
        .orderBy(col("doc_a"), col("doc_b"))),
    // Transitive duplicate clusters over the LSH pair graph (the step a
    // canonical-selection pass consumes); oracle = recursive closure.
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(Dedup.minHashLsh(Tables(s, dir).documents))
        .orderBy(col("doc_id"))),
    // Incremental maintenance replay: cluster HALF the mined pairs, then
    // merge the other half as a "new batch" — the final labels must equal
    // one-shot clustering of everything (same oracle as q_dedup_clusters).
    "q_dedup_clusters_inc" -> ((s, dir) => {
      // checkpoint: both halves filter the SAME mined pairs — without it
      // the LSH miner runs once per clusters() call
      val pairs = operators.Pins.pin(Dedup.minHashLsh(Tables(s, dir).documents)
        .select("doc_a", "doc_b"))
      val first = Dedup.clusters(pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 0))
      Dedup.mergeClusters(first, pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 1))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(Tables(s, dir).documents, 2)
        .orderBy(col("doc_a"), col("doc_b"))),
    // Pair-miner agreement measurement: how well hamming ≤ 2 SimHash
    // pairs approximate the exact J ≥ 0.6 ground truth — the tuning
    // readout a dedup pass is accepted on.
    "q_dedup_pair_pr" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Dedup.pairAgreement(
        Dedup.simHashPairs(docs, 2),
        Dedup.ngramJaccardPairs(docs, threshold = 0.6))
    },
    // The contract-shaped form: ground truth mined on the reproducible
    // h60 half-sample, so the exact miner's superlinear cost is bounded
    // by the sampling knob (the full-corpus row above stays as the
    // correctness anchor; the bench times THIS one).
    "q_dedup_pair_pr_sampled" -> { (s, dir) =>
      Dedup.pairAgreementSampled(Tables(s, dir).documents, 0.5, "prs1",
        d => Dedup.simHashPairs(d, 2),
        d => Dedup.ngramJaccardPairs(d, threshold = 0.6))
    },
    // Paragraph-level exact dedup (content-defined boundaries, keep-first
    // corpus-wide); avgTokens=4 so the tiny-vocab corpus has real repeats.
    "q_dedup_paragraph" -> ((s, dir) =>
      Dedup.paragraphDedup(Tables(s, dir).documents, avgTokens = 4)
        .orderBy(col("doc_id"))),
    // Boilerplate removal (RefinedWeb line rule at paragraph granularity):
    // a paragraph in >2 distinct docs is dropped from EVERY doc — the
    // complement of keep-first dedup above, same content-defined split.
    "q_boilerplate_paragraphs" -> ((s, dir) =>
      Dedup.boilerplateParagraphs(Tables(s, dir).documents,
        avgTokens = 4, maxDf = 2)
        .orderBy(col("doc_id"))),
    // Exact-substring span dedup: remove every repeated ≥8-token run
    // corpus-wide, keep-first (the ExactSubstr pass at window granularity).
    "q_dedup_substring" -> ((s, dir) =>
      Dedup.substringDedup(Tables(s, dir).documents, k = 8)
        .orderBy(col("doc_id"))),
    // Per-eval-doc contamination report: shingle hit ratio + exact twins.
    "q_contamination_report" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Curate.contaminationReport(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 97 === 1))
        .orderBy(col("eval_id"))
    },
    // Canonical selection by quality: each dup cluster keeps its longest
    // member (ties → min id) via the skew-safe salted argmax.
    "q_dedup_canonical" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Dedup.canonicalByScore(
        Dedup.clusters(Dedup.minHashLsh(docs)),
        docs.select(col("doc_id"), col("n_chars").as("score")))
        .orderBy(col("doc_id"))
    },
    // Incremental-crawl dedup: new docs (odd ids) dropped when a verified
    // J ≥ 0.6 twin exists in the kept reference corpus (even ids).
    "q_dedup_against" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Dedup.dedupAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
        .select("doc_id").orderBy(col("doc_id"))
    },
    // MOSS-style partial-copy pairs: shared winnowing fingerprints with
    // boilerplate fingerprints (df > maxDf) dropped before enumeration.
    "q_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(Tables(s, dir).documents,
        minShared = 3L, maxDf = 16L)
        .orderBy(col("doc_a"), col("doc_b"))),
    // Source-level exact shingle-Jaccard matrix — which FEEDS duplicate
    // each other, read before any document-level mining is spent on them.
    "q_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(Tables(s, dir).documents)
        .orderBy(col("src_a"), col("src_b"))),
    // The sketch twin: k-min-values per source (k=128), pairwise Jaccard
    // ESTIMATES from sketches alone — the constant-state form of the
    // exact matrix above; gate one against the other at test scale.
    "q_source_kmv" -> ((s, dir) =>
      Dedup.kmvOverlap(Dedup.sourceKmv(Tables(s, dir).documents, 128), 128)
        .orderBy(col("src_a"), col("src_b"))),
    // KMV's cardinality readout (k=16, saturated at sf0.01 so the
    // estimator is live): distinct-shingle estimates per source in exact
    // integer arithmetic — the estimate ITSELF replays cross-engine.
    "q_kmv_cardinality" -> ((s, dir) =>
      Dedup.kmvCardinality(Dedup.sourceKmv(Tables(s, dir).documents, 16), 16)
        .orderBy(col("source"))),
    // Dedup-savings datasheet: duplicate-cluster sizes bucketed by
    // floor(log2), redundant-doc mass per bucket.
    "q_dedup_savings" -> ((s, dir) =>
      Dedup.dedupSavings(Dedup.minHashLsh(Tables(s, dir).documents))
        .orderBy(col("bucket"))),
    // Exact edit-distance near-dup pairs: ED-Join prefix filter (each
    // doc indexes its d*q+1 RAREST occurrence-tagged q-grams) → posting
    // equi-join → exact levenshtein ≤ d. Complete over docs of length
    // ≥ (d+1)*q — the whole documents table here (min length 47).
    "q_dedup_edit" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables(s, dir).documents, d = 8, q = 4)
        .orderBy(col("doc_a"), col("doc_b"))),
    // Incremental-crawl twin: odd-id batch mined against the even-id kept
    // corpus; kept-side token df is the shared prefix order, unseen
    // tokens df 0 (novel grams fill the batch prefix first).
    "q_dedup_edit_against" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Dedup.editDistanceAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), d = 8, q = 4)
        .orderBy(col("doc_id"), col("kept_id"))
    },
    // Short-doc companion: all-pairs over the length class a (d=5, q=16)
    // prefix-filter run excludes (length < 96), as a ±1 length-bucket
    // equi-join + the shared two-stage verify — quadratic only within a
    // bucket of the short class, never across the corpus.
    "q_dedup_edit_short" -> ((s, dir) =>
      Dedup.editDistanceShortPairs(Tables(s, dir).documents, d = 5, q = 16)
        .orderBy(col("doc_a"), col("doc_b"))),
    // Straddle-band miner closing the length partition: q_dedup_edit and
    // q_dedup_edit_short both filter BOTH sides, so a pair straddling the
    // (d+1)*q = 96 boundary is in neither class — this mines the width-5
    // bands on either side. Natural straddles are rare at small SF, so
    // the corpus is augmented with deterministic prefix-truncation
    // variants (93- and 97-char prefixes of every 17th long doc, ids
    // offset into a vacant range): each variant pair is a planted ED-4
    // straddle the oracle derives identically.
    "q_dedup_edit_boundary" -> { (s, dir) =>
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val seeds = docs.filter(
        length(col("text")) >= 120 && col("doc_id") % 17 === 3)
      val planted = seeds.select((col("doc_id") + 10000000L).as("doc_id"),
          substring(col("text"), 1, 93).as("text"))
        .unionAll(seeds.select((col("doc_id") + 20000000L).as("doc_id"),
          substring(col("text"), 1, 97).as("text")))
      Dedup.editDistanceBoundaryPairs(docs.unionAll(planted), d = 5, q = 16)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // Bipartite complement of q_dedup_edit_against for the short side:
    // every odd-batch/even-kept pair within ED <= 5 where at least one
    // side is under (d+1)*q = 96 chars — union with the main bipartite
    // miner is the full crawl-wave pair universe.
    "q_dedup_edit_short_against" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Dedup.editDistanceShortAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), d = 5, q = 16)
        .orderBy(col("doc_id"), col("kept_id"))
    },
    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-25
    // (Bm25Terms) with the cosine top-25 around anchor vec 0 — integer
    // ppm contributions so the fused ORDER replays cross-engine.
    "q_rrf_fusion" -> { (s, dir) =>
      val t = Tables(s, dir)
      // ≤ 25-row result of bm25TopK: the global rank window is bounded
      val wLex = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val lex = TextAnalysis.bm25TopK(t.documents, Bm25Terms, k = 25)
        .withColumn("rank", row_number().over(wLex).cast("long"))
      val sem = Similarity.bruteForceTopK(t.embeddings, col("vec_id") === 0, 25)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(lex, sem, "doc_id", kRrf = 60, topK = 10)
        .orderBy(col("fused_rank"))
    },
    // -- similarity search over embeddings ---------------------------------
    "q_topk_cosine" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables(s, dir).embeddings, col("vec_id") % 50 === 0, 5)
        .orderBy(col("query_id"), col("rank"))),
    "q_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(Tables(s, dir).embeddings, col("vec_id") % 50 === 0, 5)
        .orderBy(col("query_id"), col("rank"))),
    // ANN acceptance gate: recall@5 of the SRP-IVF index against the
    // brute-force baseline on the same probe set — the tuning measurement
    // an index is accepted on before a corpus-wide sweep trusts it.
    "q_ann_recall" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val pred = col("vec_id") % 50 === 0
      Similarity.recallAtK(
        Similarity.ivfTopK(emb, pred, 5),
        Similarity.bruteForceTopK(emb, pred, 5), 5)
        .orderBy(col("query_id"))
    },
    // Learned-quantizer IVF at nprobe == numCells: an exact full scan by
    // construction, so the brute-force oracle gates the entire k-means
    // train + assign + multi-probe machinery (any drift → hash mismatch).
    "q_ivf_kmeans" -> ((s, dir) =>
      Similarity.ivfTopKKmeans(Tables(s, dir).embeddings, col("vec_id") % 50 === 0, 5,
        numCells = 8, iters = 2, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))),
    // The production index lifecycle: train once, persist centroids +
    // cell stats to parquet, reload in a (conceptually) different session,
    // serve with the RESTORED quantizer. At nprobe == numCells the probe
    // is an exact scan, so the brute-force oracle gates the whole
    // save→load→serve path — any bit drift through parquet would move a
    // cell assignment or a cosine and mismatch the hash.
    "q_ivf_stored" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2)
      val wd = workDir("ann", dir)
      Similarity.saveIvfIndex(s, wd, cents, Some(Similarity.cellStats(emb, cents)))
      Similarity.ivfTopKWithCentroids(emb, col("vec_id") % 50 === 0, 5,
        Similarity.loadIvfCentroids(s, wd), nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
    // The full stored-index serve lifecycle: assign cells ONCE, persist
    // PARTITIONED BY cell, restore, and serve with the probed-cell
    // partition filter — q_ivf_stored's centroid round-trip plus the
    // assigned-corpus half that makes serving read only probed cells.
    // nprobe = numCells, so the oracle is the exact top-k scan (no
    // kmeans assignment replayed in DuckDB — the q_ivf_stored trick);
    // partial-probe equivalence to the in-line form is spec-proven.
    "q_ivf_assigned" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2)
      val wd = workDir("annasg", dir)
      Similarity.saveIvfIndex(s, wd, cents)
      Similarity.saveIvfAssigned(s, wd, Similarity.assignIvfCells(emb, cents), cents)
      // the load verifies the restored quantizer against the store stamp
      val restored = Similarity.loadIvfCentroids(s, wd)
      Similarity.ivfTopKAssigned(Similarity.loadIvfAssigned(s, wd, restored),
        col("vec_id") % 50 === 0, 5, restored, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
    // Deletion THROUGH the assigned store: build v1, delete vec_id%5==2
    // into a v2 store version, serve v2 at nprobe = numCells (exact scan
    // over the survivors) with the one-row tombstone audit cross-joined —
    // store-delete ≡ a from-scratch build of the surviving corpus, and
    // the Σ h60(vec_id) mod 1000003 erasure fingerprint replays in SQL.
    // (Query ids are multiples of 50 ≡ 0 mod 5, so no query is deleted.)
    "q_ann_delete" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2)
      val wd = workDir("anndel", dir)
      Similarity.saveIvfAssigned(s, s"$wd/v1",
        Similarity.assignIvfCells(emb, cents), cents)
      val audit = Similarity.deleteFromIvfAssigned(
        s, s"$wd/v1", s"$wd/v2", col("vec_id") % 5 === 2, cents)
      Similarity.ivfTopKAssigned(Similarity.loadIvfAssigned(s, s"$wd/v2", cents),
        col("vec_id") % 50 === 0, 5, cents, nprobe = 8)
        .transform(withDeleteAudit(audit))
        .orderBy(col("query_id"), col("rank"))
    },
    // Retrain-and-rewrite for a drifted quantizer: train on the even half,
    // accrete the odd half as a batch (stats merged per the streaming
    // maintenance shape), refresh centroids from the accumulated cellStats
    // state, rewrite as a v2 store, and serve v2 at nprobe = numCells —
    // the exact-scan oracle gates the whole refresh+rewrite (any row lost
    // or embedding damaged by the rewrite mismatches the hash); partial-
    // probe equivalence to an in-line serve under the refreshed quantizer
    // is spec-proven.
    "q_ivf_retrain" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val half = emb.filter(col("vec_id") % 2 === 0)
      val batch = emb.filter(col("vec_id") % 2 === 1)
      val cents = Similarity.kmeansCentroids(half, numCells = 8, iters = 2)
      val wd = workDir("annret", dir)
      // the index (centroids + stats) and assigned-corpus halves of the
      // v1 build write disjoint files from the same inputs — overlapped
      // (guide §2.6), each thread recomputing its own half-scan (the r17
      // pin-vs-recompute lesson: no shared pin for a cheap fused pass)
      graft.operators.Par.run(
        () => Similarity.saveIvfIndex(s, s"$wd/v1", cents,
          Some(Similarity.cellStats(half, cents))),
        () => Similarity.saveIvfAssigned(s, s"$wd/v1",
          Similarity.assignIvfCells(half, cents), cents))
      // the batch accretion touches only assigned files; the stats merge
      // reads and rewrites only cell_stats — disjoint, overlapped too
      graft.operators.Par.run(
        () => Similarity.appendIvfAssigned(s, s"$wd/v1", batch, cents),
        () => {
          // merge the batch's assignment state into the stored stats — a
          // real localCheckpoint, not Pins.pin: the re-persist overwrites
          // the very cell_stats files the merge reads, so lineage
          // truncation is load-bearing (audits included); the table is
          // cells×dim rows
          val merged = Similarity.mergeCellStats(
            Similarity.loadCellStats(s, s"$wd/v1"),
            Similarity.cellStats(batch, cents)).localCheckpoint()
          Similarity.saveIvfIndex(s, s"$wd/v1", cents, Some(merged))
          Pins.release(merged)
        })
      val next = Similarity.retrainIvfStore(s, s"$wd/v1", s"$wd/v2")
      Similarity.ivfTopKAssigned(Similarity.loadIvfAssigned(s, s"$wd/v2", next),
        col("vec_id") % 50 === 0, 5, next, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
    // Truncated-dimension (matryoshka) acceptance gate: recall@5 of the
    // first-32-of-64-dims ranking vs the full-dimension exact baseline —
    // the q_ann_recall measurement for the dimension-cut scale lever.
    "q_matryoshka_recall" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val pred = col("vec_id") % 50 === 0
      Similarity.recallAtK(
        Similarity.truncatedTopK(emb, pred, 5, dims = 32),
        Similarity.bruteForceTopK(emb, pred, 5), 5)
        .orderBy(col("query_id"))
    },
    // kNN pseudo-labeling: non-seed vectors take the majority label of
    // their 5 nearest seed vectors (every 5th id) in their SRP cell.
    "q_knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(Tables(s, dir).embeddings,
        col("vec_id") % 5 === 0, k = 5)
        .orderBy(col("vec_id"))),
    // Two-round synchronous label propagation: round 1 = knnClassify,
    // round 2 re-votes each probe over its 5 nearest LABELED neighbors'
    // current labels (seeds clamped).
    "q_label_prop" -> ((s, dir) =>
      Similarity.labelPropagate(Tables(s, dir).embeddings,
        col("vec_id") % 5 === 0, k = 5)
        .orderBy(col("vec_id"))),
    "q_near_dup_embeddings" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables(s, dir).embeddings, 0.35)
        .orderBy(col("vec_a"), col("vec_b"))),
    // Embedding-side decontamination: SRP-LSH bipartite candidates, exact
    // cosine verify, broadcast eval side — the leakage catch n-grams miss.
    "q_decontaminate_semantic" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      Similarity.decontaminateSemantic(
        emb.filter(col("vec_id") % 3 =!= 0),
        emb.filter(col("vec_id") % 97 === 1), tau = 0.35)
        .select("vec_id").orderBy(col("vec_id"))
    },
    // -- multimodal binary columns over documents ---------------------------
    "q_media_meta" -> ((s, dir) =>
      Multimodal.withMediaMeta(Multimodal.mediaFromDocuments(Tables(s, dir).documents))
        .select("doc_id", "mime", "n_bytes", "magic_hex", "checksum")
        .orderBy(col("doc_id"))),
    "q_media_frames" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.mediaFromDocuments(Tables(s, dir).documents),
        frameBytes = 64, stride = 4)
        .select("doc_id", "frame_no", "n_frames", "frame_md5")
        .orderBy(col("doc_id"), col("frame_no"))),
    // Media near-dup by shared frame fingerprints (re-encoded/trimmed
    // copies keep frames bit-identical): ≥2 shared 16-byte frames, frames
    // in >4 payloads dropped as boilerplate (and as the skew valve).
    "q_media_shared_frames" -> ((s, dir) =>
      Multimodal.sharedFramePairs(
        Multimodal.mediaFromDocuments(Tables(s, dir).documents),
        frameBytes = 16, stride = 1, minShared = 2, maxDf = 4)
        .orderBy(col("doc_a"), col("doc_b"))),
    // Perceptual near-dup: byte-band aHash (all-integer bit decisions, so
    // the 16-bit fingerprint replays bit-for-bit in SQL), bit-banded LSH
    // candidates, exact popcount verify ≤ radius — catches re-encoded
    // copies whose frames are no longer bit-identical.
    "q_media_ahash" -> ((s, dir) =>
      Multimodal.perceptualHashPairs(
        Multimodal.mediaFromDocuments(Tables(s, dir).documents),
        bands = 16, groups = 4, radius = 3, maxDf = 8)
        .orderBy(col("doc_a"), col("doc_b"))),
    // The stub codec is deterministic arithmetic over the payload byte
    // length (all-ASCII text ⇒ octet_length), so even the mapPartitions
    // decode path gets a full SQL oracle — swap in a real codec and this
    // reverts to a rows-only check.
    "q_media_decode" -> ((s, dir) =>
      Multimodal.Decode.features(Multimodal.mediaFromDocuments(Tables(s, dir).documents))
        .select(Seq(col("doc_id"), col("mime"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          size(col("features")).cast("long").as("n_features")) ++
          // the stub features themselves: band byte-means are pure integer
          // sums + IEEE divisions over the all-ASCII payload, so even the
          // "decode" output replays bit-for-bit (float-rounded in both
          // engines by the double→float cast)
          (0 until 8).map(i =>
            element_at(col("features"), i + 1).as(s"feat_$i")): _*)
        .orderBy(col("doc_id"))),
    // S4/S5 location-key parsing, column-side (plan-resolved, no driver trips)
    "q_location_parse" -> { (s, dir) =>
      import graft.sources.Locations
      idx(s, dir).select(col("location_key")).distinct()
        .withColumn("abs_key",
          regexp_replace(col("location_key"), "^gs://",
            "https://acct.blob.core.windows.net/"))
        .withColumn("g", Locations.parsed(col("location_key")))
        .withColumn("a", Locations.parsed(col("abs_key")))
        .select(col("location_key"),
          col("g.scheme").as("g_scheme"), col("g.bucket").as("g_bucket"),
          col("g.object_path").as("g_path"),
          col("g.spark_path").as("g_spark_path"),
          col("a.scheme").as("a_scheme"), col("a.bucket").as("a_bucket"),
          col("a.object_path").as("a_path"),
          col("a.spark_path").as("a_spark_path"))
        .orderBy(col("location_key"))
    },
    // -- corpus curation: chunk / sample / shuffle / curate -----------------
    "q_chunk" -> ((s, dir) =>
      Curate.chunk(Tables(s, dir).documents, windowTokens = 50, strideTokens = 30)
        .withColumn("chunk_start", col("chunk_start").cast("long"))
        .orderBy(col("doc_id"), col("chunk_no"))),
    "q_sample_hash" -> ((s, dir) =>
      Curate.sampleByHash(Tables(s, dir).documents, col("doc_id"), 0.2, "split1")
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))),
    "q_shuffle_order" -> ((s, dir) =>
      Curate.withShuffleKey(Tables(s, dir).documents, col("doc_id"), "epoch0")
        .select("doc_id", "shuffle_key")
        .orderBy(col("shuffle_key"), col("doc_id"))),
    "q_sample_exact_n" -> ((s, dir) =>
      Curate.sampleExactN(Tables(s, dir).documents, col("doc_id"), 500, "exact1")
        .select("doc_id", "sample_rank")
        .orderBy(col("sample_rank"))),
    // Balanced per-class cut: exactly min(60, |lang|) docs per language by
    // deterministic h60 rank — the skew-safe two-stage form, never a
    // per-language single window task.
    "q_sample_per_lang" -> ((s, dir) =>
      Curate.sampleExactPerKey(Tables(s, dir).documents,
        col("lang"), col("doc_id"), n = 60, salt = "balance")
        .orderBy(col("lang"), col("sample_rank"))),
    // Epoch/repeat upsampling: src0 seen 2.5×, src2 3×, src1 downsampled
    // to 0.4×, everything else exactly once — one generate, zero shuffle.
    "q_repeat_upsample" -> ((s, dir) =>
      Curate.repeatUpsample(Tables(s, dir).documents, col("source"),
        col("doc_id"), Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 3.0), "rep1")
        .select("doc_id", "source", "rep_no")
        .orderBy(col("doc_id"), col("rep_no"))),
    // Deterministic shard layout: hash shard + reproducible within-shard
    // shuffle position (the final training-file write plan).
    "q_shards" -> ((s, dir) =>
      Layout.assignShards(Tables(s, dir).documents, col("doc_id"), 8, "sh1")
        .select("doc_id", "shard_no", "shard_pos")
        .orderBy(col("doc_id"))),
    // Release manifest per shard: counts, token mass, and the
    // order-independent mod-prime fingerprint a reader re-derives.
    "q_shard_manifest" -> { (s, dir) =>
      import graft.functions.TextFunctions.tokens
      val docs = Tables(s, dir).documents
      Layout.shardManifest(
        Layout.assignShards(docs, col("doc_id"), 8, "sh1"),
        col("doc_id"), size(tokens(col("text"))))
        .orderBy(col("shard_no"))
    },
    // Release diff between two corpus snapshots: per source, added /
    // removed / changed / unchanged keyed rows — v2 drops a different
    // doc_id stripe than v1 and rewrites the %11 stripe's text.
    "q_corpus_diff" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val v1 = docs.filter(col("doc_id") % 5 =!= 4)
      val v2 = docs.filter(col("doc_id") % 7 =!= 6)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.streaming.Maintenance.corpusDiff(v1, v2, "doc_id", "text", "source")
        .orderBy(col("g"))
    },
    // Shard-skipping Bloom index: the per-(shard, word) filter table
    // itself, rebuilt bit-for-bit by any engine.
    "q_shard_bloom" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Layout.shardBloomIndex(
        Layout.assignShards(docs, col("doc_id"), 8, "sb1"),
        col("doc_id"), m = 1024)
        .orderBy(col("shard_no"), col("word_idx"))
    },
    // Point-lookup pruning readout over the Bloom index: member probes
    // ALWAYS include their true shard (no false negatives); absent keys
    // prune most shards (false positives only cost extra reads).
    "q_bloom_prune" -> { (s, dir) =>
      import graft.functions.TextFunctions.h60
      val docs = Tables(s, dir).documents
      val bloom = Layout.shardBloomIndex(
        Layout.assignShards(docs, col("doc_id"), 8, "sb1"),
        col("doc_id"), m = 1024)
      val members = docs.filter(col("doc_id") % 101 === 0).select("doc_id")
      val probes = members
        .select(col("doc_id").cast("string").as("probe_key"),
          lit(true).as("is_member"),
          pmod(h60(concat(col("doc_id").cast("string"), lit("|shard|sb1"))),
            lit(8L)).as("true_shard"))
        .unionByName(members.select(
          (col("doc_id") + 1000000000L).cast("string").as("probe_key"),
          lit(false).as("is_member"), lit(-1L).as("true_shard")))
      val cand = Layout.pruneShards(bloom, probes, col("probe_key"), m = 1024)
      probes.join(cand, Seq("probe_key"), "left")
        .groupBy(col("probe_key"), col("is_member"), col("true_shard"))
        .agg(count(col("shard_no")).as("n_candidates"),
          max(when(col("shard_no") === col("true_shard"), lit(1L))
            .otherwise(lit(0L))).as("inc"))
        .select(col("probe_key"), col("is_member"), col("true_shard"),
          col("n_candidates"), (col("inc") === 1L).as("includes_true"))
        .orderBy(col("probe_key"))
    },
    "q_curated" -> ((s, dir) =>
      Curate.curated(Tables(s, dir).documents).orderBy(col("doc_id"))),
    // Provenance audit: every doc labeled with its FIRST failing gate
    // (lang → min_tokens → stopword_ratio → duplicate → kept).
    "q_curation_audit" -> ((s, dir) =>
      Curate.curationAudit(Tables(s, dir).documents).orderBy(col("doc_id"))),
    // Token-denominated mixture plan: per-source mass, target tokens, and
    // keep ratio from integer ppm weights (capacity bound by the scarcest
    // weighted source) — all exact DECIMAL arithmetic.
    "q_token_mix_plan" -> ((s, dir) =>
      Curate.tokenMixPlan(Tables(s, dir).documents,
        Map("src0" -> 500000L, "src1" -> 250000L, "src2" -> 250000L))
        .orderBy(col("source"))),
    "q_split_assign" -> ((s, dir) =>
      Curate.assignSplit(Tables(s, dir).documents, col("doc_id"), "v1",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("split"))),
    // Leakage-safe split: the split key is the near-dup CLUSTER root, so
    // no mined pair ever straddles train/eval; unpaired docs hash exactly
    // as q_split_assign does (cluster_id = doc_id).
    "q_split_by_cluster" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Curate.splitByCluster(docs, col("doc_id"),
        Dedup.clusters(Dedup.minHashLsh(docs)), "v1",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "cluster_id", "split")
        .orderBy(col("doc_id"))
    }),
    "q_decontaminate" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Curate.decontaminate(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
        .select("doc_id").orderBy(col("doc_id"))
    },
    // N-gram-level eval decontamination (any shared 3-gram drops the doc).
    "q_decontaminate_ngram" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Curate.decontaminateNgram(
        docs.filter(col("doc_id") % 2 === 0),
        // a realistic-sized eval set (~2% of docs) so the gate actually
        // discriminates: the 50% split shares a 3-gram with everything
        docs.filter(col("doc_id") % 50 === 1))
        .select("doc_id").orderBy(col("doc_id"))
    },
    // Deterministic token-budget selection in reproducible shuffle order.
    "q_token_budget" -> ((s, dir) =>
      Curate.takeTokenBudget(Tables(s, dir).documents, 20000L, "budget1")
        .select("doc_id").orderBy(col("doc_id"))),
    // -- per-label embedding centroids (exploded to scalars for the oracle) --
    "q_centroids" -> ((s, dir) =>
      Similarity.centroids(Tables(s, dir).embeddings, col("label"))
        .select(col("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("dim", "m")))
        .withColumn("dim", col("dim").cast("long"))
        .orderBy(col("label"), col("dim"))),
    // int8 quantization summarized to exact scalars (sum/max of codes)
    "q_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables(s, dir).embeddings)
        .select(col("vec_id"), col("mn"), col("scale"),
          aggregate(col("codes"), lit(0L), _ + _).as("code_sum"),
          array_max(col("codes")).as("code_max"))
        .orderBy(col("vec_id"))),
    // -- text analysis over documents ---------------------------------------
    "q_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables(s, dir).documents).orderBy(col("doc_id"))),
    "q_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScores(Tables(s, dir).documents).orderBy(col("doc_id"))),
    // Gopher rule battery as per-rule integer flags + conjunction;
    // thresholds tightened vs the published defaults so every rule
    // discriminates on the synthetic corpus (all-integer comparisons).
    "q_quality_gopher" -> ((s, dir) =>
      TextAnalysis.gopherGate(Tables(s, dir).documents,
        minWords = 20, maxWords = 90, minMwlTenths = 40, maxMwlTenths = 50,
        alphaPct = 80, minStopDistinct = 1, ttrPct = 40)
        .orderBy(col("doc_id"))),
    "q_text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(Tables(s, dir).documents).orderBy(col("doc_id"))),
    "q_text_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables(s, dir).documents).orderBy(col("doc_id"))),
    "q_vocabulary" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables(s, dir).documents, topK = 100)
        .orderBy(col("n_occurrences").desc, col("token"))),
    // Unigram-LM quality scoring; the hash-checked projection is the
    // integer-exact core + pure ratios (avg_logprob is ln-based — engine
    // libm variance — and deliberately not oracle-compared).
    "q_unigram_lm" -> ((s, dir) =>
      TextAnalysis.unigramScores(Tables(s, dir).documents, rareMax = 2L)
        .select("doc_id", "n_tokens", "c_sum", "n_rare",
          "mean_token_prob", "rare_ratio")
        .orderBy(col("doc_id"))),
    // In-engine trained logistic quality classifier: deterministic batch
    // GD (exact DECIMAL gradient sums), learned weights stashed for the
    // oracle; hashed surrogate is the bit-replayable margin, the sigmoid
    // stays engine-side (exp() is not correctly-rounded across libms).
    "q_quality_classifier" -> { (s, dir) =>
      val lf = Classify.labeledFeatures(Tables(s, dir).documents)
        .localCheckpoint() // 8 training passes re-read this, not the join
      val w = Classify.trainLogistic(lf, Classify.featureVector, col("label"),
        lr = 16.0, iters = 16)
      clsWeightsStash = Some(w)
      Classify.scoreLogistic(lf, Classify.featureVector, w)
        .select("doc_id", "label", "margin", "pred")
        .orderBy(col("doc_id"))
    },
    // Bigram-LM perplexity scoring; integer-exact surrogates hashed, the
    // float avg_logprob/ppl stay engine-side (the unigram_lm convention).
    "q_bigram_lm" -> ((s, dir) =>
      bigramScoresShared(s, dir)
        .select("doc_id", "n_pairs", "sum_c2", "min_c2", "n_hapax",
          "mean_pair_prob")
        .orderBy(col("doc_id"))),
    // CCNet head/middle/tail: exact distributed NTILE(3) over LM quality
    // (no one-task global window — ranks via range-partition prefix sums).
    "q_quality_buckets" -> ((s, dir) =>
      Diagnostics.ntileExact(
        bigramScoresShared(s, dir)
          .select(col("doc_id"), col("n_pairs"), col("mean_pair_prob")),
        Seq(col("mean_pair_prob").desc, col("doc_id")), 3)
        .orderBy(col("doc_id"))),
    // TF-IDF keywords; integer-exact rank (tf DESC, df ASC, token) so row
    // selection replays bit-for-bit; the float tfidf column stays engine-side.
    "q_keywords" -> ((s, dir) =>
      TextAnalysis.keywords(Tables(s, dir).documents, topK = 5)
        .select(col("doc_id"), col("rank").as("rnk"), col("token"),
          col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rnk"))),
    // BM25 top-k lexical retrieval — integer-exact Okapi weighting with a
    // log-free rational idf (TextAnalysis.bm25TopK scaladoc); score is an
    // exact BIGINT so ranking and hash both replay cross-engine.
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(Tables(s, dir).documents, Bm25Terms, k = 25)
        .orderBy(col("score").desc, col("doc_id"))),
    // The lexical index lifecycle (q_ivf_stored's retrieval twin): build
    // postings + doclen once, persist to parquet, reload, serve — the
    // brute-force corpus oracle gates the whole store→load→serve path.
    "q_bm25_stored" -> { (s, dir) =>
      val wd = workDir("bm25", dir)
      TextAnalysis.saveBm25Index(s, wd, Tables(s, dir).documents)
      val (postings, doclen) = TextAnalysis.loadBm25Index(s, wd)
      // the stored 1-row stats sidecar feeds N/avg-dl — its values are
      // gated by this query's hash (identical scores require identical
      // corpus statistics)
      TextAnalysis.bm25TopKFromIndex(postings, doclen, Bm25Terms, k = 25,
        stats = TextAnalysis.loadBm25Stats(s, wd))
        .orderBy(col("score").desc, col("doc_id"))
    },
    // Deletion THROUGH the postings store: build v1, delete doc_id%7==3
    // into a v2 store version, serve v2 with the one-row tombstone audit
    // cross-joined. df/N/avg-dl derive at serve time from the stored
    // tables, so store-delete ≡ a from-scratch index of the surviving
    // corpus — the oracle replays the survivors' BM25 hash-exactly plus
    // the Σ h60(doc_id) mod 1000003 erasure fingerprint.
    "q_bm25_delete" -> { (s, dir) =>
      val wd = workDir("bm25del", dir)
      TextAnalysis.saveBm25Index(s, s"$wd/v1", Tables(s, dir).documents)
      val audit = TextAnalysis.deleteFromBm25Index(
        s, s"$wd/v1", s"$wd/v2", col("doc_id") % 7 === 3)
      val (postings, doclen) = TextAnalysis.loadBm25Index(s, s"$wd/v2")
      // v2's rewritten stats sidecar (survivor N/avg-dl) gates the serve
      TextAnalysis.bm25TopKFromIndex(postings, doclen, Bm25Terms, k = 25,
        stats = TextAnalysis.loadBm25Stats(s, s"$wd/v2"))
        .transform(withDeleteAudit(audit))
        .orderBy(col("score").desc, col("doc_id"))
    },
    // Batch retrieval: top-10 per query for a table of term-bag queries,
    // salted per-query top-k (decontamination-by-retrieval shape).
    "q_bm25_multi" -> { (s, dir) =>
      import s.implicits._
      val qs = Bm25Queries.toDF("query_id", "terms")
      TextAnalysis.bm25PerQuery(Tables(s, dir).documents, qs, k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    // The same batch retrieval served from the persisted postings store
    // (term buckets pruned, nothing re-tokenized) — identical ranking by
    // construction, so the q_bm25_multi oracle replays it verbatim.
    "q_bm25_multi_stored" -> { (s, dir) =>
      import s.implicits._
      val wd = workDir("bm25m", dir)
      TextAnalysis.saveBm25Index(s, wd, Tables(s, dir).documents)
      val (postings, doclen) = TextAnalysis.loadBm25Index(s, wd)
      val qs = Bm25Queries.toDF("query_id", "terms")
      TextAnalysis.bm25PerQueryFromIndex(postings, doclen, qs, k = 10,
        stats = TextAnalysis.loadBm25Stats(s, wd))
        .orderBy(col("query_id"), col("rnk"))
    },
    // Term-BAG retrieval: repeated query terms multiply their weight
    // (classic qtf emphasis) — the queries here repeat terms on purpose,
    // so the gate fails if multiplicity is dropped anywhere.
    "q_bm25_weighted" -> { (s, dir) =>
      import s.implicits._
      val qs = Bm25WeightedQueries.toDF("query_id", "terms")
      TextAnalysis.bm25PerQuery(Tables(s, dir).documents, qs, k = 10,
        weighted = true)
        .orderBy(col("query_id"), col("rnk"))
    },
    // Forward skip-gram co-occurrence (window 3, count floor 100) — the
    // word2vec training-pair statistic.
    "q_skipgram" -> ((s, dir) =>
      TextAnalysis.skipgramCounts(Tables(s, dir).documents,
        window = 3, minCount = 100L)
        .orderBy(col("w1"), col("w2"))),
    // PPMI collocations on the skip-gram table: exact integer ratio
    // (monotone surrogate of PPMI — ln-free, so near-tie ranks replay).
    "q_ppmi" -> ((s, dir) =>
      TextAnalysis.ppmiPairs(Tables(s, dir).documents,
        window = 3, minCount = 30L, topK = 50)),
    // Curriculum interleave: NTILE(4) difficulty buckets over the bigram
    // LM score, round-robined into one global 0-based training order.
    "q_curriculum" -> ((s, dir) =>
      Diagnostics.curriculumInterleave(
        bigramScoresShared(s, dir)
          .select(col("doc_id"), col("n_pairs"), col("mean_pair_prob")),
        Seq(col("mean_pair_prob").desc, col("doc_id")), 4)
        .orderBy(col("pos"))),
    // Phrase-filtered BM25 over positional postings: exact consecutive
    // "stream window", scored by the terms, occurrence count carried.
    "q_phrase_bm25" -> ((s, dir) =>
      TextAnalysis.phraseTopK(Tables(s, dir).documents,
        Seq("stream", "window"), k = 20)),
    // The same phrase query served from the persisted positional index
    // (term buckets pruned, nothing re-tokenized) — identical occurrences
    // and ranking, so the q_phrase_bm25 oracle replays it verbatim.
    "q_phrase_stored" -> { (s, dir) =>
      val wd = workDir("bm25p", dir)
      TextAnalysis.saveBm25Positional(s, wd, Tables(s, dir).documents)
      val (postPos, doclen) = TextAnalysis.loadBm25Positional(s, wd)
      TextAnalysis.phraseTopKFromIndex(postPos, doclen,
        Seq("stream", "window"), k = 20,
        stats = TextAnalysis.loadBm25Stats(s, wd))
    },
    // The phrase store ACCRETED in three disjoint micro-batches
    // (appendBm25Positional — the crawl-loop path) instead of one shot:
    // batches union-merge exactly (positions are per-document state), so
    // the served phrase ranking is identical to the one-shot build and
    // the q_phrase_stored oracle replays it verbatim.
    "q_phrase_append" -> { (s, dir) =>
      val wd = workDir("bm25pa", dir)
      // appends accrete across process runs — reset the store so the
      // query is idempotent (the batch-id-idempotence contract, spelled
      // as a fresh store per invocation)
      graft.streaming.PersistPipeline.deleteRecursively(
        java.nio.file.Paths.get(wd))
      val docs = Tables(s, dir).documents
      (0 until 3).foreach(i =>
        TextAnalysis.appendBm25Positional(s, wd, docs.filter(col("doc_id") % 3 === i)))
      val (postPos, doclen) = TextAnalysis.loadBm25Positional(s, wd)
      TextAnalysis.phraseTopKFromIndex(postPos, doclen,
        Seq("stream", "window"), k = 20,
        stats = TextAnalysis.loadBm25Stats(s, wd))
    },
    // Deletion THROUGH the positional phrase store: build v1, delete
    // doc_id%7==3 into a v2 store version, serve the phrase query from
    // v2 with the one-row tombstone audit cross-joined. Positions are
    // per-document and df/N/avg-dl derive at serve time, so
    // store-delete ≡ a from-scratch positional index of the survivors —
    // the oracle replays the survivors' phrase occurrences and BM25
    // ranking hash-exactly plus the Σ h60(doc_id) mod 1000003
    // erasure fingerprint.
    "q_phrase_delete" -> { (s, dir) =>
      val wd = workDir("bm25pd", dir)
      TextAnalysis.saveBm25Positional(s, s"$wd/v1", Tables(s, dir).documents)
      val audit = TextAnalysis.deleteFromBm25Positional(
        s, s"$wd/v1", s"$wd/v2", col("doc_id") % 7 === 3)
      val (postPos, doclen) = TextAnalysis.loadBm25Positional(s, s"$wd/v2")
      TextAnalysis.phraseTopKFromIndex(postPos, doclen,
        Seq("stream", "window"), k = 20,
        stats = TextAnalysis.loadBm25Stats(s, s"$wd/v2"))
        .transform(withDeleteAudit(audit))
    },
    // Per-source bigram type/token diversity — the templated-source flag.
    "q_ngram_diversity" -> ((s, dir) =>
      TextAnalysis.ngramDiversity(Tables(s, dir).documents, n = 2)
        .orderBy(col("source"))),
    // Per-source tokenizer fertility (chars/token, exact integer ppm).
    "q_fertility" -> ((s, dir) =>
      TextAnalysis.fertility(Tables(s, dir).documents)
        .orderBy(col("source"))),
    // Per-source top-5 signature bigrams (template/SEO-feed readout),
    // via the salted two-stage top-k — no single-task source window.
    "q_source_phrases" -> ((s, dir) =>
      TextAnalysis.sourcePhrases(Tables(s, dir).documents, k = 5)
        .orderBy(col("source"), col("rnk"))),
    // Per-source OOV rate vs the corpus top-20 vocabulary (tokenizer
    // coverage; exact integer ppm).
    "q_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(Tables(s, dir).documents, vocabSize = 20)
        .orderBy(col("source"))),
    // Per-source unigram drift vs the corpus (hashed-bucket TV distance,
    // exact integer ppm) — the mixture-planning ranking.
    "q_source_divergence" -> ((s, dir) =>
      TextAnalysis.sourceDivergence(Tables(s, dir).documents, dim = 64)
        .orderBy(col("source"))),
    // Vocabulary coverage curve: token mass covered by the V most
    // frequent types, at V ∈ {4,8,16,32} (the synthetic corpus has ~31
    // types; real brackets are 2^10..2^16) — exact ranks + running mass
    // from one distributed kernel pass.
    "q_vocab_curve" -> ((s, dir) =>
      TextAnalysis.vocabCurve(Tables(s, dir).documents, Seq(4L, 8L, 16L, 32L))
        .orderBy(col("vocab_size"))),
    // Borda rank-blend of three integer quality signals (length,
    // type-token ratio, stopword ratio) — corpus-wide rank aggregation,
    // the whole-corpus sibling of q_rrf_fusion.
    "q_quality_ensemble" -> ((s, dir) =>
      TextAnalysis.qualityEnsemble(Tables(s, dir).documents, topK = 50)
        .orderBy(col("borda"), col("doc_id"))),
    // Max-min-fair token budget allocation across sources (water-filling,
    // exact closed form): budget 25 000 lands mid-pack at sf0.01 — small
    // feeds fully granted, the rest leveled with a deterministic spill.
    "q_water_fill" -> ((s, dir) =>
      Curate.tokenWaterFill(Tables(s, dir).documents, budget = 25000L)
        .orderBy(col("key"))),
    // Token frequency-rank drift between the doc-id-parity snapshot
    // halves — appearing/disappearing vocabulary takes the end-of-table
    // sentinel rank, topping the readout.
    "q_rank_drift" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      TextAnalysis.rankDrift(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), topK = 50)
        .orderBy(col("drift").desc, col("tok"))
    },
    // Token burstiness: variance-to-mean of per-doc occurrence counts
    // over ALL docs (Church & Gale) — content/template words clump,
    // function words sit at VMR ≈ 1.
    "q_token_burstiness" -> ((s, dir) =>
      TextAnalysis.tokenBurstiness(Tables(s, dir).documents, topK = 50)
        .orderBy(col("vmr_ppm").desc, col("tok"))),
    // Gini concentration of per-source token mass — the one-number
    // corpus-imbalance datasheet metric.
    "q_source_gini" -> ((s, dir) =>
      Curate.sourceGini(Tables(s, dir).documents)),
    // Deterministic unigram-proportional negative sampling for the
    // skip-gram positives (inverse-CDF via hash position into the
    // cumulative-mass intervals — rand()-free, oracle-replayable).
    "q_neg_samples" -> ((s, dir) =>
      TextAnalysis.negativeSamples(Tables(s, dir).documents,
        window = 2, minCount = 50L, nNeg = 2)
        .orderBy(col("w1"), col("w2"), col("i"))),
    // Gate calibration: confusion sweep of the cheap hapax-novelty score
    // against the 2-rule length+TTR mini-gate — the readout that decides
    // where a scored surrogate can replace an expensive filter.
    "q_threshold_sweep" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val scored = bigramScoresShared(s, dir)
        .select(col("doc_id"),
          expr("(1000000L * n_hapax) DIV n_pairs").as("score_ppm"))
      val labeled = d
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          (size(col("toks")).between(20, 90) &&
            (size(array_distinct(col("toks"))) * 100 >=
              size(col("toks")) * 40)).as("label"))
      Classify.thresholdSweep(
        scored.join(labeled, "doc_id"), col("score_ppm"), col("label"),
        Seq(0L, 100000L, 250000L, 500000L, 750000L, 1000000L))
        .orderBy(col("threshold"))
    },
    // Deterministic heavy-hitters state: top-16 exact token counts +
    // the truncation bound (est ≤ true ≤ est + b_bound for every key).
    "q_heavy_hitters" -> { (s, dir) =>
      val toks = Tables(s, dir).documents
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      val (kept, bound) = Sketches.topMState(toks, col("tok"), m = 16)
      Sketches.topMReadout(kept, bound).orderBy(col("rank"))
    },
    // CCNet-style cross-corpus likelihood: LM trained on the 3/4
    // reference split scores the held-out 1/4 — integer-ratio scores.
    "q_lm_score" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      TextAnalysis.lmScoreAgainst(
        d.filter(col("doc_id") % 4 =!= 0), d.filter(col("doc_id") % 4 === 0))
        .orderBy(col("doc_id"))
    },
    // Statistics-based memorization scrub: df < 3 tokens → sentinel; the
    // rebuilt text itself is hashed, so token order must survive exactly.
    "q_suppress_rare" -> ((s, dir) =>
      TextAnalysis.suppressRareTokens(Tables(s, dir).documents, minDf = 3)
        .orderBy(col("doc_id"))),
    // Ordered-step conversion funnel over events (strictly-after times).
    "q_funnel" -> ((s, dir) =>
      Analytics.funnel(Tables(s, dir).events, FunnelSteps)
        .orderBy(col("step"))),
    // First-order event-transition matrix (per-user lag pairing, exact
    // integer row-normalized ppm).
    "q_transitions" -> ((s, dir) =>
      Analytics.transitions(Tables(s, dir).events)
        .orderBy(col("from_type"), col("to_type"))),
    // Freshness-weighted event mass: per-day counts halved once per
    // elapsed 7-day half-life as-of 2024-02-01 (the power-of-two decay
    // surrogate — exact integer arithmetic, replayable cross-engine).
    "q_decayed_counts" -> ((s, dir) =>
      Analytics.decayedCounts(Tables(s, dir).events,
        asOf = "2024-02-01", halflifeDays = 7)
        .orderBy(col("event_type"))),
    // Robust per-type daily-volume anomaly flags (lower-median/MAD, k=3)
    // — the broken-feed / crawler-loop monitor; all-BIGINT comparisons.
    "q_volume_anomaly" -> ((s, dir) =>
      Analytics.volumeAnomaly(Tables(s, dir).events, k = 3L)
        .orderBy(col("event_type"), col("day"))),
    // Copied-span localization: best fingerprint diagonal per overlapping
    // pair (MOSS alignment step) — offsets, match counts, char extents.
    "q_winnow_spans" -> ((s, dir) =>
      Dedup.winnowSpanPairs(Tables(s, dir).documents)
        .orderBy(col("doc_a"), col("doc_b"))),
    // Weekly retention cohort matrix (first-event week × active week).
    "q_retention_cohorts" -> ((s, dir) =>
      Analytics.retentionCohorts(Tables(s, dir).events)
        .orderBy(col("cohort_week"), col("week_offset"))),
    // The streaming-maintained funnel frontier itself, gate-checked:
    // advancing an empty state by the whole log (one batch) must equal
    // the one-shot per-user earliest-completion table the q_funnel CTEs
    // derive — so the foreachBatch state store is oracle-verified, not
    // just spec-verified.
    "q_funnel_state" -> ((s, dir) =>
      Analytics.funnelAdvance(None, Tables(s, dir).events, FunnelSteps)
        .orderBy(col("user_id"), col("step"))),
    // The mergeable retention state store: distinct (user, week) presence.
    "q_retention_state" -> ((s, dir) =>
      Analytics.retentionState(Tables(s, dir).events)
        .orderBy(col("user_id"), col("week"))),
    // Skew-safe per-key top-k — identical output to the single-window form.
    "q_topk_per_key" -> ((s, dir) =>
      Diagnostics.saltedTopKPerKey(Tables(s, dir).events,
        col("event_type"), col("value"), col("event_id"), k = 5, salts = 8)
        .select(col("key").as("etype"), col("rank").as("rnk"),
          col("value"), col("tiebreak"))
        .orderBy(col("etype"), col("rnk"))),
    // Z-order layout buckets with per-dimension min/max (the parquet-footer
    // stats a 2-D range scan prunes on).
    "q_zorder" -> ((s, dir) =>
      Layout.zorderStats(Tables(s, dir).lineitem,
        col("l_partkey"), col("l_suppkey"), bucketShift = 16)
        .orderBy(col("bucket"))),
    // Bloom-prefiltered exact decontamination — result is bit-identical to
    // the plain exact anti-join (the filter only routes rows), so the
    // oracle is the plain NOT EXISTS query.
    "q_decontaminate_bloom" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      Curate.decontaminateBloom(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 97 === 1))
        .select("doc_id").orderBy(col("doc_id"))
    },
    // Count-min sketch: the portable hash family makes the SKETCH itself
    // oracle-replayable — estimates compare exactly, est ≥ exact by theorem.
    "q_countmin" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val sketch = Sketches.countMin(ev, col("user_id"), w = 256, d = 4)
      val probes = ev.filter(col("user_id") % 10 === 7)
        .groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      Sketches.countMinEstimate(sketch, probes, col("user_id"), w = 256, d = 4)
        .join(probes, col("key") === col("user_id"))
        .select(col("user_id"), col("exact"), col("est"))
        .orderBy(col("user_id"))
    },
    // Importance sampling with a per-row quality weight (length-based here).
    "q_sample_weighted" -> ((s, dir) =>
      Curate.sampleByWeight(Tables(s, dir).documents, col("doc_id"),
        least(col("n_chars").cast("double") / 400.0, lit(1.0)), "w1")
        .select("doc_id", "n_chars").orderBy(col("doc_id"))),
    // Min-K%-prob membership audit: the %17 stripe audited against the
    // full corpus unigram model (members — their rare tails should be
    // covered); integer-exact selected-tail statistics.
    "q_min_k_prob" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      TextAnalysis.minKCountAudit(docs,
        docs.filter(col("doc_id") % 17 === 0), kPct = 20)
        .orderBy(col("doc_id"))
    },
    // DSIR importance weights + resample gate: target = the doc_id % 23
    // stripe standing in for the curated seed corpus, raw = the rest.
    // The kept flag inlines dsirResample's exact gate (Curate.scala) so
    // the whole selection replays without running the model twice.
    "q_dsir" -> { (s, dir) =>
      val docs = Tables(s, dir).documents
      val w = Curate.dsirWeights(
        docs.filter(col("doc_id") % 23 =!= 0),
        docs.filter(col("doc_id") % 23 === 0))
      import graft.functions.TextFunctions.h60
      w.select(col("doc_id"), col("dsir_tokens"), col("dsir_w"),
        col("dsir_mean_ppm"),
        (pmod(h60(concat(col("doc_id").cast("string"), lit("|dsir1"))),
          lit(1048576L)).cast("double") <
          least(greatest(
            lit(0.25) * col("dsir_mean_ppm").cast("double") / lit(1000000.0),
            lit(0.0)), lit(1.0)) * 1048576.0).as("kept"))
        .orderBy(col("doc_id"))
    },
    // IVF-PQ with a FULL DuckDB oracle: the run stashes the learned
    // codebooks and oracleSql (evaluated by Verify AFTER the queries run)
    // replays them as literal DOUBLE[][][] tables — code assignment, ADC
    // ranking, and exact re-rank all re-derived cross-engine.
    "q_pq_topk" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val books = Similarity.pqCodebooks(
        Similarity.pqTrainSet(emb, 0.3), m = 8, ksub = 16, iters = 2)
      pqBooksStash = Some(books)
      Similarity.pqTopKWithBooks(emb, col("vec_id") % 50 === 0, k = 5,
        books, cellBits = 4, rerank = 32)
        .orderBy(col("query_id"), col("rank"))
    },
    // The stored-codes PQ serve lifecycle: train books, encode the corpus
    // to (cell, codes) ONCE, persist both partitioned by cell, restore,
    // and serve ADC over the stored codes with the query-cell partition
    // filter — the raw embedding table is touched only by the
    // rerank-sized exact-cosine join. Same parameters as q_pq_topk, so
    // the same learned-books oracle replays it (identical by
    // construction; the equivalence is also spec-proven directly).
    "q_pq_codes" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val books = Similarity.pqCodebooks(
        Similarity.pqTrainSet(emb, 0.3), m = 8, ksub = 16, iters = 2)
      pqCodesStash = Some(books)
      val wd = workDir("pqcodes", dir)
      Similarity.savePqBooks(s, wd, books)
      Similarity.savePqCodes(s, wd,
        Similarity.encodePqCodes(emb, books, cellBits = 4), books, cellBits = 4)
      val loadedBooks = Similarity.loadPqBooks(s, wd)
      // the load verifies the store's codebook stamp and hands back the
      // stored cell geometry — the serve trusts the STORE, not a default
      val (codes, storedCellBits) = Similarity.loadPqCodes(s, wd, loadedBooks)
      Similarity.pqTopKWithCodes(codes, emb,
        col("vec_id") % 50 === 0, k = 5,
        loadedBooks, cellBits = storedCellBits, rerank = 32)
        .orderBy(col("query_id"), col("rank"))
    },
    // Deletion THROUGH the PQ code store: encode+persist v1, delete
    // vec_id%5==2 into a v2 store version (same books, store's own
    // cell_bits — both verified by the stamped load), serve v2 with the
    // one-row tombstone audit cross-joined. ADC is per-row, so
    // store-delete ≡ a from-scratch encode of the survivors — the
    // learned-books oracle replays assignment, ADC, and exact re-rank
    // over the surviving corpus plus the erasure fingerprint.
    // (Query ids are multiples of 50 ≡ 0 mod 5, so no query is deleted;
    // the serve reads query vectors and rerank cosines from the
    // survivor-filtered embedding table.)
    "q_pq_delete" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val books = Similarity.pqCodebooks(
        Similarity.pqTrainSet(emb, 0.3), m = 8, ksub = 16, iters = 2)
      pqDelStash = Some(books)
      val wd = workDir("pqdel", dir)
      Similarity.savePqBooks(s, s"$wd/v1", books)
      Similarity.savePqCodes(s, s"$wd/v1",
        Similarity.encodePqCodes(emb, books, cellBits = 4), books, cellBits = 4)
      val audit = Similarity.deleteFromPqCodes(
        s, s"$wd/v1", s"$wd/v2", col("vec_id") % 5 === 2, books)
      val (codes, storedCellBits) = Similarity.loadPqCodes(s, s"$wd/v2", books)
      Similarity.pqTopKWithCodes(codes, emb.filter(col("vec_id") % 5 =!= 2),
        col("vec_id") % 50 === 0, k = 5,
        books, cellBits = storedCellBits, rerank = 32)
        .transform(withDeleteAudit(audit))
        .orderBy(col("query_id"), col("rank"))
    },
    // Retrain-and-rewrite for a drifted PQ codebook (q_ivf_retrain's PQ
    // twin): train books on the even half, accrete the odd half
    // (sub_stats merged per the streaming maintenance shape), refresh
    // every codeword from the accumulated state, re-encode the corpus
    // under the refreshed books into a v2 store, and serve v2 — gated by
    // the learned-books oracle replaying assignment, ADC, and exact
    // re-rank under the REFRESHED books (any codeword or code row
    // damaged by the rewrite mismatches the hash).
    "q_pq_retrain" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val half = emb.filter(col("vec_id") % 2 === 0)
      val batch = emb.filter(col("vec_id") % 2 === 1)
      val books = Similarity.pqCodebooks(
        Similarity.pqTrainSet(half, 0.3), m = 8, ksub = 16, iters = 2)
      val wd = workDir("pqret", dir)
      // overlapped v1 build and overlapped accretion/stats-merge, the
      // q_ivf_retrain shape: books+sub_stats vs codes+meta write disjoint
      // files, and the batch append touches only code files while the
      // merge reads and rewrites only sub_stats
      graft.operators.Par.run(
        () => Similarity.savePqBooks(s, s"$wd/v1", books,
          Some(Similarity.pqSubspaceStats(half, books))),
        () => Similarity.savePqCodes(s, s"$wd/v1",
          Similarity.encodePqCodes(half, books, cellBits = 4), books,
          cellBits = 4))
      graft.operators.Par.run(
        () => Similarity.appendPqCodes(s, s"$wd/v1", batch, books),
        () => {
          // merge the batch's assignment state into the stored stats — a
          // real localCheckpoint, not Pins.pin: the re-persist overwrites
          // the very sub_stats files the merge reads (the q_ivf_retrain
          // rule); the table is m·ksub·sub rows
          val merged = Similarity.mergePqSubStats(
            Similarity.loadPqSubStats(s, s"$wd/v1"),
            Similarity.pqSubspaceStats(batch, books)).localCheckpoint()
          Similarity.savePqBooks(s, s"$wd/v1", books, Some(merged))
          Pins.release(merged)
        })
      val next = Similarity.retrainPqStore(s, s"$wd/v1", s"$wd/v2", emb)
      pqRetrainStash = Some(next)
      val (codes, storedCellBits) = Similarity.loadPqCodes(s, s"$wd/v2", next)
      Similarity.pqTopKWithCodes(codes, emb,
        col("vec_id") % 50 === 0, k = 5,
        next, cellBits = storedCellBits, rerank = 32)
        .orderBy(col("query_id"), col("rank"))
    },
    // SemDeDup: embedding near-dup drop within learned k-means cells. The
    // run stashes the trained centroids; the oracle replays them as
    // literal DOUBLE[][] and re-derives assignment + the keep-min rule.
    "q_semdedup" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = semdCentroids(s, dir)
      semCentStash = Some(cents)
      Similarity.semDedup(emb, cents, tau = 0.4).orderBy(col("vec_id"))
    },
    // Per-dimension embedding moments (n, Σv, Σv² in exact DECIMAL
    // micro-units): the mergeable normalization/drift state.
    "q_emb_moments" -> ((s, dir) =>
      Similarity.embeddingMoments(Tables(s, dir).embeddings)
        .select(col("dim"), col("n"),
          (col("s") * 1000000).cast("long").as("s_micro"),
          (col("s2") * 1000000).cast("long").as("s2_micro"))
        .orderBy(col("dim"))),
    // Mergeable per-cell assignment state (counts + exact-DECIMAL
    // coordinate sums): the incremental-IVF maintenance table a streaming
    // ingest keeps current per micro-batch.
    "q_cell_stats" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = semdCentroids(s, dir)
      cellStatsStash = Some(cents)
      // fixed-point micro-units, not a DOUBLE cast: the ×10^6 unscaling
      // of a DECIMAL(.,6) is exact integer arithmetic at any corpus
      // scale, where decimal→double conversions can diverge by 1 ulp
      // between engines once the unscaled sum passes 2^53
      Similarity.cellStats(emb, cents)
        .select(col("cell"), col("dim"), col("n"),
          (col("s") * 1000000).cast("long").as("s_micro"))
        .orderBy(col("cell"), col("dim"))
    },
    // Reciprocal-nearest-neighbor pairs inside the same learned cells:
    // the high-precision near-dup/alignment pair set (mutuality kills
    // hub vectors that one-sided kNN admits).
    "q_mutual_knn" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = semdCentroids(s, dir)
      mknnCentStash = Some(cents)
      Similarity.mutualKnn(emb, cents, k = 3)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    // Prototypicality: each vector's cosine to its OWN learned centroid
    // (SemDeDup keep-policy score / embedding-space quality filter).
    // Checked as floor-ppm: DuckDB's list_dot_product over a CONSTANT
    // vector sums in a different kernel order than over table columns
    // (measured 2-4 ulp drift on every constant shape — subscripted
    // literal, VALUES row, inline literal under a column-selected CASE,
    // unrolled scalar chain), so the raw double can't hash cross-engine
    // here; the ppm floor absorbs last-ulp drift (flip needs a value
    // within ~1e-9 of a ppm boundary), the same robustness class as the
    // assignment argmax. The full-precision cosine stays engine-side.
    "q_cell_outliers" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = semdCentroids(s, dir)
      cellOutStash = Some(cents)
      Similarity.cellOutliers(emb, cents, tau = 0.2)
        .select(col("vec_id"), col("cell"),
          floor(col("proto_cosine") * lit(1000000.0)).as("proto_ppm"),
          col("outlier"))
        .orderBy(col("vec_id"))
    },
    // Hard-negative mining: per anchor, the top-5 most-similar same-cell
    // vectors BELOW the dup threshold — served from the same shared
    // quantizer as the rest of the cell family; centroids replayed as
    // literals, cosines column⋈column (bit-exact cross-engine).
    "q_hard_negatives" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = semdCentroids(s, dir)
      hardNegStash = Some(cents)
      Similarity.hardNegatives(emb, cents, tauDup = 0.4, k = 5)
        .orderBy(col("anchor_id"), col("rank"))
    },
    // Per-cell label purity: majority label + share ppm per learned cell.
    "q_cell_purity" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = semdCentroids(s, dir)
      cellPurityStash = Some(cents)
      Similarity.cellPurity(emb, cents).orderBy(col("cell"))
    },
    // kNN label audit: same-cell top-5 neighbor vote vs own label — the
    // mislabel-suspect review queue.
    "q_label_audit" -> { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val cents = semdCentroids(s, dir)
      labelAuditStash = Some(cents)
      Similarity.knnLabelAudit(emb, cents, k = 5)
        .orderBy(col("vec_id"))
    },
    // HyperLogLog register table — pure integer arithmetic, replayed
    // bit-for-bit; the float estimate stays engine-side (spec-bounded).
    "q_hll" -> ((s, dir) =>
      Sketches.hllRegisters(Tables(s, dir).events, col("user_id"), p = 9)
        .orderBy(col("bucket"))),
    // Cross-corpus overlap state: HLL registers of the two doc-id-parity
    // halves keyed by TEXT (shared duplicate texts are the true
    // intersection) — the dedup-planning readout; registers pure integer,
    // estimates engine-side (spec-bounded).
    "q_hll_overlap" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      Sketches.hllOverlapRegisters(
        d.filter(col("doc_id") % 2 === 0), col("text"),
        d.filter(col("doc_id") % 2 === 1), col("text"), p = 9)
        .orderBy(col("bucket"))
    },
    // Per-key z-score outliers over events.value (deterministic moments).
    "q_outliers" -> ((s, dir) =>
      Diagnostics.outliers(Tables(s, dir).events,
        col("event_type"), col("value"), z = 2.5)
        .select(col("event_id"), col("key").as("etype"), col("value"),
          col("mu"), col("sigma"))
        .orderBy(col("event_id"))),
    // Per-source cap: ≤ 15 docs per source, hash-uniform and deterministic.
    "q_cap_per_source" -> ((s, dir) =>
      Curate.capPerKey(Tables(s, dir).documents,
        col("source"), col("doc_id"), k = 15, salt = "cap1")
        .select("doc_id", "source").orderBy(col("doc_id"))),
    // Daily distinct-user HLL sketches: event-time × sketch composition.
    "q_hll_windowed" -> ((s, dir) =>
      Sketches.hllRegistersBy(Tables(s, dir).events, col("user_id"), p = 7,
        date_trunc("day", col("ts")).as("window_start"))
        .orderBy(col("window_start"), col("bucket"))),
    // Log-bucketed doc-length histogram per source: the mergeable quantile
    // register table (pure bit arithmetic, replays cell-for-cell).
    "q_log_hist" -> ((s, dir) =>
      Sketches.logHistogram(Tables(s, dir).documents, col("n_chars"),
        subBits = 5, col("source"))
        .orderBy(col("source"), col("lo"))),
    // Quantile bounds recovered from the register walk — est_lo/est_hi
    // bracket the true order statistic; still integer-exact cross-engine.
    "q_log_hist_quantiles" -> ((s, dir) =>
      Sketches.logHistQuantiles(
        Sketches.logHistogram(Tables(s, dir).documents, col("n_chars"),
          subBits = 5, col("source")),
        Seq(0.5, 0.9, 0.99))
        .orderBy(col("source"), col("q"))),
    // Write-planner split bounds from the deterministic hash sample.
    "q_range_bounds" -> ((s, dir) =>
      Layout.rangeBounds(Tables(s, dir).lineitem, col("l_orderkey"),
        numSplits = 8, sampleFrac = 0.1)
        .orderBy(col("split_no"))),
    // PMI collocations; the ln-based pmi stays engine-side (the integer
    // ratio surrogate is the checked rank key).
    "q_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(Tables(s, dir).documents, topK = 20, minCount = 5L)
        .select("a", "b", "c_ab", "c_a", "c_b", "ratio_ppm")
        .orderBy(col("ratio_ppm").desc, col("a"), col("b")))
  )

  /** DuckDB CTE building the identical index table from `events` — keep in
    * lockstep with [[graft.model.IndexModel.fromEvents]].
    */
  private val IndexCte =
    """WITH idx AS (
      |  SELECT
      |    't-' || event_type AS broker_id,
      |    CAST(event_id AS VARCHAR) AS broker_msg_id,
      |    't-' || event_type || '_' || CAST(event_id AS VARCHAR) AS unique_id,
      |    CASE WHEN user_id % 5 = 0 THEN NULL
      |         ELSE 'bsk' || CAST(user_id % 5 AS VARCHAR) END AS business_source_key,
      |    'bok' || CAST(event_id % 10 AS VARCHAR) AS business_object_key,
      |    CASE WHEN user_id % 5 = 0 THEN NULL
      |         ELSE 'bsk' || CAST(user_id % 5 AS VARCHAR) || '_bok' || CAST(event_id % 10 AS VARCHAR)
      |         END AS index_source_key,
      |    CASE WHEN user_id % 3 = 0 THEN ''
      |         ELSE 'u' || CAST(user_id AS VARCHAR) END AS ordering_key,
      |    json_extract_string(props, '$.k') AS meta_k,
      |    'gs://graft/events/blob-' || CAST(event_id // 100 AS VARCHAR) AS location_key,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_id // 100 ORDER BY event_id) AS BIGINT)
      |      AS location_position,
      |    ts AS publish_time,
      |    ts + INTERVAL 1 SECOND AS ingestion_time,
      |    FALSE AS confirmation_flag
      |  FROM events
      |)""".stripMargin

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"

  /** DuckDB CTE: whitespace tokens of lowercased document text — keep in
    * lockstep with [[graft.functions.TextFunctions.tokens]].
    */
  /** Query terms for the BM25 retrieval demo — mid-frequency corpus words
    * so df < N and the per-term idf weights differ.
    */
  private val Bm25Terms = Seq("vector", "stream", "window")

  /** Term-set query table for the batch-retrieval demo. */
  private val Bm25Queries = Seq(
    1L -> Seq("vector", "stream"),
    2L -> Seq("window", "batch", "merge"),
    3L -> Seq("dup", "sort"))

  /** Term-bag queries with deliberate repeats for the qtf-weighted mode. */
  private val Bm25WeightedQueries = Seq(
    1L -> Seq("vector", "vector", "stream"),
    2L -> Seq("window", "window", "window", "batch"),
    3L -> Seq("dup", "sort", "dup"))

  /** Funnel stages for the events conversion readout. */
  private val FunnelSteps = Seq("signup", "view", "click", "purchase")

  private val ToksCte =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      |  FROM documents)""".stripMargin

  /** DuckDB CTE clause: distinct word-3-gram shingle sets (≥3 tokens) —
    * lockstep with [[graft.functions.TextFunctions.shingleSet]].
    */
  private val ShinglesCte =
    """sets AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3 THEN
      |      list_transform(range(1, len(toks)-1),
      |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [] END) AS sh
      |  FROM toks),
      |s2 AS (SELECT * FROM sets WHERE len(sh) > 0)""".stripMargin

  /** DuckDB h60 — lockstep with [[graft.functions.TextFunctions.h60]]. */
  private def h60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** [[ToksCte]] restricted to the h60-gated document sample — lockstep
    * with [[graft.operators.Curate.sampleByHash]] on doc_id.
    */
  private def sampledToksCte(frac: Double, salt: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, text,
       |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |  FROM documents
       |  WHERE ${h60Sql(s"CAST(doc_id AS VARCHAR) || '|$salt'")} % 10000
       |          < ${math.round(frac * 10000)})""".stripMargin

  /** Pair-miner agreement oracle (SimHash hamming ≤ 2 vs exact J ≥ 0.6)
    * over whatever toks CTE defines the corpus — full or sampled.
    */
  private def pairPrOracle(toksCte: String): String =
    s"""$toksCte,
       |$ShinglesCte,
       |sims AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
       |      CASE WHEN list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)) > 0
       |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
       |    AS simhash
       |  FROM (SELECT doc_id,
       |               list_transform(list_distinct(toks), t -> ${h60Sql("t")}) AS hs
       |        FROM toks)),
       |pred AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |         WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
       |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
       |          WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
       |            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
       |            >= 0.6)
       |SELECT CAST(np AS BIGINT) AS n_pred, CAST(nt AS BIGINT) AS n_truth,
       |       CAST(ntp AS BIGINT) AS n_tp,
       |       CASE WHEN np > 0 THEN CAST(ntp AS DOUBLE) / CAST(np AS DOUBLE)
       |            ELSE 0.0 END AS precision,
       |       CASE WHEN nt > 0 THEN CAST(ntp AS DOUBLE) / CAST(nt AS DOUBLE)
       |            ELSE 0.0 END AS recall
       |FROM (SELECT (SELECT COUNT(*) FROM pred) AS np,
       |             (SELECT COUNT(*) FROM truth) AS nt,
       |             (SELECT COUNT(*) FROM pred JOIN truth USING (doc_a, doc_b)) AS ntp)
       |""".stripMargin

  /** DuckDB replay of one composed resubmit mode: index slice (`where`) →
    * positional join vs the record store → per-ordering-group order +
    * payload mass — lockstep with [[publishGroups]] over
    * [[graft.operators.Resubmitter]].
    */
  private def resubmitOracle(where: String): String =
    s"""$IndexCte, records AS (
       |  SELECT 'gs://graft/events/blob-' || CAST(event_id // 100 AS VARCHAR) AS location_key,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY event_id // 100 ORDER BY event_id) AS BIGINT)
       |           AS location_position,
       |         props AS payload
       |  FROM events),
       |j AS (
       |  SELECT ordering_key, unique_id, location_key, location_position, payload
       |  FROM records JOIN idx USING (location_key, location_position)
       |  WHERE $where)
       |SELECT ordering_key, COUNT(*) AS n,
       |       CASE WHEN ordering_key = '' THEN NULL
       |            ELSE string_agg(unique_id, ','
       |                   ORDER BY location_key, location_position, unique_id) END
       |         AS publish_order,
       |       CAST(SUM(length(payload)) AS BIGINT) AS payload_bytes
       |FROM j GROUP BY ordering_key ORDER BY ordering_key""".stripMargin

  /** Unrolled integer-exact PageRank replay — lockstep with
    * [[graft.operators.Graph.pagerank]]: round i's CTE recomputes
    * r_i(v) = base + (85·Σ r_{i-1}(u) // outdeg(u)) // 100 over the
    * symmetrized customer–supplier edges, all BIGINT floor divisions.
    */
  private def pagerankSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST((SELECT ((15 * 1000000000000) // (100 * COUNT(*))) FROM nodes)
         |    + ((85 * COALESCE(s.s, 0)) // 100) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.r // d.outdeg) AS s
         |    FROM bi e JOIN r${i - 1} r ON e.src = r.node
         |              JOIN deg d ON e.src = d.node
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |bi AS (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed),
       |nodes AS (SELECT DISTINCT src AS node FROM bi),
       |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM bi GROUP BY src),
       |r0 AS (SELECT node,
       |       CAST((SELECT (1000000000000 // COUNT(*)) FROM nodes) AS BIGINT) AS r
       |       FROM nodes),
       |$rounds
       |SELECT node, CAST(r AS BIGINT) AS rank_pp12,
       |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** DuckDB CTE: embeddings with double vector, norm, and the SRP sign-bit
    * array over planes 0..23 — lockstep with
    * [[graft.operators.Similarity.srpPlane]] (w[p][d] = h60(p|d)/2^59 - 1).
    */
  private val EmbCte =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS d,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
      |         list_transform(range(0, 24), p ->
      |           CASE WHEN list_sum(list_transform(range(1, 65), dd ->
      |                  (CAST('0x' || substr(md5(p || '|' || (dd-1)), 1, 15) AS BIGINT)::DOUBLE
      |                     / 576460752303423488.0 - 1.0) * embedding[dd]::DOUBLE)) > 0
      |                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bits
      |  FROM embeddings)""".stripMargin

  /** MinHash affine coefficients, inlined as SQL list literals — lockstep
    * with [[graft.functions.TextFunctions.minHashCoeffs]].
    */
  private val mhCoeffLists = {
    val (as, bs) = graft.functions.TextFunctions.minHashCoeffs(24).unzip
    (as.mkString("[", ",", "]"), bs.mkString("[", ",", "]"))
  }
  private val MhA = mhCoeffLists._1
  private val MhB = mhCoeffLists._2

  /** Recursive-closure clustering oracle over the full LSH pair set —
    * shared by q_dedup_clusters (one-shot) and q_dedup_clusters_inc
    * (incremental merge replay): both must produce identical labels.
    */
  /** The CTE chain shared by the clusters / canonical-selection oracles:
    * shingles → MinHash → bands → verified LSH pairs → recursive
    * reachability closure (`reach`).
    */
  private lazy val ClustersCtes =
    s"""${ToksCte.replace("WITH toks", "WITH RECURSIVE toks")},
       |$ShinglesCte,
       |mh AS (
       |  SELECT doc_id, sh, list_transform(range(0, 24), i ->
       |      list_min(list_transform(hs, h -> ($MhA[i+1] * h + $MhB[i+1])
       |                                        % ${graft.functions.TextFunctions.MinHashP}))) AS sig
       |  FROM (SELECT doc_id, sh,
       |               list_transform(sh, s -> ${h60Sql("s")} & 4294967295) AS hs
       |        FROM s2)),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |         md5(array_to_string(list_transform(range(b*4+1, b*4+5),
       |             j -> CAST(sig[j] AS VARCHAR)), ',')) AS bsig
       |  FROM mh, range(0, 6) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |lshp AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN s2 a ON doc_a = a.doc_id JOIN s2 b ON doc_b = b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
       |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
       |        >= 0.6),
       |und AS (SELECT doc_a AS s, doc_b AS d FROM lshp
       |        UNION ALL SELECT doc_b, doc_a FROM lshp),
       |reach AS (
       |  SELECT s AS doc_id, d AS r FROM und
       |  UNION
       |  SELECT re.doc_id, u.d FROM reach re JOIN und u ON re.r = u.s)""".stripMargin

  private lazy val ClustersOracleSql =
    s"""$ClustersCtes
       |SELECT doc_id, least(doc_id, min(r)) AS cluster_id
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val StopEn = "['the','a','of','and','to','in','is','it']"
  private val StopEs = "['el','la','de','que','y','en','un','es']"
  private val StopDe = "['der','die','das','und','ist','von','ein','zu']"
  private val StopFr = "['le','la','de','et','est','un','une','dans']"

  /** Learned-PQ codebooks stashed by the q_pq_topk run: Verify executes
    * every query BEFORE dumping [[oracleSql]], so the oracle can replay
    * the learned artifacts as literal tables — the same plan-time-literal
    * status they have in the engine's own query. Empty (entry omitted →
    * the driver's rows-only fallback) only if q_pq_topk never ran.
    */
  @volatile private var pqBooksStash: Option[Array[Array[Array[Double]]]] = None

  /** q_pq_codes' own stash (trained in-query exactly like q_pq_topk's, so
    * a GRAFT_ONLY subset run stays self-sufficient); the oracle is the
    * same [[pqOracleSql]] replay — the stored-codes serve is
    * rank-identical to the in-line form by construction.
    */
  @volatile private var pqCodesStash: Option[Array[Array[Array[Double]]]] = None

  /** q_pq_delete's own stash (trained in-query like q_pq_codes'); the
    * oracle is [[pqOracleSql]] restricted to the surviving corpus with
    * the tombstone audit columns cross-joined — store-delete ≡ encode of
    * the survivors, replayed end-to-end.
    */
  @volatile private var pqDelStash: Option[Array[Array[Array[Double]]]] = None

  /** q_pq_retrain's stash holds the REFRESHED books the retrain returned
    * — the oracle replays the whole refresh+rewrite+serve under them.
    */
  @volatile private var pqRetrainStash: Option[Array[Array[Array[Double]]]] = None

  /** One k-means training served to the whole cell family (q_semdedup,
    * q_cell_stats, q_mutual_knn, q_cell_outliers) — the
    * serve-one-index-to-many-consumers pattern: a real pipeline trains a
    * quantizer once and every downstream consumer (dedup, stats
    * maintenance, pair mining, outlier scoring) reads the SAME artifact,
    * exactly like [[graft.operators.Similarity.saveIvfIndex]] persists it
    * across jobs. Keyed by sf dir so a run over a different corpus
    * retrains; the training itself is unchanged
    * (`kmeansCentroids(emb, 8, 2, "semd")`), so every per-query stash and
    * oracle replay sees bit-identical centroids.
    */
  private val semdCentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def semdCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    semdCentCache.computeIfAbsent(dir, d =>
      Similarity.kmeansCentroids(
        Tables(s, d).embeddings, numCells = 8, iters = 2, salt = "semd"))

  /** One bigram-LM scoring pass serving three consumers (q_bigram_lm,
    * q_quality_buckets, q_curriculum) — the lexical twin of the shared
    * semd quantizer: score once, rank/bucket/order many times. The
    * memoized frame is the operator's own eager pin, so later consumers
    * read a materialized table instead of re-running the corpus bigram
    * aggregation. Plan audits BYPASS the stash ([[operators.Pins.auditing]]):
    * a pinned frame's plan is a LogicalRDD scan, and whichever mode
    * populated the cache first would otherwise decide what the audit sees.
    */
  private val bigramScoresCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def bigramScoresShared(s: SparkSession, dir: String): DataFrame =
    if (operators.Pins.auditing)
      TextAnalysis.bigramScores(Tables(s, dir).documents)
    else bigramScoresCache.computeIfAbsent(dir, d =>
      TextAnalysis.bigramScores(Tables(s, d).documents))

  /** Learned k-means centroids stashed by the q_semdedup run — same
    * replay contract as [[pqBooksStash]].
    */
  @volatile private var semCentStash: Option[Array[Array[Double]]] = None

  /** Learned logistic weights stashed by the q_quality_classifier run —
    * same replay contract as [[pqBooksStash]].
    */
  @volatile private var clsWeightsStash: Option[Array[Double]] = None

  /** Centroids stashed by the q_mutual_knn run (deterministically equal
    * to q_semdedup's — same corpus, cells, iters, salt — but stashed
    * separately so either query replays alone).
    */
  @volatile private var mknnCentStash: Option[Array[Array[Double]]] = None

  /** Centroids stashed by the q_cell_stats run — same contract. */
  @volatile private var cellStatsStash: Option[Array[Array[Double]]] = None

  /** Centroids stashed by the q_cell_outliers run — same contract. */
  @volatile private var cellOutStash: Option[Array[Array[Double]]] = None

  /** Centroids stashed by the q_hard_negatives run — same contract. */
  @volatile private var hardNegStash: Option[Array[Array[Double]]] = None

  /** Centroids stashed by the q_cell_purity run — same contract. */
  @volatile private var cellPurityStash: Option[Array[Array[Double]]] = None

  /** Centroids stashed by the q_label_audit run — same contract. */
  @volatile private var labelAuditStash: Option[Array[Array[Double]]] = None

  /** Shortest round-trip double literal — DuckDB parses Java's toString
    * form (incl. scientific notation) back to the identical IEEE bits.
    */
  private def dbl(x: Double): String = java.lang.Double.toString(x)

  /** DuckDB replay of [[graft.operators.Similarity.pqTopKWithBooks]] with
    * the learned codebooks as literals: re-derives the per-subspace code
    * assignment (argmax dot − ‖c‖²/2, ties to the larger code), the ADC
    * ranking (left-assoc float sum, the engine's `reduce(_ + _)` order),
    * the rerank-32 cut, and the exact-cosine top-k. The half-norms are
    * the ENGINE's Scala-computed literals (not recomputed in SQL) so both
    * engines subtract bit-identical constants.
    */
  /** DuckDB replay of the PQ serve with the learned codebooks as
    * literals. `corpusWhere` restricts the corpus CTE (the q_pq_delete
    * survivor view); `withAudit` cross-joins the tombstone-audit columns
    * the deletion query carries.
    */
  private def pqOracleSql(
      books: Array[Array[Array[Double]]],
      corpusWhere: String = "",
      withAudit: Boolean = false): String = {
    val m = books.length
    val sub = graft.operators.Similarity.Dim / m
    val ksub = books(0).length
    // EmbCte textually ends in "FROM embeddings)" — restrict it in place
    val eCte =
      if (corpusWhere.isEmpty) EmbCte
      else EmbCte.dropRight(1) + s" WHERE $corpusWhere)"
    val audCte = if (!withAudit) "" else
      s""",
         |aud AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN vec_id % 5 = 2 THEN 1 END), 0) AS BIGINT) AS n_deleted,
         |         CAST(COALESCE(SUM(CASE WHEN vec_id % 5 <> 2 THEN 1 END), 0) AS BIGINT) AS n_kept,
         |         CAST(COALESCE(SUM(CASE WHEN vec_id % 5 = 2
         |             THEN ${h60Sql("CAST(vec_id AS VARCHAR)")} % 1000003 END), 0) AS BIGINT)
         |           AS del_fp_sum
         |  FROM embeddings)""".stripMargin
    val audCols = if (!withAudit) "" else ", n_deleted, n_kept, del_fp_sum"
    val audFrom = if (!withAudit) "" else ", aud"
    val cb3 = books.map(_.map(_.map(dbl).mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    val half = books.map(_.map(c => dbl(0.5 * c.map(x => x * x).sum))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    val adc = (0 until m).map(s =>
      s"list_dot_product(dq[${s * sub + 1}:${(s + 1) * sub}], " +
        s"cb.cb3[${s + 1}][cd.codes[${s + 1}]+1])")
      .reduce((a, b) => s"($a + $b)")
    s"""$eCte$audCte,
       |cb AS (SELECT $cb3::DOUBLE[][][] AS cb3, $half::DOUBLE[][] AS half),
       |c AS (SELECT vec_id, d, nrm,
       |             CAST(list_sum(list_transform(range(0, 4),
       |                 p -> bits[p+1] << p)) AS BIGINT) AS cell
       |      FROM e),
       |sv AS (SELECT vec_id, s, d[CAST(s*$sub+1 AS INT):CAST(s*$sub+$sub AS INT)] AS v
       |       FROM e, range(0, $m) t(s)),
       |asg AS (SELECT vec_id, s, code,
       |               list_dot_product(cb.cb3[CAST(s+1 AS INT)][CAST(code+1 AS INT)], v)
       |                 - cb.half[CAST(s+1 AS INT)][CAST(code+1 AS INT)] AS sc
       |        FROM sv, range(0, $ksub) u(code), cb),
       |codes AS (SELECT vec_id, list(code ORDER BY s) AS codes FROM (
       |            SELECT vec_id, s, code,
       |                   row_number() OVER (PARTITION BY vec_id, s
       |                                      ORDER BY sc DESC, code DESC) AS rn
       |            FROM asg) WHERE rn = 1 GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, cell, d AS dq, nrm AS nq
       |      FROM c WHERE vec_id % 50 = 0),
       |cand AS (SELECT query_id, dq, nq, n.vec_id AS neighbor_id, $adc AS adc
       |         FROM cb, c n JOIN codes cd ON cd.vec_id = n.vec_id
       |              JOIN q ON q.cell = n.cell AND query_id <> n.vec_id),
       |topa AS (SELECT * FROM (
       |           SELECT query_id, dq, nq, neighbor_id, adc,
       |                  row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY adc DESC, neighbor_id) AS arank
       |           FROM cand) WHERE arank <= 32),
       |res AS (SELECT query_id, neighbor_id,
       |               list_dot_product(dq, e.d) / (nq * e.nrm) AS cosine
       |        FROM topa JOIN e ON e.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, rank, cosine$audCols FROM (
       |  SELECT query_id, neighbor_id,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
       |         cosine
       |  FROM res)$audFrom WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. The
    * q_pq_topk entry is appended from the stashed learned codebooks. */
  def oracleSql: Map[String, String] =
    pqBooksStash.map(b => "q_pq_topk" -> pqOracleSql(b)).toMap ++
      pqCodesStash.map(b => "q_pq_codes" -> pqOracleSql(b)).toMap ++
      pqDelStash.map(b => "q_pq_delete" ->
        pqOracleSql(b, corpusWhere = "vec_id % 5 <> 2", withAudit = true)).toMap ++
      pqRetrainStash.map(b => "q_pq_retrain" -> pqOracleSql(b)).toMap ++
      semCentStash.map(c => "q_semdedup" -> semDedupOracleSql(c)).toMap ++
      mknnCentStash.map(c => "q_mutual_knn" -> mutualKnnOracleSql(c)).toMap ++
      hardNegStash.map(c => "q_hard_negatives" -> hardNegativesOracleSql(c)).toMap ++
      cellPurityStash.map(c => "q_cell_purity" -> cellPurityOracleSql(c)).toMap ++
      labelAuditStash.map(c => "q_label_audit" -> labelAuditOracleSql(c)).toMap ++
      cellStatsStash.map(c => "q_cell_stats" -> cellStatsOracleSql(c)).toMap ++
      cellOutStash.map(c => "q_cell_outliers" -> cellOutliersOracleSql(c)).toMap ++
      clsWeightsStash.map(w => "q_quality_classifier" -> classifierOracleSql(w)).toMap ++
      staticOracleSql

  /** DuckDB replay of [[graft.operators.Classify.scoreLogistic]] with
    * the learned weights as literals: features re-derived exactly as
    * [[graft.operators.Classify.featureVector]] (same q_text_quality
    * arithmetic), margin accumulated left-to-right in the engine's
    * reduce order — bit-identical IEEE doubles cross-engine.
    */
  private def classifierOracleSql(w: Array[Double]): String = {
    val terms = Seq(
      "1.0", "LEAST(sr * 10.0, 1.0)", "pr", "(mtl / 10.0)", "nt")
    val margin = terms.zip(w.map(dbl)).map { case (f, wi) => s"$f * $wi" }
      .reduce((a, b) => s"($a + $b)")
    s"""$ToksCte,
       |hits AS (SELECT doc_id,
       |  CAST(len(list_filter(toks, t -> list_contains($StopEn, t))) AS BIGINT) AS en_hits,
       |  CAST(len(list_filter(toks, t -> list_contains($StopEs, t))) AS BIGINT) AS es_hits,
       |  CAST(len(list_filter(toks, t -> list_contains($StopDe, t))) AS BIGINT) AS de_hits,
       |  CAST(len(list_filter(toks, t -> list_contains($StopFr, t))) AS BIGINT) AS fr_hits
       |  FROM toks),
       |lab AS (SELECT doc_id,
       |  CAST(CASE WHEN en_hits + es_hits + de_hits + fr_hits > 0
       |             AND en_hits >= greatest(es_hits, de_hits, fr_hits)
       |            THEN 1 ELSE 0 END AS INT) AS label
       |  FROM hits),
       |ft AS (SELECT doc_id, label,
       |  CASE WHEN len(toks) > 0 THEN
       |    len(list_filter(toks, t -> list_contains($StopEn, t)))::DOUBLE
       |      / len(toks)::DOUBLE
       |  ELSE 0.0 END AS sr,
       |  CASE WHEN length(text) > 0 THEN
       |    (length(text) - length(translate(text, '.,!?;:', '')))::DOUBLE
       |      / length(text)::DOUBLE
       |  ELSE 0.0 END AS pr,
       |  CASE WHEN len(toks) > 0 THEN
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |      / len(toks)::DOUBLE
       |  ELSE 0.0 END AS mtl,
       |  LEAST(len(toks)::DOUBLE / 200.0, 1.0) AS nt
       |  FROM toks JOIN lab USING (doc_id))
       |SELECT doc_id, label, $margin AS margin, ($margin) > 0.0 AS pred
       |FROM ft ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.semDedup]] with the
    * learned centroids as a literal DOUBLE[][]: cell = argmax dot (ties
    * to the LARGER cell index, the engine's struct-max order), dropped =
    * ∃ smaller same-cell vec_id with cosine ≥ tau.
    */
  private def semDedupOracleSql(cents: Array[Array[Double]]): String = {
    val lit2 = cents.map(_.map(dbl).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""$EmbCte,
       |ct AS (SELECT $lit2::DOUBLE[][] AS cs),
       |asg AS (
       |  SELECT vec_id, d, nrm, CAST(i - 1 AS INT) AS cell FROM (
       |    SELECT vec_id, d, nrm, i,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY list_dot_product(cs[CAST(i AS INT)], d) DESC, i DESC) AS rn
       |    FROM e CROSS JOIN ct CROSS JOIN range(1, ${cents.length + 1}) t(i))
       |  WHERE rn = 1),
       |drp AS (
       |  SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.d, b.d) / (a.nrm * b.nrm) >= 0.4)
       |SELECT asg.vec_id, cell, drp.vec_id IS NULL AS kept
       |FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id
       |ORDER BY asg.vec_id""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.cellOutliers]] with
    * the learned centroids as literals: same cell assignment as
    * [[semDedupOracleSql]], then the cosine to the OWN cell's centroid —
    * `list_dot_product` + `sqrt` reproduce the engine's left-fold dot and
    * driver norm bit-for-bit, so the doubles and the τ-flag hash-match.
    */
  private def cellOutliersOracleSql(cents: Array[Array[Double]]): String = {
    val lit2 = cents.map(_.map(dbl).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    // Checked value = floor(10^6 · cosine): DuckDB's list_dot_product
    // over a CONSTANT vector does not reproduce the engine's left-fold
    // summation order (measured 2-4 ulp drift on every constant shape —
    // subscripted nested literal, VALUES row, inline literal under a
    // column-selected CASE, unrolled scalar chain), so the raw double
    // cannot be hashed here; the ppm floor absorbs last-ulp drift.
    // ‖centroid‖ ships as the DRIVER-computed double literal — the
    // identical bits Spark's lit() uses.
    val cases = cents.zipWithIndex.map { case (c, i) =>
      val clit = c.map(dbl).mkString("[", ",", "]")
      val nc = dbl(math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
      s"WHEN $i THEN list_dot_product($clit::DOUBLE[], d) / ($nc * nrm)"
    }.mkString("\n         ")
    s"""$EmbCte,
       |ct AS (SELECT $lit2::DOUBLE[][] AS cs),
       |asg AS (
       |  SELECT vec_id, d, nrm, CAST(i - 1 AS INT) AS cell FROM (
       |    SELECT vec_id, d, nrm, i,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY list_dot_product(cs[CAST(i AS INT)], d) DESC, i DESC) AS rn
       |    FROM e CROSS JOIN ct CROSS JOIN range(1, ${cents.length + 1}) t(i))
       |  WHERE rn = 1),
       |sc AS (SELECT vec_id, cell,
       |         CASE cell
       |         $cases
       |         END AS proto_cosine
       |       FROM asg)
       |SELECT vec_id, cell,
       |       CAST(FLOOR(proto_cosine * 1000000.0) AS BIGINT) AS proto_ppm,
       |       proto_cosine < 0.2 AS outlier
       |FROM sc ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.mutualKnn]] with the
    * learned centroids as literals: same cell assignment as
    * [[semDedupOracleSql]], per-vector within-cell top-k by cosine (ties
    * to the smaller neighbor id), then the reciprocal self-join.
    */
  private def mutualKnnOracleSql(cents: Array[Array[Double]]): String = {
    val lit2 = cents.map(_.map(dbl).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""$EmbCte,
       |ct AS (SELECT $lit2::DOUBLE[][] AS cs),
       |asg AS (
       |  SELECT vec_id, d, nrm, CAST(i - 1 AS INT) AS cell FROM (
       |    SELECT vec_id, d, nrm, i,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY list_dot_product(cs[CAST(i AS INT)], d) DESC, i DESC) AS rn
       |    FROM e CROSS JOIN ct CROSS JOIN range(1, ${cents.length + 1}) t(i))
       |  WHERE rn = 1),
       |sc AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |              list_dot_product(a.d, b.d) / (a.nrm * b.nrm) AS cosine
       |       FROM asg a JOIN asg b
       |         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |top AS (SELECT vec_a, vec_b, cosine FROM (
       |          SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY vec_a
       |                   ORDER BY cosine DESC, vec_b) AS rnk
       |          FROM sc) WHERE rnk <= 3)
       |SELECT x.vec_a, x.vec_b, x.cosine
       |FROM top x JOIN top y ON x.vec_a = y.vec_b AND x.vec_b = y.vec_a
       |WHERE x.vec_a < x.vec_b
       |ORDER BY x.vec_a, x.vec_b""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.hardNegatives]]: same
    * cell assignment as [[semDedupOracleSql]], same-cell pairs filtered
    * to cosine < tauDup (column⋈column dots — bit-exact cross-engine),
    * per-anchor top-5 by cosine desc with negative-id tiebreak.
    */
  private def hardNegativesOracleSql(cents: Array[Array[Double]]): String = {
    val lit2 = cents.map(_.map(dbl).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""$EmbCte,
       |ct AS (SELECT $lit2::DOUBLE[][] AS cs),
       |asg AS (
       |  SELECT vec_id, d, nrm, CAST(i - 1 AS INT) AS cell FROM (
       |    SELECT vec_id, d, nrm, i,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY list_dot_product(cs[CAST(i AS INT)], d) DESC, i DESC) AS rn
       |    FROM e CROSS JOIN ct CROSS JOIN range(1, ${cents.length + 1}) t(i))
       |  WHERE rn = 1),
       |sc AS (SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
       |              list_dot_product(a.d, b.d) / (a.nrm * b.nrm) AS cosine
       |       FROM asg a JOIN asg b
       |         ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |       WHERE list_dot_product(a.d, b.d) / (a.nrm * b.nrm) < 0.4)
       |SELECT anchor_id, negative_id, cosine, rank FROM (
       |  SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |           ORDER BY cosine DESC, negative_id) AS rank
       |  FROM sc) WHERE rank <= 5
       |ORDER BY anchor_id, rank""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.cellPurity]]: literal-
    * centroid assignment, (cell, label) counts, per-cell argmax with the
    * smaller-label tiebreak, purity as HUGEINT floor division.
    */
  private def cellPurityOracleSql(cents: Array[Array[Double]]): String = {
    val lit2 = cents.map(_.map(dbl).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""$EmbCte,
       |ct AS (SELECT $lit2::DOUBLE[][] AS cs),
       |asg AS (
       |  SELECT vec_id, CAST(i - 1 AS INT) AS cell FROM (
       |    SELECT vec_id, i,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY list_dot_product(cs[CAST(i AS INT)], d) DESC, i DESC) AS rn
       |    FROM e CROSS JOIN ct CROSS JOIN range(1, ${cents.length + 1}) t(i))
       |  WHERE rn = 1),
       |lab AS (SELECT a.cell, em.label, CAST(COUNT(*) AS BIGINT) AS cnt
       |        FROM asg a JOIN embeddings em USING (vec_id) GROUP BY 1, 2),
       |tot AS (SELECT cell, CAST(SUM(cnt) AS BIGINT) AS n FROM lab GROUP BY 1)
       |SELECT l.cell, t.n, l.label AS majority_label, l.cnt AS majority_cnt,
       |       CAST((1000000::HUGEINT * l.cnt) // t.n AS BIGINT) AS purity_ppm
       |FROM (SELECT lab.*, ROW_NUMBER() OVER (PARTITION BY cell
       |              ORDER BY cnt DESC, label) AS rn FROM lab) l
       |JOIN tot t USING (cell)
       |WHERE l.rn = 1 ORDER BY l.cell""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.knnLabelAudit]]: same
    * cell assignment and same-cell top-5-by-cosine as
    * [[mutualKnnOracleSql]] (column⋈column dots — bit-exact), then the
    * neighbor-label vote with the smaller-label tiebreak and the
    * own-votes left join.
    */
  private def labelAuditOracleSql(cents: Array[Array[Double]]): String = {
    val lit2 = cents.map(_.map(dbl).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""$EmbCte,
       |ct AS (SELECT $lit2::DOUBLE[][] AS cs),
       |asg AS (
       |  SELECT vec_id, d, nrm, CAST(i - 1 AS INT) AS cell FROM (
       |    SELECT vec_id, d, nrm, i,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY list_dot_product(cs[CAST(i AS INT)], d) DESC, i DESC) AS rn
       |    FROM e CROSS JOIN ct CROSS JOIN range(1, ${cents.length + 1}) t(i))
       |  WHERE rn = 1),
       |sc AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |              list_dot_product(a.d, b.d) / (a.nrm * b.nrm) AS cosine
       |       FROM asg a JOIN asg b
       |         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |top AS (SELECT vec_a, vec_b FROM (
       |          SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY vec_a
       |                   ORDER BY cosine DESC, vec_b) AS rnk
       |          FROM sc) WHERE rnk <= 5),
       |votes AS (SELECT t.vec_a, em.label AS lbl_b, CAST(COUNT(*) AS BIGINT) AS cnt
       |          FROM top t JOIN embeddings em ON em.vec_id = t.vec_b
       |          GROUP BY 1, 2),
       |tot AS (SELECT vec_a, CAST(SUM(cnt) AS BIGINT) AS n_votes
       |        FROM votes GROUP BY 1),
       |win AS (SELECT vec_a, lbl_b AS pred_label, cnt AS pred_votes FROM (
       |          SELECT votes.*, ROW_NUMBER() OVER (PARTITION BY vec_a
       |                   ORDER BY cnt DESC, lbl_b) AS rn
       |          FROM votes) WHERE rn = 1),
       |own AS (SELECT v.vec_a, v.cnt AS own_votes
       |        FROM votes v JOIN embeddings em
       |          ON em.vec_id = v.vec_a AND em.label = v.lbl_b)
       |SELECT w.vec_a AS vec_id, em.label, w.pred_label, t.n_votes,
       |       w.pred_votes, COALESCE(o.own_votes, 0) AS own_votes,
       |       (w.pred_label <> em.label) AS suspect
       |FROM win w
       |JOIN embeddings em ON em.vec_id = w.vec_a
       |JOIN tot t ON t.vec_a = w.vec_a
       |LEFT JOIN own o ON o.vec_a = w.vec_a
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.cellStats]]: same cell
    * assignment as [[semDedupOracleSql]], dims unrolled via range, sums
    * exact in DECIMAL(27,6) and cast to DOUBLE on output.
    */
  private def cellStatsOracleSql(cents: Array[Array[Double]]): String = {
    val lit2 = cents.map(_.map(dbl).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""$EmbCte,
       |ct AS (SELECT $lit2::DOUBLE[][] AS cs),
       |asg AS (
       |  SELECT vec_id, d, CAST(i - 1 AS INT) AS cell FROM (
       |    SELECT vec_id, d, i,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY list_dot_product(cs[CAST(i AS INT)], d) DESC, i DESC) AS rn
       |    FROM e CROSS JOIN ct CROSS JOIN range(1, ${cents.length + 1}) t(i))
       |  WHERE rn = 1)
       |SELECT cell, CAST(j - 1 AS INT) AS dim, COUNT(*) AS n,
       |       CAST(SUM(CAST(d[CAST(j AS INT)] AS DECIMAL(27,6))) * 1000000
       |            AS BIGINT) AS s_micro
       |FROM asg CROSS JOIN range(1, 65) u(j)
       |GROUP BY cell, j ORDER BY cell, dim""".stripMargin
  }

  private def staticOracleSql: Map[String, String] = Map(
    "q_persist_partition" ->
      """SELECT 'gs://graft/events/' || strftime(ts, '%Y') || '/' || strftime(ts, '%m')
        |       || '/' || strftime(ts, '%d') || '/' || strftime(ts, '%H') || '/'
        |       || CASE WHEN event_type = 'view' THEN 'unknown' ELSE event_type END AS path,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_version_batching" ->
      """SELECT CASE WHEN event_id % 4 = 0 THEN 'blue'
        |            WHEN event_id % 4 = 1 THEN 'red'
        |            WHEN event_id % 4 = 3 THEN 'yellow'
        |            ELSE 'unknown' END AS v_color,
        |       CASE WHEN user_id % 2 = 0 THEN 'left' ELSE 'right' END AS v_spin,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dead_letter" ->
      s"""$IndexCte
         |SELECT unique_id,
         |       'validation_error' AS dead_letter_error_category,
         |       'missing required field business_source_key for ' || broker_msg_id
         |         AS dead_letter_error_reason,
         |       'indexer' AS dead_letter_error_source
         |FROM idx WHERE business_source_key IS NULL
         |ORDER BY unique_id""".stripMargin,
    "q_error_dedup" ->
      s"""$IndexCte
         |SELECT 'missing field on broker ' || broker_id AS message, COUNT(*) AS n
         |FROM idx WHERE business_source_key IS NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_size_calc" ->
      """SELECT 't-' || event_type AS broker_id,
        |       CAST(SUM(octet_length(encode(props))
        |                + 1 + length(json_extract_string(props, '$.k'))
        |                + 2 + length(event_type)) AS BIGINT) AS total_bytes,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_good_bad_split" ->
      s"""$IndexCte
         |SELECT broker_id,
         |       CAST(SUM(CASE WHEN CAST(broker_msg_id AS BIGINT) % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
         |       CAST(SUM(CASE WHEN CAST(broker_msg_id AS BIGINT) % 7 =  0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
         |FROM idx GROUP BY broker_id ORDER BY broker_id""".stripMargin,
    "q_fetch_jobs" ->
      s"""$IndexCte
         |SELECT location_key, COUNT(*) AS n_records,
         |       MIN(location_position) AS min_pos, MAX(location_position) AS max_pos
         |FROM idx GROUP BY location_key ORDER BY location_key""".stripMargin,
    "q_positional_join" ->
      s"""$IndexCte, records AS (
         |  SELECT 'gs://graft/events/blob-' || CAST(event_id // 100 AS VARCHAR) AS location_key,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY event_id // 100 ORDER BY event_id) AS BIGINT)
         |           AS location_position,
         |         props AS payload
         |  FROM events)
         |SELECT unique_id, location_key, location_position, payload
         |FROM records JOIN idx USING (location_key, location_position)
         |WHERE publish_time >= TIMESTAMP '2024-01-05 00:00:00'
         |  AND publish_time <  TIMESTAMP '2024-01-15 00:00:00'
         |  AND broker_id = 't-purchase'
         |ORDER BY unique_id""".stripMargin,
    "q_ordering_groups" ->
      s"""$IndexCte
         |SELECT ordering_key, COUNT(*) AS n,
         |       CASE WHEN ordering_key = '' THEN NULL
         |            ELSE string_agg(unique_id, ','
         |                   ORDER BY location_key, location_position, unique_id) END
         |         AS publish_order
         |FROM idx GROUP BY ordering_key ORDER BY ordering_key""".stripMargin,
    "q_repackage_metadata" ->
      s"""$IndexCte
         |SELECT unique_id,
         |       'business_object_key=' || business_object_key
         |       || CASE WHEN business_source_key IS NULL THEN ''
         |               ELSE ',business_source_key=' || business_source_key END
         |       || CASE WHEN meta_k IS NULL THEN '' ELSE ',k=' || meta_k END
         |       || CASE WHEN ordering_key = '' THEN ''
         |               ELSE ',ordering_key=' || ordering_key END AS attrs_flat
         |FROM idx ORDER BY unique_id""".stripMargin,
    "q_resubmit_ids" -> resubmitOracle(
      "CAST(broker_msg_id AS BIGINT) % 3 = 0"),
    "q_resubmit_interval" -> resubmitOracle(
      """publish_time >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND publish_time <  TIMESTAMP '2024-01-15 00:00:00'
        |  AND broker_id = 't-purchase'""".stripMargin),
    "q_resubmit_query" -> resubmitOracle(
      """(business_source_key = 'bsk1'
        |       AND publish_time >= TIMESTAMP '2024-01-10 00:00:00')
        |   OR (ordering_key = '' AND meta_k >= '50')""".stripMargin),
    "q_idx_build" ->
      s"""$IndexCte
         |SELECT * FROM idx ORDER BY unique_id""".stripMargin,
    "q_idx_point_lookup" ->
      s"""$IndexCte
         |SELECT unique_id, publish_time, location_key, location_position
         |FROM idx WHERE unique_id = (SELECT min(unique_id) FROM idx)""".stripMargin,
    "q_idx_multi_id" ->
      s"""$IndexCte
         |SELECT unique_id, broker_id, location_key FROM idx
         |WHERE unique_id IN (SELECT min(unique_id) FROM idx GROUP BY broker_id)
         |ORDER BY unique_id""".stripMargin,
    "q_idx_interval" ->
      s"""$IndexCte
         |SELECT unique_id, publish_time, location_key, location_position
         |FROM idx
         |WHERE publish_time >= TIMESTAMP '2024-01-05 00:00:00'
         |  AND publish_time <  TIMESTAMP '2024-01-15 00:00:00'
         |  AND broker_id = 't-click'
         |ORDER BY unique_id LIMIT 20 OFFSET 40""".stripMargin,
    "q_idx_count_interval" ->
      s"""$IndexCte
         |SELECT COUNT(*) AS cnt FROM idx
         |WHERE publish_time >= TIMESTAMP '2024-01-05 00:00:00'
         |  AND publish_time <  TIMESTAMP '2024-01-15 00:00:00'
         |  AND broker_id = 't-click'""".stripMargin,
    "q_idx_query_or" ->
      s"""$IndexCte
         |SELECT unique_id, business_source_key, ordering_key, meta_k FROM idx
         |WHERE (business_source_key = 'bsk1'
         |       AND publish_time >= TIMESTAMP '2024-01-10 00:00:00')
         |   OR (ordering_key = '' AND meta_k >= '50')
         |ORDER BY unique_id LIMIT 50""".stripMargin,
    "q_idx_count_query" ->
      s"""$IndexCte
         |SELECT COUNT(*) AS cnt FROM idx
         |WHERE (business_source_key = 'bsk1'
         |       AND publish_time >= TIMESTAMP '2024-01-10 00:00:00')
         |   OR (ordering_key = '' AND meta_k >= '50')""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($discPrice) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,
    "q5_local_supplier_volume" ->
      s"""SELECT n_name, CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_top_customers_per_nation" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal,
        |       CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer)
        |WHERE rnk <= 3
        |ORDER BY c_nationkey, rnk""".stripMargin,
    "q_pagerank" -> pagerankSql(3),
    "q_delete_audit" ->
      s"""$IndexCte
         |SELECT broker_id,
         |  CAST(SUM(CASE WHEN publish_time < TIMESTAMP '2024-01-05 00:00:00'
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
         |  CAST(SUM(CASE WHEN publish_time < TIMESTAMP '2024-01-05 00:00:00'
         |                THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |  CAST(COALESCE(SUM(CASE WHEN publish_time < TIMESTAMP '2024-01-05 00:00:00'
         |                THEN ${h60Sql("unique_id")} % 1000003 END), 0) AS BIGINT)
         |    AS del_fp_sum
         |FROM idx GROUP BY broker_id ORDER BY broker_id""".stripMargin,
    "q_idx_getall_join" ->
      s"""$IndexCte
         |SELECT unique_id, broker_id, location_key FROM idx
         |WHERE CAST(broker_msg_id AS BIGINT) % 3 = 0
         |ORDER BY unique_id""".stripMargin,
    "q_replay_publish" ->
      s"""$IndexCte
         |SELECT ordering_key, COUNT(*) AS n,
         |       CASE WHEN ordering_key = '' THEN NULL
         |            ELSE string_agg(unique_id, ','
         |                   ORDER BY location_key, location_position, unique_id) END
         |         AS publish_order,
         |       CAST(SUM(CAST('0x' || substr(md5(unique_id), 1, 15) AS BIGINT)
         |                % 1000003) AS BIGINT) AS ids_checksum
         |FROM idx GROUP BY ordering_key ORDER BY ordering_key""".stripMargin,
    "q_replay_errors" ->
      s"""$IndexCte,
         |tagged AS (
         |  SELECT CASE
         |    WHEN CAST('0x' || substr(md5(location_key), 1, 15) AS BIGINT) % 11 = 0
         |      THEN 'storage_error'
         |    WHEN CAST('0x' || substr(md5(location_key), 1, 15) AS BIGINT) % 13 = 0
         |      THEN 'deserialization_error'
         |    WHEN CAST('0x' || substr(md5(unique_id), 1, 15) AS BIGINT) % 17 = 0
         |      THEN 'publish_error'
         |    ELSE 'delivered' END AS reason
         |  FROM idx)
         |SELECT reason, COUNT(*) AS n FROM tagged
         |GROUP BY reason ORDER BY reason""".stripMargin,
    "q_latency_metrics" ->
      """SELECT COUNT(*) AS n,
        |       quantile_cont(lat, 0.5) AS p50,
        |       quantile_cont(lat, 0.9) AS p90,
        |       quantile_cont(lat, 0.99) AS p99
        |FROM (SELECT (epoch_us((SELECT max(ts) FROM events)) - epoch_us(ts)) / 1000000.0 AS lat
        |      FROM events)""".stripMargin,
    "q_persist_records" ->
      """SELECT 'gs://graft/events/blob-' || CAST(event_id // 100 AS VARCHAR) AS location_key,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY event_id // 100 ORDER BY event_id) AS BIGINT)
        |         AS location_position,
        |       CAST(event_id AS VARCHAR) AS id,
        |       props AS payload,
        |       't-' || event_type AS broker_id,
        |       CASE WHEN user_id % 3 = 0 THEN NULL
        |            ELSE 'u' || CAST(user_id AS VARCHAR) END AS ordering_key
        |FROM events
        |ORDER BY location_key, location_position""".stripMargin,
    "q_indexer_validation" ->
      """SELECT 't-' || event_type AS broker_id, COUNT(*) AS n_valid,
        |       CAST(0 AS BIGINT) AS n_dead_lettered
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_persist" ->
      """SELECT 't-' || event_type AS broker_id, COUNT(*) AS n,
        |       MIN(pos) AS min_pos, MAX(pos) AS max_pos
        |FROM (SELECT event_type,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY event_id // 100
        |                                     ORDER BY event_id) AS BIGINT) AS pos
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // last-touch credit via aligned-null last_value IGNORE NULLS over the
    // strictly-preceding frame; lag in exact integer microseconds
    "q_attribution" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN ts END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_ts,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_type
        |  FROM events),
        |c AS (SELECT *, CAST(date_diff('microsecond', t_ts, ts) AS BIGINT) AS lag_us
        |      FROM t WHERE event_type = 'purchase'),
        |a AS (SELECT CASE WHEN t_ts IS NOT NULL AND t_ts < ts
        |                       AND lag_us <= 21600000000
        |                  THEN t_type ELSE '(none)' END AS attr_type,
        |             value, lag_us FROM c)
        |SELECT attr_type, CAST(COUNT(*) AS BIGINT) AS n_conv,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |       CAST(SUM(CASE WHEN attr_type <> '(none)' THEN lag_us ELSE 0 END)
        |            AS BIGINT) AS sum_lag_us
        |FROM a GROUP BY 1 ORDER BY attr_type""".stripMargin,
    "q_sessionize" ->
      """WITH b AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts >= lag(ts) OVER w + INTERVAL 6 HOUR
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM b)
        |SELECT user_id,
        |       min(ts) AS session_start,
        |       max(ts) + INTERVAL 6 HOUR AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    "q_window_agg" ->
      """SELECT date_trunc('day', ts) AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_latest_per_key" ->
      """SELECT user_id, ts, event_id, event_type FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,
    // hopping windows: every event belongs to exactly duration/slide = 4
    // epoch-aligned candidate windows (floor to the 6h slide, back-shift
    // k slides) — no containment filter needed, micros arithmetic matches
    // Spark's epoch-aligned window() exactly
    "q_window_hopping" ->
      """WITH h AS (
        |  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000
        |                        - k * 21600000000) AS window_start,
        |         event_type, value
        |  FROM events, (SELECT unnest(range(0, 4)) AS k))
        |SELECT window_start, event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
        |ORDER BY purchase_id""".stripMargin,
    "q_recent_context" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_ts >= p.purchase_ts - INTERVAL 1 DAY
        |  AND c.click_ts <= p.purchase_ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q_range_join" ->
      """WITH promos AS (
        |  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)
        |    AS promo_start FROM orders),
        |p2 AS (SELECT promo_start, promo_start + INTERVAL 45 DAY AS promo_end
        |       FROM promos)
        |SELECT promo_start, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM p2 JOIN lineitem
        |  ON l_shipdate >= promo_start AND l_shipdate < promo_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, md5(text) AS fp,
        |       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |       count(*) OVER (PARTITION BY md5(text)) AS group_size
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_fingerprint" ->
      s"""$ToksCte
         |SELECT doc_id, fp,
         |       min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
         |       count(*) OVER (PARTITION BY fp) AS group_size
         |FROM (SELECT doc_id,
         |             md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |      FROM toks)
         |ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      s"""$ToksCte,
         |$ShinglesCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       len(list_intersect(a.sh, b.sh))::DOUBLE
         |         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
         |         AS jaccard
         |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
         |WHERE jaccard >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_containment_pairs" ->
      s"""$ToksCte,
         |$ShinglesCte,
         |p AS (SELECT doc_id, unnest(sh) AS s FROM s2),
         |k AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM p GROUP BY 1)
         |      WHERE df <= 64),
         |kp AS (SELECT doc_id, s FROM p JOIN k USING (s)),
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM kp GROUP BY 1),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             CAST(COUNT(*) AS BIGINT) AS inter
         |      FROM kp a JOIN kp b ON a.s = b.s AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |r AS (SELECT doc_a, doc_b, inter, sa.n AS n_a, sb.n AS n_b,
         |        CAST((1000000::HUGEINT * inter) // sa.n AS BIGINT) AS cont_a_ppm,
         |        CAST((1000000::HUGEINT * inter) // sb.n AS BIGINT) AS cont_b_ppm
         |      FROM i JOIN sz sa ON i.doc_a = sa.doc_id
         |             JOIN sz sb ON i.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, inter, n_a, n_b, cont_a_ppm, cont_b_ppm
         |FROM r WHERE greatest(cont_a_ppm, cont_b_ppm) >= 500000
         |ORDER BY doc_a, doc_b""".stripMargin,
    // source-level distinct-shingle postings → pairwise exact Jaccard
    "q_source_overlap" ->
      s"""$ToksCte,
         |$ShinglesCte,
         |p AS (SELECT DISTINCT d.source, ${h60Sql("u.sh")} AS h
         |      FROM s2 JOIN documents d USING (doc_id), unnest(s2.sh) AS u(sh)),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1),
         |c AS (SELECT a.source AS src_a, b.source AS src_b,
         |             CAST(COUNT(*) AS BIGINT) AS n_common
         |      FROM p a JOIN p b ON a.h = b.h AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |       CAST((1000000::HUGEINT * n_common)
         |            // (sa.n + sb.n - n_common) AS BIGINT) AS jaccard_ppm
         |FROM c JOIN sz sa ON c.src_a = sa.source
         |       JOIN sz sb ON c.src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin,
    // KMV sketch (k=128): per-source 128 smallest distinct shingle h60s;
    // pairwise Ĵ = shared-in-top-128-of-union / 128 — all integer
    "q_source_kmv" ->
      s"""$ToksCte,
         |$ShinglesCte,
         |p AS (SELECT DISTINCT d.source, ${h60Sql("u.sh")} AS h
         |      FROM s2 JOIN documents d USING (doc_id), unnest(s2.sh) AS u(sh)),
         |sk AS (SELECT source, h FROM (
         |         SELECT source, h,
         |                ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r
         |         FROM p) WHERE r <= 128),
         |srcs AS (SELECT DISTINCT source FROM sk),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b
         |       FROM srcs a JOIN srcs b ON a.source < b.source),
         |u AS (SELECT src_a, src_b, h,
         |             MAX(in_a) AS in_a, MAX(in_b) AS in_b
         |      FROM (SELECT pr.src_a, pr.src_b, sk.h,
         |                   1 AS in_a, 0 AS in_b
         |            FROM pr JOIN sk ON sk.source = pr.src_a
         |            UNION ALL
         |            SELECT pr.src_a, pr.src_b, sk.h, 0, 1
         |            FROM pr JOIN sk ON sk.source = pr.src_b)
         |      GROUP BY 1, 2, 3),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b
         |                                    ORDER BY h) AS r FROM u)
         |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS k_used,
         |       CAST(SUM(in_a * in_b) AS BIGINT) AS n_shared,
         |       CAST((1000000 * SUM(in_a * in_b)) // COUNT(*) AS BIGINT)
         |         AS jaccard_est_ppm
         |FROM rk WHERE r <= 128 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // KMV cardinality: D̂ = (k−1)·2^60 DIV h_k when saturated, exact
    // k_used when the sketch holds the whole set — HUGEINT == DECIMAL div
    "q_kmv_cardinality" ->
      s"""$ToksCte,
         |$ShinglesCte,
         |p AS (SELECT DISTINCT d.source, ${h60Sql("u.sh")} AS h
         |      FROM s2 JOIN documents d USING (doc_id), unnest(s2.sh) AS u(sh)),
         |sk AS (SELECT source, h FROM (
         |         SELECT source, h,
         |                ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r
         |         FROM p) WHERE r <= 16),
         |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS k_used,
         |             CAST(MAX(h) AS BIGINT) AS kth FROM sk GROUP BY 1)
         |SELECT source, k_used, kth,
         |       CAST(CASE WHEN k_used < 16 OR kth <= 0 THEN k_used
         |                 ELSE ((k_used - 1)::HUGEINT
         |                       * 1152921504606846976::HUGEINT) // kth
         |            END AS BIGINT) AS est_distinct
         |FROM a ORDER BY source""".stripMargin,
    // cluster-size log2 buckets over the recursive-closure labels;
    // length(bin(sz)) − 1 = floor(log2) on both engines
    "q_dedup_savings" ->
      s"""$ClustersCtes,
         |cl AS (SELECT doc_id, least(doc_id, min(r)) AS cluster_id
         |       FROM reach GROUP BY doc_id),
         |szs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
         |        FROM cl GROUP BY 1),
         |bk AS (SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket, sz
         |       FROM szs)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |       CAST(SUM(sz) AS BIGINT) AS n_docs,
         |       CAST(SUM(sz - 1) AS BIGINT) AS n_redundant
         |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin,
    // ED-Join prefix filter replayed verbatim: occurrence-tagged 4-grams,
    // global token df, each doc's 33 rarest tokens (d*q+1 with d=8, q=4)
    // under (df ASC, gram ASC, occ ASC), posting self-join, exact
    // levenshtein — integer semantics agree between the engines
    "q_dedup_edit" ->
      """WITH eligible AS (
        |  SELECT doc_id, text, len(text) AS ed_len FROM documents
        |  WHERE len(text) >= 36),
        |g AS (SELECT doc_id, ed_len, text,
        |             unnest(range(1, len(text) - 4 + 2)) AS pos
        |      FROM eligible),
        |tagged AS (
        |  SELECT doc_id, ed_len, substr(text, CAST(pos AS INT), 4) AS gram, pos,
        |         row_number() OVER (
        |           PARTITION BY doc_id, substr(text, CAST(pos AS INT), 4)
        |           ORDER BY pos) AS occ
        |  FROM g),
        |dfs AS (SELECT gram, occ, COUNT(*) AS tok_df FROM tagged GROUP BY 1, 2),
        |ranked AS (
        |  SELECT t.doc_id, t.ed_len, t.gram, t.occ,
        |         row_number() OVER (PARTITION BY t.doc_id
        |           ORDER BY f.tok_df ASC, t.gram ASC, t.occ ASC) AS r
        |  FROM tagged t JOIN dfs f USING (gram, occ)),
        |prefix AS (SELECT doc_id, ed_len, gram, occ FROM ranked WHERE r <= 33),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM prefix a JOIN prefix b
        |    ON a.gram = b.gram AND a.occ = b.occ AND a.doc_id < b.doc_id
        |   AND abs(a.ed_len - b.ed_len) <= 8)
        |SELECT doc_a, doc_b,
        |       CAST(levenshtein(ea.text, eb.text) AS BIGINT) AS dist
        |FROM cands
        |JOIN eligible ea ON ea.doc_id = cands.doc_a
        |JOIN eligible eb ON eb.doc_id = cands.doc_b
        |WHERE levenshtein(ea.text, eb.text) <= 8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the bipartite crawl twin: kept-side df is the shared prefix order,
    // unseen batch tokens take df 0 (novel grams fill the prefix first)
    "q_dedup_edit_against" ->
      """WITH be AS (
        |  SELECT doc_id, text, len(text) AS ed_len FROM documents
        |  WHERE doc_id % 2 = 1 AND len(text) >= 36),
        |ke AS (
        |  SELECT doc_id, text, len(text) AS ed_len FROM documents
        |  WHERE doc_id % 2 = 0 AND len(text) >= 36),
        |kt AS (SELECT doc_id, ed_len, substr(text, CAST(pos AS INT), 4) AS gram,
        |              row_number() OVER (
        |                PARTITION BY doc_id, substr(text, CAST(pos AS INT), 4)
        |                ORDER BY pos) AS occ
        |       FROM (SELECT doc_id, ed_len, text,
        |                    unnest(range(1, len(text) - 4 + 2)) AS pos FROM ke)),
        |bt AS (SELECT doc_id, ed_len, substr(text, CAST(pos AS INT), 4) AS gram,
        |              row_number() OVER (
        |                PARTITION BY doc_id, substr(text, CAST(pos AS INT), 4)
        |                ORDER BY pos) AS occ
        |       FROM (SELECT doc_id, ed_len, text,
        |                    unnest(range(1, len(text) - 4 + 2)) AS pos FROM be)),
        |dfs AS (SELECT gram, occ, COUNT(*) AS ed_df FROM kt GROUP BY 1, 2),
        |kp AS (SELECT doc_id, ed_len, gram, occ FROM (
        |         SELECT t.doc_id, t.ed_len, t.gram, t.occ,
        |                row_number() OVER (PARTITION BY t.doc_id
        |                  ORDER BY COALESCE(f.ed_df, 0) ASC, t.gram ASC, t.occ ASC) AS r
        |         FROM kt t LEFT JOIN dfs f USING (gram, occ)) WHERE r <= 33),
        |bp AS (SELECT doc_id, ed_len, gram, occ FROM (
        |         SELECT t.doc_id, t.ed_len, t.gram, t.occ,
        |                row_number() OVER (PARTITION BY t.doc_id
        |                  ORDER BY COALESCE(f.ed_df, 0) ASC, t.gram ASC, t.occ ASC) AS r
        |         FROM bt t LEFT JOIN dfs f USING (gram, occ)) WHERE r <= 33),
        |cands AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS kept_id
        |          FROM bp a JOIN kp b ON a.gram = b.gram AND a.occ = b.occ
        |                             AND abs(a.ed_len - b.ed_len) <= 8)
        |SELECT c.doc_id, c.kept_id,
        |       CAST(levenshtein(be.text, ke.text) AS BIGINT) AS dist
        |FROM cands c
        |JOIN be ON be.doc_id = c.doc_id
        |JOIN ke ON ke.doc_id = c.kept_id
        |WHERE levenshtein(be.text, ke.text) <= 8
        |ORDER BY c.doc_id, c.kept_id""".stripMargin,
    // the short-length class is caller-bounded, so the oracle is the
    // definition itself: all pairs of sub-96-char docs within ED <= 5
    // (the length predicate is necessary — ED >= |len diff|)
    "q_dedup_edit_short" ->
      """WITH s AS (
        |  SELECT doc_id, text FROM documents WHERE len(text) < 96)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |FROM s a JOIN s b
        |  ON a.doc_id < b.doc_id AND abs(len(a.text) - len(b.text)) <= 5
        |WHERE levenshtein(a.text, b.text) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the straddle band is width-d by the |len diff| <= d necessity, so
    // the oracle is again the definition itself: all cross-class pairs
    // over the planted-augmented corpus (93/97-char prefix variants of
    // every 17th long doc — guaranteed ED-4 straddles of the 96 boundary)
    "q_dedup_edit_boundary" ->
      """WITH seeds AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(text) >= 120 AND doc_id % 17 = 3),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000000, substr(text, 1, 93) FROM seeds
        |  UNION ALL SELECT doc_id + 20000000, substr(text, 1, 97) FROM seeds),
        |s AS (SELECT doc_id, text, len(text) AS l FROM corpus
        |      WHERE len(text) >= 91 AND len(text) < 96),
        |g AS (SELECT doc_id, text, len(text) AS l FROM corpus
        |      WHERE len(text) >= 96 AND len(text) < 101)
        |SELECT least(s.doc_id, g.doc_id) AS doc_a,
        |       greatest(s.doc_id, g.doc_id) AS doc_b,
        |       CAST(levenshtein(s.text, g.text) AS BIGINT) AS dist
        |FROM s JOIN g ON abs(s.l - g.l) <= 5
        |WHERE levenshtein(s.text, g.text) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // bipartite short complement: definitional, with the min-len cut
    // excluding exactly the pairs q_dedup_edit_against already owns
    "q_dedup_edit_short_against" ->
      """WITH b AS (SELECT doc_id, text FROM documents
        |           WHERE doc_id % 2 = 1 AND len(text) < 101),
        |     k AS (SELECT doc_id, text FROM documents
        |           WHERE doc_id % 2 = 0 AND len(text) < 101)
        |SELECT b.doc_id AS doc_id, k.doc_id AS kept_id,
        |       CAST(levenshtein(b.text, k.text) AS BIGINT) AS dist
        |FROM b JOIN k ON abs(len(b.text) - len(k.text)) <= 5
        |             AND (len(b.text) < 96 OR len(k.text) < 96)
        |WHERE levenshtein(b.text, k.text) <= 5
        |ORDER BY doc_id, kept_id""".stripMargin,
    // RRF fusion of the q_bm25 lexical ranking with the cosine ranking
    // around anchor vec 0; contributions 10^6 DIV (60 + rank), BIGINT
    "q_rrf_fusion" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       WHERE tok IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |w AS (SELECT doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |bm AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score
         |       FROM w GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 25),
         |lex AS (SELECT doc_id,
         |               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
         |                 AS BIGINT) AS rank_a
         |        FROM bm),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS d,
         |             sqrt(list_dot_product(embedding::DOUBLE[],
         |                                   embedding::DOUBLE[])) AS nrm
         |      FROM embeddings),
         |q AS (SELECT d AS dq, nrm AS nq FROM e WHERE vec_id = 0),
         |sem AS (SELECT neighbor_id AS doc_id, rank AS rank_b FROM (
         |          SELECT e.vec_id AS neighbor_id,
         |                 CAST(ROW_NUMBER() OVER (
         |                   ORDER BY list_dot_product(dq, d) / (nq * nrm) DESC,
         |                            e.vec_id) AS BIGINT) AS rank
         |          FROM e, q WHERE e.vec_id <> 0) WHERE rank <= 25),
         |f AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         |             COALESCE(rank_a, 0) AS rank_a,
         |             COALESCE(rank_b, 0) AS rank_b
         |      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
         |g AS (SELECT doc_id, rank_a, rank_b,
         |             CAST((CASE WHEN rank_a > 0
         |                        THEN 1000000 // (60 + rank_a) ELSE 0 END)
         |                + (CASE WHEN rank_b > 0
         |                        THEN 1000000 // (60 + rank_b) ELSE 0 END)
         |               AS BIGINT) AS rrf_ppm
         |      FROM f)
         |SELECT * FROM (
         |  SELECT doc_id, rank_a, rank_b, rrf_ppm,
         |         CAST(ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id)
         |           AS BIGINT) AS fused_rank
         |  FROM g)
         |WHERE fused_rank <= 10 ORDER BY fused_rank""".stripMargin,
    "q_dedup_minhash_lsh" ->
      s"""$ToksCte,
         |$ShinglesCte,
         |mh AS (
         |  SELECT doc_id, sh, list_transform(range(0, 24), i ->
         |      list_min(list_transform(hs, h -> ($MhA[i+1] * h + $MhB[i+1])
         |                                        % ${graft.functions.TextFunctions.MinHashP}))) AS sig
         |  FROM (SELECT doc_id, sh,
         |               list_transform(sh, s -> ${h60Sql("s")} & 4294967295) AS hs
         |        FROM s2)),
         |bands AS (
         |  SELECT doc_id, b AS band,
         |         md5(array_to_string(list_transform(range(b*4+1, b*4+5),
         |             j -> CAST(sig[j] AS VARCHAR)), ',')) AS bsig
         |  FROM mh, range(0, 6) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       len(list_intersect(a.sh, b.sh))::DOUBLE
         |         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
         |         AS jaccard
         |FROM cand JOIN s2 a ON doc_a = a.doc_id JOIN s2 b ON doc_b = b.doc_id
         |WHERE jaccard >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_contamination_report" ->
      s"""$ToksCte,
         |$ShinglesCte,
         |eg AS (SELECT doc_id AS eval_id, unnest(sh) AS g FROM sets
         |       WHERE doc_id % 97 = 1),
         |tg AS (SELECT DISTINCT unnest(sh) AS g FROM sets WHERE doc_id % 3 <> 0),
         |ng AS (SELECT eval_id, COUNT(*) AS n_grams FROM eg GROUP BY eval_id),
         |nh AS (SELECT eval_id, COUNT(*) AS n_grams_hit FROM eg
         |       WHERE g IN (SELECT g FROM tg) GROUP BY eval_id),
         |tw AS (SELECT md5(text) AS f, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM documents WHERE doc_id % 3 <> 0 GROUP BY f)
         |SELECT e.doc_id AS eval_id,
         |       CAST(COALESCE(ng.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(COALESCE(nh.n_grams_hit, 0) AS BIGINT) AS n_grams_hit,
         |       COALESCE(nh.n_grams_hit, 0)::DOUBLE
         |         / GREATEST(COALESCE(ng.n_grams, 0), 1)::DOUBLE AS hit_ratio,
         |       CAST(COALESCE(tw.c, 0) AS BIGINT) AS n_exact_twins
         |FROM documents e
         |LEFT JOIN tw ON md5(e.text) = tw.f
         |LEFT JOIN ng ON e.doc_id = ng.eval_id
         |LEFT JOIN nh ON e.doc_id = nh.eval_id
         |WHERE e.doc_id % 97 = 1
         |ORDER BY eval_id""".stripMargin,
    "q_dedup_against" ->
      s"""$ToksCte,
         |$ShinglesCte,
         |mh AS (
         |  SELECT doc_id, sh, list_transform(range(0, 24), i ->
         |      list_min(list_transform(hs, h -> ($MhA[i+1] * h + $MhB[i+1])
         |                                        % ${graft.functions.TextFunctions.MinHashP}))) AS sig
         |  FROM (SELECT doc_id, sh,
         |               list_transform(sh, s -> ${h60Sql("s")} & 4294967295) AS hs
         |        FROM s2)),
         |bands AS (
         |  SELECT doc_id, b AS band,
         |         md5(array_to_string(list_transform(range(b*4+1, b*4+5),
         |             j -> CAST(sig[j] AS VARCHAR)), ',')) AS bsig
         |  FROM mh, range(0, 6) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |hit AS (
         |  SELECT DISTINCT doc_a FROM cand
         |  JOIN s2 a ON doc_a = a.doc_id JOIN s2 b ON doc_b = b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
         |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
         |          >= 0.6)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_a FROM hit)
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_canonical" ->
      s"""$ClustersCtes,
         |cl AS (SELECT doc_id, least(doc_id, min(r)) AS cluster_id
         |       FROM reach GROUP BY doc_id),
         |rk AS (SELECT cl.doc_id, cl.cluster_id,
         |              CAST(d.n_chars AS BIGINT) AS score,
         |              ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
         |                                 ORDER BY d.n_chars DESC, cl.doc_id) AS rn
         |       FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
         |SELECT doc_id, cluster_id, score, (rn = 1) AS kept
         |FROM rk ORDER BY doc_id""".stripMargin,
    "q_dedup_clusters" -> ClustersOracleSql,
    // incremental merge must reproduce the one-shot clustering exactly,
    // so the oracle is the SAME recursive closure over the full pair set
    "q_dedup_clusters_inc" -> ClustersOracleSql,
    "q_dedup_substring" ->
      s"""$ToksCte,
         |w AS (
         |  SELECT doc_id, i AS start,
         |         md5(array_to_string(toks[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ')) AS fp
         |  FROM toks, unnest(range(0, len(toks) - 7)) t(i)
         |  WHERE len(toks) >= 8),
         |dup AS (
         |  SELECT doc_id, start FROM (
         |    SELECT doc_id, start,
         |           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, start) AS rn
         |    FROM w) WHERE rn > 1),
         |cutpos AS (
         |  SELECT DISTINCT doc_id, start + j AS pos
         |  FROM dup, unnest(range(0, 8)) t(j)),
         |tok AS (SELECT doc_id, i - 1 AS pos, toks[CAST(i AS INT)] AS tok
         |        FROM toks, unnest(range(1, len(toks)+1)) t(i))
         |SELECT t.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.tok END,
         |                      ' ' ORDER BY t.pos), '') AS text_dedup
         |FROM tok t LEFT JOIN cutpos c ON t.doc_id = c.doc_id AND t.pos = c.pos
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_dedup_paragraph" ->
      s"""$ToksCte,
         |tk AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS i, toks FROM toks),
         |tok AS (SELECT doc_id, i, toks[CAST(i AS INT)] AS tok FROM tk),
         |fl AS (SELECT doc_id, i, tok,
         |              CASE WHEN ${h60Sql("tok")} % 4 = 0 THEN 1 ELSE 0 END AS b
         |       FROM tok),
         |pn AS (SELECT doc_id, i, tok,
         |              COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS para_no
         |       FROM fl),
         |paras AS (SELECT doc_id, para_no, string_agg(tok, ' ' ORDER BY i) AS ptext
         |          FROM pn GROUP BY doc_id, para_no),
         |mk AS (SELECT doc_id, para_no, ptext,
         |              row_number() OVER (PARTITION BY md5(ptext)
         |                                 ORDER BY doc_id, para_no) AS rn
         |       FROM paras)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
         |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       COALESCE(string_agg(CASE WHEN rn = 1 THEN ptext END,
         |                           ' ' ORDER BY para_no), '') AS text_dedup
         |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same content-defined paragraph CTEs as q_dedup_paragraph; the rule
    // flips from keep-first to drop-everywhere when df > 2 distinct docs
    "q_boilerplate_paragraphs" ->
      s"""$ToksCte,
         |tk AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS i, toks FROM toks),
         |tok AS (SELECT doc_id, i, toks[CAST(i AS INT)] AS tok FROM tk),
         |fl AS (SELECT doc_id, i, tok,
         |              CASE WHEN ${h60Sql("tok")} % 4 = 0 THEN 1 ELSE 0 END AS b
         |       FROM tok),
         |pn AS (SELECT doc_id, i, tok,
         |              COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS para_no
         |       FROM fl),
         |paras AS (SELECT doc_id, para_no, string_agg(tok, ' ' ORDER BY i) AS ptext
         |          FROM pn GROUP BY doc_id, para_no),
         |dfc AS (SELECT md5(ptext) AS fp, COUNT(DISTINCT doc_id) AS para_df
         |        FROM paras GROUP BY md5(ptext))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
         |       CAST(SUM(CASE WHEN para_df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |       COALESCE(string_agg(CASE WHEN para_df <= 2 THEN ptext END,
         |                           ' ' ORDER BY para_no), '') AS text_clean
         |FROM paras JOIN dfc ON md5(paras.ptext) = dfc.fp
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""$ToksCte,
         |sims AS (
         |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
         |      CASE WHEN list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)) > 0
         |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
         |    AS simhash
         |  FROM (SELECT doc_id,
         |               list_transform(list_distinct(toks), t -> ${h60Sql("t")}) AS hs
         |        FROM toks))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // nprobe == numCells ⇒ exact full scan ⇒ identical to the brute-force
    // top-k contract (same predicate, same k, same tie-break)
    "q_ivf_kmeans" ->
      s"""$EmbCte,
         |q AS (SELECT vec_id AS query_id, d AS dq, nrm AS nq FROM e WHERE vec_id % 50 = 0),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |              list_dot_product(dq, d) / (nq * nrm) AS cosine
         |       FROM e JOIN q ON query_id <> e.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
         |         cosine
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // Same exact-scan contract as q_ivf_kmeans: the stored-index variant
    // must serve the identical brute-force top-5 after its parquet
    // round-trip (bit-exact FP64), so the oracle is the same query.
    "q_ivf_stored" ->
      s"""$EmbCte,
         |q AS (SELECT vec_id AS query_id, d AS dq, nrm AS nq FROM e WHERE vec_id % 50 = 0),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |              list_dot_product(dq, d) / (nq * nrm) AS cosine
         |       FROM e JOIN q ON query_id <> e.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
         |         cosine
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // nprobe = numCells ⇒ the assigned-store serve probes every cell, so
    // the oracle is the exact scan (q_ivf_stored's trick — no kmeans
    // assignment replayed against literal centroids in DuckDB)
    "q_ivf_assigned" ->
      s"""$EmbCte,
         |q AS (SELECT vec_id AS query_id, d AS dq, nrm AS nq FROM e WHERE vec_id % 50 = 0),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |              list_dot_product(dq, d) / (nq * nrm) AS cosine
         |       FROM e JOIN q ON query_id <> e.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
         |         cosine
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // store-delete ≡ rebuild: the exact scan over the SURVIVING vectors
    // (nprobe = numCells), with the doc-level tombstone audit cross-joined
    "q_ann_delete" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS d,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings WHERE vec_id % 5 <> 2),
         |aud AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN vec_id % 5 = 2 THEN 1 END), 0) AS BIGINT) AS n_deleted,
         |         CAST(COALESCE(SUM(CASE WHEN vec_id % 5 <> 2 THEN 1 END), 0) AS BIGINT) AS n_kept,
         |         CAST(COALESCE(SUM(CASE WHEN vec_id % 5 = 2
         |             THEN ${h60Sql("CAST(vec_id AS VARCHAR)")} % 1000003 END), 0) AS BIGINT)
         |           AS del_fp_sum
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, d AS dq, nrm AS nq FROM e WHERE vec_id % 50 = 0),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |              list_dot_product(dq, d) / (nq * nrm) AS cosine
         |       FROM e JOIN q ON query_id <> e.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
         |         cosine
         |  FROM sc), aud
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // refresh+rewrite preserves the corpus bit-for-bit: nprobe = numCells
    // makes the v2 serve an exact scan REGARDLESS of the refreshed
    // centroids, so the oracle is the full-corpus brute-force top-k — any
    // row lost or coordinate damaged by the rewrite mismatches the hash
    "q_ivf_retrain" ->
      s"""$EmbCte,
         |q AS (SELECT vec_id AS query_id, d AS dq, nrm AS nq FROM e WHERE vec_id % 50 = 0),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |              list_dot_product(dq, d) / (nq * nrm) AS cosine
         |       FROM e JOIN q ON query_id <> e.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
         |         cosine
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_topk_cosine" ->
      s"""$EmbCte,
         |q AS (SELECT vec_id AS query_id, d AS dq, nrm AS nq FROM e WHERE vec_id % 50 = 0),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |              list_dot_product(dq, d) / (nq * nrm) AS cosine
         |       FROM e JOIN q ON query_id <> e.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
         |         cosine
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ivf_topk" ->
      s"""$EmbCte,
         |c AS (SELECT vec_id, d, nrm,
         |             CAST(list_sum(list_transform(range(0, 4),
         |                 p -> bits[p+1] << p)) AS BIGINT) AS cell
         |      FROM e),
         |q AS (SELECT vec_id AS query_id, cell, d AS dq, nrm AS nq
         |      FROM c WHERE vec_id % 50 = 0),
         |sc AS (SELECT query_id, q.cell AS cell, c.vec_id AS neighbor_id,
         |              list_dot_product(dq, d) / (nq * nrm) AS cosine
         |       FROM c JOIN q ON q.cell = c.cell AND query_id <> c.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, cell, neighbor_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
         |         cosine
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // pred = q_dedup_simhash's hamming ≤ 2 pairs, truth = q_ngram_jaccard's
    // exact J ≥ 0.6 pairs; one row of counts + derived precision/recall
    "q_dedup_pair_pr" -> pairPrOracle(ToksCte),
    // the same readout over the h60-gated half-corpus sample — the
    // executable form of the "ground truth on a sample" contract
    "q_dedup_pair_pr_sampled" -> pairPrOracle(sampledToksCte(0.5, "prs1")),
    // approx = q_ivf_topk's cell-restricted ranking, exact = q_topk_cosine's
    // full scan; recall@5 = their per-query top-5 intersection / 5
    "q_ann_recall" ->
      s"""$EmbCte,
         |c AS (SELECT vec_id, d, nrm,
         |             CAST(list_sum(list_transform(range(0, 4),
         |                 p -> bits[p+1] << p)) AS BIGINT) AS cell
         |      FROM e),
         |q AS (SELECT vec_id AS query_id, cell, d AS dq, nrm AS nq
         |      FROM c WHERE vec_id % 50 = 0),
         |sa AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, c.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY list_dot_product(dq, d) / (nq * nrm) DESC, c.vec_id) AS rnk
         |    FROM c JOIN q ON q.cell = c.cell AND query_id <> c.vec_id)
         |  WHERE rnk <= 5),
         |se AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, c.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY list_dot_product(dq, d) / (nq * nrm) DESC, c.vec_id) AS rnk
         |    FROM c JOIN q ON query_id <> c.vec_id)
         |  WHERE rnk <= 5),
         |hits AS (SELECT se.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |         FROM se JOIN sa ON se.query_id = sa.query_id
         |                        AND se.neighbor_id = sa.neighbor_id
         |         GROUP BY se.query_id)
         |SELECT u.query_id, COALESCE(h.n_hits, 0) AS n_hits,
         |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM se) u
         |LEFT JOIN hits h ON u.query_id = h.query_id
         |ORDER BY u.query_id""".stripMargin,
    // per-dim moment state: double-exact widening, v² exact in double,
    // DECIMAL(27,6) sums ×1e6 → BIGINT micro-units (the cellStats rule)
    "q_emb_moments" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS d FROM embeddings)
        |SELECT CAST(j - 1 AS INT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(d[CAST(j AS INT)] AS DECIMAL(27,6))) * 1000000
        |            AS BIGINT) AS s_micro,
        |       CAST(SUM(CAST(d[CAST(j AS INT)] * d[CAST(j AS INT)]
        |                     AS DECIMAL(27,6))) * 1000000
        |            AS BIGINT) AS s2_micro
        |FROM e CROSS JOIN range(1, 65) u(j)
        |GROUP BY j ORDER BY dim""".stripMargin,
    // probes join seeds in the same 4-bit SRP cell; majority of the top-5
    // seed votes, ties to the smaller label; cell-less probes absent
    "q_knn_classify" ->
      s"""$EmbCte,
         |c AS (SELECT vec_id, d, nrm,
         |             CAST(list_sum(list_transform(range(0, 4),
         |                 p -> bits[p+1] << p)) AS BIGINT) AS cell
         |      FROM e),
         |sd AS (SELECT c.vec_id AS seed_id, em.label AS seed_label,
         |              cell, d AS ds, nrm AS ns
         |       FROM c JOIN embeddings em ON em.vec_id = c.vec_id
         |       WHERE c.vec_id % 5 = 0),
         |pr AS (SELECT vec_id, cell, d AS dp, nrm AS np
         |       FROM c WHERE vec_id % 5 <> 0),
         |top AS (SELECT vec_id, seed_label FROM (
         |    SELECT pr.vec_id, sd.seed_label, sd.seed_id,
         |           ROW_NUMBER() OVER (PARTITION BY pr.vec_id
         |             ORDER BY list_dot_product(dp, ds) / (np * ns) DESC,
         |                      sd.seed_id) AS rnk
         |    FROM pr JOIN sd USING (cell))
         |  WHERE rnk <= 5),
         |v AS (SELECT vec_id, seed_label, CAST(COUNT(*) AS BIGINT) AS votes
         |      FROM top GROUP BY 1, 2),
         |t AS (SELECT vec_id, seed_label, votes,
         |        CAST(SUM(votes) OVER (PARTITION BY vec_id) AS BIGINT) AS n_votes,
         |        ROW_NUMBER() OVER (PARTITION BY vec_id
         |                           ORDER BY votes DESC, seed_label) AS rn
         |      FROM v)
         |SELECT vec_id, seed_label AS pred_label, votes, n_votes
         |FROM t WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // r1 = q_knn_classify's vote; r2 re-ranks each probe over same-cell
    // LABELED neighbors (seeds ∪ r1), majority with the same tie rule
    "q_label_prop" ->
      s"""$EmbCte,
         |c AS (SELECT vec_id, d, nrm,
         |             CAST(list_sum(list_transform(range(0, 4),
         |                 p -> bits[p+1] << p)) AS BIGINT) AS cell
         |      FROM e),
         |sd AS (SELECT c.vec_id AS seed_id, em.label AS seed_label,
         |              cell, d AS ds, nrm AS ns
         |       FROM c JOIN embeddings em ON em.vec_id = c.vec_id
         |       WHERE c.vec_id % 5 = 0),
         |pr AS (SELECT vec_id, cell, d AS dp, nrm AS np
         |       FROM c WHERE vec_id % 5 <> 0),
         |t1 AS (SELECT vec_id, seed_label FROM (
         |    SELECT pr.vec_id, sd.seed_label, sd.seed_id,
         |           ROW_NUMBER() OVER (PARTITION BY pr.vec_id
         |             ORDER BY list_dot_product(dp, ds) / (np * ns) DESC,
         |                      sd.seed_id) AS rnk
         |    FROM pr JOIN sd USING (cell))
         |  WHERE rnk <= 5),
         |v1 AS (SELECT vec_id, seed_label, COUNT(*) AS votes
         |       FROM t1 GROUP BY 1, 2),
         |r1 AS (SELECT vec_id, seed_label AS lbl FROM (
         |    SELECT vec_id, seed_label,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id
         |                              ORDER BY votes DESC, seed_label) AS rn
         |    FROM v1) WHERE rn = 1),
         |lab1 AS (SELECT vec_id, label AS lbl FROM embeddings WHERE vec_id % 5 = 0
         |         UNION ALL SELECT vec_id, lbl FROM r1),
         |p2 AS (SELECT pr.vec_id, cb.vec_id AS nb,
         |              list_dot_product(dp, cb.d) / (np * cb.nrm) AS cosine
         |       FROM pr JOIN c cb USING (cell) WHERE pr.vec_id <> cb.vec_id),
         |t2 AS (SELECT vec_id, lbl FROM (
         |    SELECT p2.vec_id, l.lbl, p2.nb,
         |           ROW_NUMBER() OVER (PARTITION BY p2.vec_id
         |                              ORDER BY p2.cosine DESC, p2.nb) AS rnk
         |    FROM p2 JOIN lab1 l ON l.vec_id = p2.nb)
         |  WHERE rnk <= 5),
         |v2 AS (SELECT vec_id, lbl, CAST(COUNT(*) AS BIGINT) AS votes
         |       FROM t2 GROUP BY 1, 2),
         |r2 AS (SELECT vec_id, lbl, votes, n_votes FROM (
         |    SELECT vec_id, lbl, votes,
         |           CAST(SUM(votes) OVER (PARTITION BY vec_id) AS BIGINT) AS n_votes,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id
         |                              ORDER BY votes DESC, lbl) AS rn
         |    FROM v2) WHERE rn = 1)
         |SELECT vec_id, label AS lbl, 'seed' AS origin,
         |       CAST(0 AS BIGINT) AS votes, CAST(0 AS BIGINT) AS n_votes
         |FROM embeddings WHERE vec_id % 5 = 0
         |UNION ALL
         |SELECT vec_id, lbl, 'prop' AS origin, votes, n_votes FROM r2
         |ORDER BY vec_id""".stripMargin,
    // approx = the first-32-dims ranking (list slice of the SAME table
    // column — the column⋈column dot path, never a literal), exact =
    // q_topk_cosine's full-dimension scan; recall@5 per query
    "q_matryoshka_recall" ->
      s"""$EmbCte,
         |tr AS (SELECT vec_id, d[1:32] AS dt,
         |              sqrt(list_dot_product(d[1:32], d[1:32])) AS nt FROM e),
         |q AS (SELECT vec_id AS query_id, d AS dq, nrm AS nq
         |      FROM e WHERE vec_id % 50 = 0),
         |qt AS (SELECT vec_id AS query_id, dt AS dqt, nt AS nqt
         |       FROM tr WHERE vec_id % 50 = 0),
         |sa AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, tr.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY list_dot_product(dqt, dt) / (nqt * nt) DESC,
         |                      tr.vec_id) AS rnk
         |    FROM tr JOIN qt ON query_id <> tr.vec_id)
         |  WHERE rnk <= 5),
         |se AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, e.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY list_dot_product(dq, d) / (nq * nrm) DESC,
         |                      e.vec_id) AS rnk
         |    FROM e JOIN q ON query_id <> e.vec_id)
         |  WHERE rnk <= 5),
         |hits AS (SELECT se.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |         FROM se JOIN sa ON se.query_id = sa.query_id
         |                        AND se.neighbor_id = sa.neighbor_id
         |         GROUP BY se.query_id)
         |SELECT u.query_id, COALESCE(h.n_hits, 0) AS n_hits,
         |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM se) u
         |LEFT JOIN hits h ON u.query_id = h.query_id
         |ORDER BY u.query_id""".stripMargin,
    "q_near_dup_embeddings" ->
      s"""$EmbCte,
         |bands AS (
         |  SELECT vec_id, b AS band,
         |         CAST(list_sum(list_transform(range(0, 4),
         |             r -> bits[b*4 + r + 1] << r)) AS BIGINT) AS sig
         |  FROM e, range(0, 6) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |sc AS (SELECT vec_a, vec_b,
         |              list_dot_product(ea.d, eb.d) / (ea.nrm * eb.nrm) AS cosine
         |       FROM cand JOIN e ea ON vec_a = ea.vec_id JOIN e eb ON vec_b = eb.vec_id)
         |SELECT vec_a, vec_b, cosine FROM sc WHERE cosine >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_decontaminate_semantic" ->
      s"""$EmbCte,
         |bands AS (
         |  SELECT vec_id, b AS band,
         |         CAST(list_sum(list_transform(range(0, 4),
         |             r -> bits[b*4 + r + 1] << r)) AS BIGINT) AS sig
         |  FROM e, range(0, 6) t(b)),
         |tb AS (SELECT * FROM bands WHERE vec_id % 3 <> 0),
         |vb AS (SELECT * FROM bands WHERE vec_id % 97 = 1),
         |cand AS (
         |  SELECT DISTINCT tb.vec_id AS t_id, vb.vec_id AS e_id
         |  FROM tb JOIN vb ON tb.band = vb.band AND tb.sig = vb.sig),
         |hit AS (
         |  SELECT DISTINCT t_id FROM cand
         |  JOIN e ta ON t_id = ta.vec_id
         |  JOIN e ev ON e_id = ev.vec_id
         |  WHERE list_dot_product(ta.d, ev.d) / (ta.nrm * ev.nrm) >= 0.35)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id % 3 <> 0 AND vec_id NOT IN (SELECT t_id FROM hit)
         |ORDER BY vec_id""".stripMargin,
    "q_token_counts" ->
      s"""$ToksCte
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique
         |FROM toks ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""$ToksCte
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN length(text) > 0 THEN
         |    (length(text) - length(translate(text, '.,!?;:', '')))::DOUBLE
         |      / length(text)::DOUBLE
         |  ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(toks) > 0 THEN
         |    len(list_filter(toks, t -> list_contains($StopEn, t)))::DOUBLE
         |      / len(toks)::DOUBLE
         |  ELSE 0.0 END AS stopword_ratio,
         |  CASE WHEN len(toks) > 0 THEN
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |      / len(toks)::DOUBLE
         |  ELSE 0.0 END AS mean_token_len
         |FROM toks ORDER BY doc_id""".stripMargin,
    // integer cross-multiplication comparisons — no float anywhere, so the
    // flag table replays bit-exactly; thresholds mirror the queries() call
    "q_quality_gopher" ->
      s"""$ToksCte,
         |st AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_token_len,
         |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha_words,
         |  CAST(len(list_filter(list_distinct(toks), t -> list_contains($StopEn, t))) AS BIGINT)
         |    AS n_stop_distinct
         |  FROM toks)
         |SELECT *, CAST(CASE WHEN words_ok + mwl_ok + alpha_ok + stop_ok + ttr_ok = 5
         |                    THEN 1 ELSE 0 END AS BIGINT) AS pass_all
         |FROM (SELECT doc_id, n_tokens, n_unique, sum_token_len, n_alpha_words, n_stop_distinct,
         |  CAST(CASE WHEN n_tokens >= 20 AND n_tokens <= 90 THEN 1 ELSE 0 END AS BIGINT) AS words_ok,
         |  CAST(CASE WHEN sum_token_len * 10 >= n_tokens * 40
         |             AND sum_token_len * 10 <= n_tokens * 50 THEN 1 ELSE 0 END AS BIGINT) AS mwl_ok,
         |  CAST(CASE WHEN n_alpha_words * 100 >= n_tokens * 80 THEN 1 ELSE 0 END AS BIGINT) AS alpha_ok,
         |  CAST(CASE WHEN n_stop_distinct >= 1 THEN 1 ELSE 0 END AS BIGINT) AS stop_ok,
         |  CAST(CASE WHEN n_unique * 100 >= n_tokens * 40 THEN 1 ELSE 0 END AS BIGINT) AS ttr_ok
         |  FROM st)
         |ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      s"""$ToksCte,
         |h AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, t -> list_contains($StopEn, t))) AS BIGINT) AS en_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopEs, t))) AS BIGINT) AS es_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopDe, t))) AS BIGINT) AS de_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopFr, t))) AS BIGINT) AS fr_hits
         |  FROM toks)
         |SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
         |  CASE WHEN en_hits + es_hits + de_hits + fr_hits = 0 THEN 'und'
         |       WHEN en_hits >= greatest(es_hits, de_hits, fr_hits) THEN 'en'
         |       WHEN es_hits >= greatest(de_hits, fr_hits) THEN 'es'
         |       WHEN de_hits >= fr_hits THEN 'de'
         |       ELSE 'fr' END AS guessed_lang
         |FROM h ORDER BY doc_id""".stripMargin,
    "q_chunk" ->
      s"""$ToksCte,
         |c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
         |      FROM toks WHERE len(toks) > 0),
         |st AS (SELECT doc_id, toks, n_tokens,
         |              unnest(range(0, n_tokens)) AS s FROM c)
         |SELECT doc_id, s // 30 AS chunk_no, s AS chunk_start,
         |       least(n_tokens - s, 50) AS chunk_tokens,
         |       array_to_string(toks[CAST(s+1 AS INT):CAST(s+50 AS INT)], ' ')
         |         AS chunk_text,
         |       n_tokens
         |FROM st WHERE s % 30 = 0
         |ORDER BY doc_id, chunk_no""".stripMargin,
    "q_pack" ->
      s"""$ToksCte,
         |c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
         |      FROM toks WHERE len(toks) > 0),
         |st AS (SELECT doc_id, toks, n_tokens,
         |       unnest(range(0, n_tokens)) AS s FROM c),
         |ch AS (SELECT doc_id, s // 30 AS chunk_no,
         |              least(n_tokens - s, 50) AS chunk_tokens
         |       FROM st WHERE s % 30 = 0),
         |o AS (SELECT doc_id, chunk_no, chunk_tokens,
         |             CAST(COALESCE(sum(chunk_tokens) OVER (
         |               ORDER BY doc_id, chunk_no
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |               AS BIGINT) AS token_start
         |      FROM ch)
         |SELECT doc_id, chunk_no, chunk_tokens, token_start,
         |       CAST(token_start // 512 AS BIGINT) AS bin_id
         |FROM o ORDER BY doc_id, chunk_no""".stripMargin,
    "q_key_skew" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
        |SELECT key, n, n_total,
        |       CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
        |FROM c, t ORDER BY n DESC, key LIMIT 20""".stripMargin,
    "q_token_bpe" ->
      s"""$ToksCte
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_whitespace,
         |       CAST(len(regexp_extract_all(lower(text),
         |                                   '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |         AS BIGINT) AS n_bpeish
         |FROM toks ORDER BY doc_id""".stripMargin,
    "q_token_ids" ->
      s"""$ToksCte,
         |vc AS (SELECT tok AS token, COUNT(*) AS n_occ
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       GROUP BY tok ORDER BY n_occ DESC, token LIMIT 20),
         |v AS (SELECT token,
         |             row_number() OVER (ORDER BY n_occ DESC, token) AS tok_id
         |      FROM vc),
         |tk AS (SELECT doc_id, i, toks[CAST(i AS INT)] AS tok
         |       FROM (SELECT doc_id, unnest(range(1, len(toks)+1)) AS i, toks
         |             FROM toks)),
         |j AS (SELECT doc_id, i, COALESCE(tok_id, 0) AS tid
         |      FROM tk LEFT JOIN v ON tk.tok = v.token)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       string_agg(tid, ' ' ORDER BY i) AS ids
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      s"""$ToksCte,
         |base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
         |tok AS (SELECT doc_id, n_tokens,
         |        CASE WHEN n_tokens > 0
         |             THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
         |                        / CAST(n_tokens AS DOUBLE)
         |             ELSE 0.0 END AS dup_token_ratio FROM base),
         |bg AS (SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)] AS gram
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |             FROM base WHERE n_tokens >= 2)),
         |bc AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |bi AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         |         AS top_bigram_ratio FROM bc GROUP BY 1),
         |tg AS (SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
         |              || ' ' || toks[CAST(i+2 AS INT)] AS gram
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-1)) AS i
         |             FROM base WHERE n_tokens >= 3)),
         |tc AS (SELECT doc_id, gram, COUNT(*) AS c FROM tg GROUP BY 1, 2),
         |tri AS (SELECT doc_id,
         |          CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
         |          / CAST(SUM(c) AS DOUBLE) AS dup_trigram_ratio
         |        FROM tc GROUP BY 1)
         |SELECT t.doc_id, t.n_tokens, t.dup_token_ratio,
         |       COALESCE(bi.top_bigram_ratio, 0.0) AS top_bigram_ratio,
         |       COALESCE(tri.dup_trigram_ratio, 0.0) AS dup_trigram_ratio
         |FROM tok t LEFT JOIN bi USING (doc_id) LEFT JOIN tri USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') AS text_redacted,
        |  CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |       + len(regexp_extract_all(text,
        |         '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS BIGINT) AS n_pii
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, len(text) AS n, text,
        |         unnest(range(1, len(text) - 5 + 2)) AS pos
        |  FROM documents WHERE len(text) >= 8),
        |h AS (SELECT doc_id, n, pos,
        |             CAST('0x' || substr(md5(substr(text, CAST(pos AS INT), 5)), 1, 15)
        |                  AS BIGINT) AS h
        |      FROM g),
        |m AS (SELECT doc_id, pos, n,
        |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM h)
        |SELECT DISTINCT doc_id, fp FROM m
        |WHERE pos <= n - 5 + 1 - 3
        |ORDER BY doc_id, fp""".stripMargin,
    "q_winnow_spans" ->
      """WITH g AS (
        |  SELECT doc_id, len(text) AS n, text,
        |         unnest(range(1, len(text) - 5 + 2)) AS pos
        |  FROM documents WHERE len(text) >= 8),
        |h AS (SELECT doc_id, n, pos,
        |             CAST('0x' || substr(md5(substr(text, CAST(pos AS INT), 5)), 1, 15)
        |                  AS BIGINT) AS h
        |      FROM g),
        |wm AS (SELECT doc_id, pos AS s, n,
        |              min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |       FROM h),
        |wmv AS (SELECT * FROM wm WHERE s <= n - 5 + 1 - 3),
        |selpos AS (SELECT w.doc_id, w.s, w.fp, MAX(h2.pos) AS pos
        |           FROM wmv w JOIN h h2 ON h2.doc_id = w.doc_id AND h2.h = w.fp
        |             AND h2.pos >= w.s AND h2.pos <= w.s + 3
        |           GROUP BY 1, 2, 3),
        |sel AS (SELECT DISTINCT doc_id, pos, fp FROM selpos),
        |rare AS (SELECT fp FROM sel GROUP BY fp
        |         HAVING COUNT(DISTINCT doc_id) <= 16),
        |kept AS (SELECT sel.* FROM sel JOIN rare USING (fp)),
        |dg AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |              a.pos - b.pos AS diag, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |              MIN(a.pos) AS lo_a, MAX(a.pos) AS hi_a
        |       FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2, 3)
        |SELECT doc_a, doc_b, diag, n_matches, lo_a, hi_a,
        |       hi_a - lo_a + 5 AS span_chars
        |FROM (SELECT dg.*, ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
        |             ORDER BY n_matches DESC, diag) AS rn FROM dg)
        |WHERE rn = 1 AND n_matches >= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_winnow_overlap" ->
      """WITH g AS (
        |  SELECT doc_id, len(text) AS n, text,
        |         unnest(range(1, len(text) - 5 + 2)) AS pos
        |  FROM documents WHERE len(text) >= 8),
        |h AS (SELECT doc_id, n, pos,
        |             CAST('0x' || substr(md5(substr(text, CAST(pos AS INT), 5)), 1, 15)
        |                  AS BIGINT) AS h
        |      FROM g),
        |m AS (SELECT doc_id, pos, n,
        |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM h),
        |wf AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n - 5 + 1 - 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM wf GROUP BY doc_id),
        |keptfp AS (SELECT fp FROM wf GROUP BY fp HAVING COUNT(*) <= 16),
        |kept AS (SELECT wf.doc_id, wf.fp FROM wf JOIN keptfp USING (fp)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT doc_a, doc_b, n_shared, sa.n_fp AS n_a, sb.n_fp AS n_b,
        |       CAST(n_shared AS DOUBLE) / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE)
        |         AS containment
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_winnow_fast" -> {
      // identical winnow structure, polynomial Horner hash replayed in SQL
      val horner = (0 until 5).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
        s"(($acc * 257 + ascii(substr(text, CAST(pos AS INT) + $j, 1))) % 2147483647)"
      }
      s"""WITH g AS (
         |  SELECT doc_id, len(text) AS n, text,
         |         unnest(range(1, len(text) - 5 + 2)) AS pos
         |  FROM documents WHERE len(text) >= 8),
         |h AS (SELECT doc_id, n, pos, $horner AS h FROM g),
         |m AS (SELECT doc_id, pos, n,
         |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |      FROM h)
         |SELECT DISTINCT doc_id, fp FROM m
         |WHERE pos <= n - 5 + 1 - 3
         |ORDER BY doc_id, fp""".stripMargin
    },
    "q_decontaminate_ngram" ->
      s"""$ToksCte,
         |$ShinglesCte,
         |g AS (SELECT doc_id, unnest(sh) AS g FROM s2)
         |SELECT d.doc_id FROM documents d
         |WHERE d.doc_id % 2 = 0
         |  AND NOT EXISTS (SELECT 1 FROM g t JOIN g e ON t.g = e.g
         |                  WHERE t.doc_id = d.doc_id AND e.doc_id % 50 = 1)
         |ORDER BY doc_id""".stripMargin,
    "q_token_budget" ->
      s"""$ToksCte,
         |o AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
         |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|budget1'), 1, 15)
         |                  AS BIGINT) AS sk
         |      FROM toks),
         |s AS (SELECT doc_id,
         |             CAST(COALESCE(sum(n) OVER (ORDER BY sk, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |               AS BIGINT) AS start
         |      FROM o)
         |SELECT doc_id FROM s WHERE start < 20000 ORDER BY doc_id""".stripMargin,
    "q_bpe_merges" ->
      s"""$ToksCte,
         |w AS (SELECT unnest(toks) AS w FROM toks),
         |wc AS (SELECT w, count(*) AS wc FROM w GROUP BY 1),
         |chars AS (SELECT regexp_extract_all(w, '.') AS cs, wc FROM wc),
         |idx AS (SELECT cs, wc, unnest(range(1, len(cs))) AS i FROM chars),
         |pairs AS (SELECT cs[CAST(i AS INT)] AS "left",
         |                 cs[CAST(i + 1 AS INT)] AS "right", wc
         |          FROM idx)
         |SELECT CAST(1 AS INT) AS rank, "left", "right",
         |       CAST(sum(wc) AS BIGINT) AS pair_count
         |FROM pairs GROUP BY 2, 3
         |ORDER BY pair_count DESC, "left", "right" LIMIT 1""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix1'), 1, 15)
        |           AS BIGINT) % 10000
        |      < CASE lang WHEN 'en' THEN 8000 WHEN 'de' THEN 5000
        |                  WHEN 'es' THEN 2500 WHEN 'fr' THEN 1000 ELSE -1 END
        |ORDER BY doc_id""".stripMargin,
    "q_mix_sources" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
        |           WHERE source IN ('src0','src1','src2') GROUP BY source),
        |w AS (SELECT * FROM (VALUES ('src0', 0.5::DOUBLE),
        |                            ('src1', 0.25::DOUBLE),
        |                            ('src2', 0.25::DOUBLE)) t(source, wt)),
        |f AS (SELECT source,
        |             LEAST(1.0, wt * (SELECT MIN(n / wt) FROM c JOIN w USING (source))
        |                          / n) AS frac
        |      FROM c JOIN w USING (source))
        |SELECT doc_id, source FROM documents JOIN f USING (source)
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dommix'), 1, 15)
        |           AS BIGINT) % 10000 < ROUND(frac * 10000)
        |ORDER BY doc_id""".stripMargin,
    "q_corpus_card" ->
      s"""$ToksCte,
         |base AS (
         |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
         |         CAST(SUM(len(t.toks)) AS BIGINT) AS sum_tokens
         |  FROM documents d JOIN toks t USING (doc_id) GROUP BY d.source),
         |fp AS (SELECT source, md5(text) AS f FROM documents),
         |fc AS (SELECT f, COUNT(*) AS c FROM fp GROUP BY f),
         |dup AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dup_docs
         |        FROM fp JOIN fc USING (f) WHERE c > 1 GROUP BY source),
         |lt AS (SELECT source, lang, COUNT(*) AS lc FROM documents
         |       GROUP BY source, lang),
         |tl AS (SELECT source, lang AS top_lang, CAST(lc AS BIGINT) AS top_lang_docs,
         |              ROW_NUMBER() OVER (PARTITION BY source
         |                                 ORDER BY lc DESC, lang) AS lr
         |       FROM lt),
         |v AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
         |b AS (SELECT source, v,
         |             CAST(GREATEST(length(bin(v)) - 1 - 5, 0) AS BIGINT) AS shift
         |      FROM v),
         |cb AS (SELECT source, shift, v >> shift AS sub FROM b),
         |h AS (SELECT source, shift, sub, COUNT(*) AS cnt, (sub << shift) AS lo
         |      FROM cb GROUP BY source, shift, sub),
         |w AS (SELECT source, lo, cnt,
         |             lo + (CAST(1 AS BIGINT) << shift) - 1 AS hi,
         |             CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY lo)
         |                  AS BIGINT) AS cum,
         |             CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
         |      FROM h),
         |p50 AS (SELECT source, MIN(lo) AS p50_chars_lo, MIN(hi) AS p50_chars_hi
         |        FROM w WHERE cum >= CAST(ceil(0.5 * n) AS BIGINT)
         |        GROUP BY source)
         |SELECT base.source, n_docs, sum_chars, sum_tokens,
         |       COALESCE(dup.n_dup_docs, 0) AS n_dup_docs,
         |       top_lang, top_lang_docs, p50_chars_lo, p50_chars_hi
         |FROM base
         |LEFT JOIN dup ON base.source = dup.source
         |JOIN (SELECT * FROM tl WHERE lr = 1) tl1 ON base.source = tl1.source
         |JOIN p50 ON base.source = p50.source
         |ORDER BY base.source""".stripMargin,
    "q_mix_temperature" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
        |w AS (SELECT source, n,
        |             sqrt(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) AS wt
        |      FROM c, tot),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS t FROM w),
        |f AS (SELECT source,
        |             LEAST(1.0, wt * (SELECT t FROM t) / CAST(n AS DOUBLE)) AS frac
        |      FROM w)
        |SELECT doc_id, source FROM documents JOIN f USING (source)
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|temp5'), 1, 15)
        |           AS BIGINT) % 10000 < ROUND(frac * 10000)
        |ORDER BY doc_id""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split1'), 1, 15)
        |           AS BIGINT) % 10000 < 2000
        |ORDER BY doc_id""".stripMargin,
    "q_shuffle_order" ->
      """SELECT doc_id,
        |       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|epoch0'), 1, 15)
        |            AS BIGINT) AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,
    "q_sample_exact_n" ->
      """SELECT doc_id,
        |       row_number() OVER (
        |         ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|exact1'), 1, 15)
        |                  AS BIGINT),
        |                  CAST(doc_id AS VARCHAR)) AS sample_rank
        |FROM documents
        |ORDER BY sample_rank LIMIT 500""".stripMargin,
    "q_sample_per_lang" ->
      s"""SELECT doc_id, text, lang, source, n_chars, sample_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${h60Sql("CAST(doc_id AS VARCHAR) || '|balance'")},
         |             CAST(doc_id AS VARCHAR)) AS sample_rank
         |  FROM documents)
         |WHERE sample_rank <= 60
         |ORDER BY lang, sample_rank""".stripMargin,
    "q_repeat_upsample" ->
      """WITH n AS (
        |  SELECT doc_id, source,
        |         (CASE WHEN source = 'src0' THEN 2
        |               WHEN source = 'src1' THEN 0
        |               WHEN source = 'src2' THEN 3 ELSE 1 END)
        |       + (CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|rep|rep1'), 1, 15)
        |                     AS BIGINT) % 10000
        |                < (CASE WHEN source = 'src0' THEN 5000
        |                        WHEN source = 'src1' THEN 4000 ELSE 0 END)
        |          THEN 1 ELSE 0 END) AS n
        |  FROM documents)
        |SELECT doc_id, source, unnest(range(0, n)) AS rep_no
        |FROM n ORDER BY doc_id, rep_no""".stripMargin,
    "q_shards" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|shard|sh1'), 1, 15)
        |              AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard_no,
        |       CAST(row_number() OVER (PARTITION BY h % 8
        |                               ORDER BY h, CAST(doc_id AS VARCHAR)) AS BIGINT) - 1
        |         AS shard_pos
        |FROM a ORDER BY doc_id""".stripMargin,
    "q_shard_manifest" ->
      s"""$ToksCte,
         |a AS (
         |  SELECT t.doc_id, len(t.toks) AS n_tok,
         |         CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || '|shard|sh1'), 1, 15)
         |              AS BIGINT) AS h,
         |         CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15)
         |              AS BIGINT) AS fp
         |  FROM toks t)
         |SELECT h % 8 AS shard_no,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(sum(fp % 1000003) AS BIGINT) AS fp_sum
         |FROM a GROUP BY 1 ORDER BY shard_no""".stripMargin,
    "q_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text, source FROM documents
        |            WHERE doc_id % 5 <> 4),
        |v2 AS (SELECT doc_id,
        |              CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |                   ELSE text END AS text,
        |              source
        |       FROM documents WHERE doc_id % 7 <> 6),
        |j AS (SELECT COALESCE(b.source, a.source) AS g,
        |             CASE WHEN a.doc_id IS NULL THEN 'added'
        |                  WHEN b.doc_id IS NULL THEN 'removed'
        |                  WHEN md5(a.text) <> md5(b.text) THEN 'changed'
        |                  ELSE 'unchanged' END AS status
        |      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT g,
        |       CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |       CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |       CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |       CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j GROUP BY g ORDER BY g""".stripMargin,
    // double-hash positions (h1 + i·h2 mod m) in 32-bit words — lockstep
    // with PortableBloom.positionsCol and Layout.shardBloomIndex
    "q_shard_bloom" ->
      s"""WITH a AS (
         |  SELECT ${h60Sql("CAST(doc_id AS VARCHAR) || '|shard|sb1'")} % 8 AS shard_no,
         |         ${h60Sql("CAST(doc_id AS VARCHAR)")} AS hk
         |  FROM documents),
         |p AS (SELECT shard_no,
         |             unnest(list_distinct(list_transform(range(0, 6),
         |               i -> ((hk & 1073741823)
         |                     + i * (((hk >> 30) & 1073741823) | 1)) % 1024))) AS pos
         |      FROM a)
         |SELECT shard_no, pos >> 5 AS word_idx,
         |       CAST(bit_or(1::BIGINT << CAST(pos & 31 AS INT)) AS BIGINT) AS word
         |FROM p GROUP BY 1, 2 ORDER BY shard_no, word_idx""".stripMargin,
    "q_bloom_prune" ->
      s"""WITH a AS (
         |  SELECT ${h60Sql("CAST(doc_id AS VARCHAR) || '|shard|sb1'")} % 8 AS shard_no,
         |         ${h60Sql("CAST(doc_id AS VARCHAR)")} AS hk
         |  FROM documents),
         |bloom AS (
         |  SELECT shard_no, pos >> 5 AS word_idx,
         |         CAST(bit_or(1::BIGINT << CAST(pos & 31 AS INT)) AS BIGINT) AS word
         |  FROM (SELECT shard_no,
         |               unnest(list_distinct(list_transform(range(0, 6),
         |                 i -> ((hk & 1073741823)
         |                       + i * (((hk >> 30) & 1073741823) | 1)) % 1024))) AS pos
         |        FROM a) GROUP BY 1, 2),
         |probes AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS probe_key, TRUE AS is_member,
         |         ${h60Sql("CAST(doc_id AS VARCHAR) || '|shard|sb1'")} % 8 AS true_shard
         |  FROM documents WHERE doc_id % 101 = 0
         |  UNION ALL
         |  SELECT CAST(doc_id + 1000000000 AS VARCHAR), FALSE, CAST(-1 AS BIGINT)
         |  FROM documents WHERE doc_id % 101 = 0),
         |pb AS (SELECT probe_key, is_member, true_shard,
         |              list_distinct(list_transform(range(0, 6),
         |                i -> ((hp & 1073741823)
         |                      + i * (((hp >> 30) & 1073741823) | 1)) % 1024)) AS poss
         |       FROM (SELECT probes.*, ${h60Sql("probe_key")} AS hp FROM probes)),
         |pp AS (SELECT probe_key, CAST(len(poss) AS BIGINT) AS n_probe,
         |              unnest(poss) AS pos
         |       FROM pb),
         |hits AS (
         |  SELECT probe_key, shard_no, n_probe, COUNT(*) AS n_hit
         |  FROM (SELECT probe_key, n_probe, pos >> 5 AS word_idx,
         |               CAST(pos & 31 AS INT) AS bit FROM pp) x
         |  JOIN bloom USING (word_idx)
         |  WHERE (word >> bit) & 1 = 1
         |  GROUP BY 1, 2, 3),
         |cand AS (SELECT probe_key, shard_no FROM hits WHERE n_hit = n_probe)
         |SELECT p.probe_key, p.is_member, p.true_shard,
         |       COUNT(c.shard_no) AS n_candidates,
         |       MAX(CASE WHEN c.shard_no = p.true_shard THEN 1 ELSE 0 END) = 1
         |         AS includes_true
         |FROM probes p LEFT JOIN cand c USING (probe_key)
         |GROUP BY 1, 2, 3 ORDER BY probe_key""".stripMargin,
    "q_curated" ->
      s"""$ToksCte,
         |q AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(toks) > 0 THEN
         |    len(list_filter(toks, t -> list_contains($StopEn, t)))::DOUBLE
         |      / len(toks)::DOUBLE
         |  ELSE 0.0 END AS stopword_ratio,
         |  CAST(len(list_filter(toks, t -> list_contains($StopEn, t))) AS BIGINT) AS en_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopEs, t))) AS BIGINT) AS es_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopDe, t))) AS BIGINT) AS de_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopFr, t))) AS BIGINT) AS fr_hits
         |  FROM toks),
         |g AS (SELECT doc_id, n_chars, n_tokens, stopword_ratio,
         |  CASE WHEN en_hits + es_hits + de_hits + fr_hits = 0 THEN 'und'
         |       WHEN en_hits >= greatest(es_hits, de_hits, fr_hits) THEN 'en'
         |       WHEN es_hits >= greatest(de_hits, fr_hits) THEN 'es'
         |       WHEN de_hits >= fr_hits THEN 'de'
         |       ELSE 'fr' END AS guessed_lang
         |  FROM q
         |  WHERE n_tokens >= 10 AND stopword_ratio >= 0.02),
         |d AS (SELECT g.*, min(g.doc_id) OVER (PARTITION BY md5(doc.text)) AS canonical_id
         |      FROM g JOIN documents doc USING (doc_id)
         |      WHERE guessed_lang = 'en')
         |SELECT doc_id, n_chars, n_tokens, stopword_ratio, guessed_lang
         |FROM d WHERE doc_id = canonical_id
         |ORDER BY doc_id""".stripMargin,
    "q_token_mix_plan" ->
      s"""$ToksCte,
         |m AS (SELECT d.source AS source,
         |             CAST(COALESCE(SUM(len(t.toks)), 0) AS BIGINT) AS n_tokens
         |      FROM toks t JOIN documents d USING (doc_id) GROUP BY 1),
         |w AS (SELECT * FROM (VALUES ('src0', 500000), ('src1', 250000),
         |                            ('src2', 250000)) v(source, w_ppm)),
         |j AS (SELECT m.source, m.n_tokens, w.w_ppm
         |      FROM m LEFT JOIN w USING (source)),
         |cap AS (SELECT MIN((1000000::HUGEINT * n_tokens) // w_ppm) AS cap
         |        FROM j WHERE w_ppm IS NOT NULL)
         |SELECT j.source, j.n_tokens, CAST(COALESCE(j.w_ppm, 0) AS BIGINT) AS w_ppm,
         |       CAST(COALESCE((j.w_ppm::HUGEINT * cap.cap) // 1000000, 0)
         |            AS BIGINT) AS target_tokens,
         |       CASE WHEN j.n_tokens = 0 THEN 0
         |            ELSE CAST((1000000::HUGEINT *
         |                       COALESCE((j.w_ppm::HUGEINT * cap.cap) // 1000000, 0))
         |                      // j.n_tokens AS BIGINT) END AS keep_ppm
         |FROM j CROSS JOIN cap ORDER BY j.source""".stripMargin,
    "q_curation_audit" ->
      s"""$ToksCte,
         |q AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(toks) > 0 THEN
         |    len(list_filter(toks, t -> list_contains($StopEn, t)))::DOUBLE
         |      / len(toks)::DOUBLE
         |  ELSE 0.0 END AS stopword_ratio,
         |  CAST(len(list_filter(toks, t -> list_contains($StopEn, t))) AS BIGINT) AS en_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopEs, t))) AS BIGINT) AS es_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopDe, t))) AS BIGINT) AS de_hits,
         |  CAST(len(list_filter(toks, t -> list_contains($StopFr, t))) AS BIGINT) AS fr_hits
         |  FROM toks),
         |g AS (SELECT q.*,
         |  CASE WHEN en_hits + es_hits + de_hits + fr_hits = 0 THEN 'und'
         |       WHEN en_hits >= greatest(es_hits, de_hits, fr_hits) THEN 'en'
         |       WHEN es_hits >= greatest(de_hits, fr_hits) THEN 'es'
         |       WHEN de_hits >= fr_hits THEN 'de'
         |       ELSE 'fr' END AS guessed_lang
         |  FROM q),
         |c AS (SELECT g.*,
         |  (guessed_lang = 'en' AND n_tokens >= 10 AND stopword_ratio >= 0.02)
         |    AS passes,
         |  min(CASE WHEN guessed_lang = 'en' AND n_tokens >= 10
         |                AND stopword_ratio >= 0.02 THEN g.doc_id END)
         |    OVER (PARTITION BY md5(doc.text)) AS canonical_id
         |  FROM g JOIN documents doc USING (doc_id))
         |SELECT doc_id, guessed_lang, n_tokens, en_hits,
         |  CASE WHEN guessed_lang <> 'en' THEN 'lang'
         |       WHEN n_tokens < 10 THEN 'min_tokens'
         |       WHEN stopword_ratio < 0.02 THEN 'stopword_ratio'
         |       WHEN doc_id <> canonical_id THEN 'duplicate'
         |       ELSE 'kept' END AS gate
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_split_assign" ->
      """SELECT CASE
        |  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|v1'), 1, 15)
        |       AS BIGINT) % 10000 < 8000 THEN 'train'
        |  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|v1'), 1, 15)
        |       AS BIGINT) % 10000 < 9000 THEN 'val'
        |  ELSE 'test' END AS split,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_split_by_cluster" ->
      s"""$ClustersCtes,
         |labels AS (SELECT doc_id, least(doc_id, min(r)) AS cluster_id
         |           FROM reach GROUP BY doc_id),
         |keyed AS (SELECT d.doc_id,
         |                 coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |          FROM documents d LEFT JOIN labels l USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${h60Sql("CAST(cluster_id AS VARCHAR) || '|v1'")} % 10000 < 8000
         |         THEN 'train'
         |       WHEN ${h60Sql("CAST(cluster_id AS VARCHAR) || '|v1'")} % 10000 < 9000
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM keyed ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""$ToksCte,
         |fps AS (SELECT doc_id, md5(text) AS fe,
         |               md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fb
         |        FROM toks)
         |SELECT t.doc_id FROM fps t
         |WHERE t.doc_id % 2 = 0
         |  AND NOT EXISTS (SELECT 1 FROM fps e
         |                  WHERE e.doc_id % 2 = 1 AND e.fe = t.fe)
         |  AND NOT EXISTS (SELECT 1 FROM fps e
         |                  WHERE e.doc_id % 2 = 1 AND e.fb = t.fb)
         |ORDER BY t.doc_id""".stripMargin,
    "q_centroids" ->
      """WITH ex AS (
        |  SELECT label, unnest(range(0, len(embedding))) AS dim, embedding
        |  FROM embeddings),
        |v AS (SELECT label, dim,
        |             embedding[CAST(dim + 1 AS INT)]::DOUBLE AS val FROM ex),
        |g AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
        |             list_sum(list_sort(list(val))) AS s
        |      FROM v GROUP BY label, dim)
        |SELECT label, max(n) OVER (PARTITION BY label) AS n_vectors,
        |       dim, s / n AS m
        |FROM g ORDER BY label, dim""".stripMargin,
    "q_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_min(embedding) AS DOUBLE) AS mn,
        |         (CAST(list_max(embedding) AS DOUBLE)
        |          - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, mn, scale,
        |         CASE WHEN scale = 0.0
        |              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(embedding, x ->
        |                CAST(floor((CAST(x AS DOUBLE) - mn) / scale + 0.5) AS BIGINT))
        |         END AS codes
        |  FROM s)
        |SELECT vec_id, mn, scale,
        |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |       CAST(list_max(codes) AS BIGINT) AS code_max
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  hex(encode(substring(text, 1, 4))) AS magic_hex,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_media_decode" -> {
      // feat_b = mean byte value over band [b·n/8, max((b+1)·n/8, lo+1)):
      // all-ASCII text ⇒ ascii(char) == byte; integer floor divisions and
      // the double→REAL cast mirror the Scala stub exactly
      val feats = (0 until 8).map { b =>
        s"""  CAST((CAST(list_sum(list_transform(
           |      range(($b * n) // 8 + 1, greatest(($b + 1) * n // 8, ($b * n) // 8 + 1) + 1),
           |      k -> ascii(substring(text, CAST(k AS INT), 1)))) AS DOUBLE)
           |    / (greatest(($b + 1) * n // 8, ($b * n) // 8 + 1) - ($b * n) // 8)
           |    / 255.0) AS REAL) AS feat_$b""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT doc_id, text,
         |                  CAST(octet_length(encode(text)) AS BIGINT) AS n
         |           FROM documents)
         |SELECT doc_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
         |       WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + (n % 64) ELSE 0 END
         |    AS BIGINT) AS width,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + ((n // 64) % 64) ELSE 0 END
         |    AS BIGINT) AS height,
         |  CAST(8 AS BIGINT) AS n_features,
         |$feats
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "q_media_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         CAST(ceil(octet_length(encode(text))::DOUBLE / 64) AS BIGINT)
        |           AS n_frames
        |  FROM documents),
        |fr AS (SELECT doc_id, text, n_frames,
        |              unnest(range(0, n_frames)) AS fn FROM f)
        |SELECT doc_id, fn AS frame_no, n_frames,
        |       md5(substring(text, CAST(fn * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM fr
        |WHERE fn % 4 = 0
        |ORDER BY doc_id, frame_no""".stripMargin,
    // all-ASCII text ⇒ byte frames == char frames; md5(text) == md5(bytes)
    "q_media_shared_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         CAST(ceil(octet_length(encode(text))::DOUBLE / 16) AS BIGINT)
        |           AS n_frames
        |  FROM documents),
        |fr AS (SELECT doc_id,
        |              md5(substring(text, CAST(fn * 16 + 1 AS INT), 16)) AS fp
        |       FROM (SELECT doc_id, text, unnest(range(0, n_frames)) AS fn
        |             FROM f)),
        |d AS (SELECT DISTINCT doc_id, fp FROM fr),
        |dfc AS (SELECT fp, COUNT(DISTINCT doc_id) AS c FROM d GROUP BY fp),
        |kept AS (SELECT d.doc_id, d.fp FROM d JOIN dfc USING (fp) WHERE c <= 4)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING COUNT(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // all-ASCII text ⇒ byte == ascii(char); every hash bit is an integer
    // cross-multiplication, so the fingerprint and the pair set replay
    // exactly — same band layout, grouping, maxDf cut, and popcount
    "q_media_ahash" ->
      """WITH d AS (SELECT doc_id, text,
        |                 CAST(octet_length(encode(text)) AS BIGINT) AS n
        |          FROM documents),
        |bs AS (SELECT doc_id, n,
        |         list_transform(range(0, 16), b ->
        |           COALESCE(list_sum(list_transform(
        |             range((b * n) // 16 + 1, ((b + 1) * n) // 16 + 1),
        |             k -> ascii(substring(text, CAST(k AS INT), 1)))), 0)) AS sums
        |       FROM d),
        |h AS (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(0, 16), b ->
        |          CASE WHEN ((b + 1) * n) // 16 - (b * n) // 16 > 0
        |                AND sums[CAST(b + 1 AS INT)] * n
        |                      >= list_sum(sums) * (((b + 1) * n) // 16 - (b * n) // 16)
        |               THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
        |               ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ahash
        |      FROM bs),
        |g AS (SELECT doc_id, ahash, g AS grp,
        |             (ahash >> CAST(g * 4 AS INT)) & 15 AS sig
        |      FROM (SELECT doc_id, ahash, unnest(range(0, 4)) AS g FROM h)),
        |rare AS (SELECT grp, sig FROM (
        |           SELECT grp, sig, COUNT(DISTINCT doc_id) AS c
        |           FROM g GROUP BY 1, 2) WHERE c <= 8),
        |kept AS (SELECT doc_id, ahash, grp, sig FROM g JOIN rare USING (grp, sig)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                a.ahash AS ha, b.ahash AS hb
        |         FROM kept a JOIN kept b
        |           ON a.grp = b.grp AND a.sig = b.sig AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_location_parse" ->
      s"""$IndexCte, locs AS (SELECT DISTINCT location_key FROM idx),
         |p AS (
         |  SELECT location_key,
         |         regexp_extract(location_key, '^([a-z0-9+.-]+)://', 1) AS g_scheme,
         |         regexp_extract(location_key, '^[a-z0-9+.-]+://([^/]+)/', 1) AS g_bucket,
         |         regexp_extract(location_key, '^[a-z0-9+.-]+://[^/]+/(.+)$$', 1) AS g_path
         |  FROM locs)
         |SELECT location_key, g_scheme, g_bucket, g_path,
         |       location_key AS g_spark_path,
         |       'abs' AS a_scheme,
         |       'acct/' || g_bucket AS a_bucket,
         |       g_path AS a_path,
         |       'wasbs://' || g_bucket || '@acct.blob.core.windows.net/' || g_path
         |         AS a_spark_path
         |FROM p ORDER BY location_key""".stripMargin,
    "q_text_fingerprints" ->
      s"""$ToksCte
         |SELECT doc_id,
         |       ${h60Sql("array_to_string(toks, ' ')")} AS content_h60,
         |       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS bag_fp
         |FROM toks ORDER BY doc_id""".stripMargin,
    "q_vocabulary" ->
      s"""$ToksCte,
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM toks)
         |SELECT token, COUNT(*) AS n_occurrences,
         |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
         |FROM tok GROUP BY token
         |ORDER BY n_occurrences DESC, token
         |LIMIT 100""".stripMargin,
    "q_unigram_lm" ->
      s"""$ToksCte,
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM toks),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM ex GROUP BY doc_id, token),
         |vocab AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS c
         |          FROM tf GROUP BY token),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_corpus FROM vocab)
         |SELECT doc_id,
         |  CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  CAST(SUM(tf * c) AS BIGINT) AS c_sum,
         |  CAST(SUM(CASE WHEN c <= 2 THEN tf ELSE 0 END) AS BIGINT) AS n_rare,
         |  CAST(SUM(tf * c) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
         |    / CAST((SELECT n_corpus FROM tot) AS DOUBLE) AS mean_token_prob,
         |  CAST(SUM(CASE WHEN c <= 2 THEN tf ELSE 0 END) AS DOUBLE) /
         |    CAST(SUM(tf) AS DOUBLE) AS rare_ratio
         |FROM tf JOIN vocab USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_bigram_lm" ->
      s"""$ToksCte,
         |tk AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 2),
         |tf2 AS (
         |  SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i+1 AS INT)] AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tk, unnest(range(1, len(toks))) t(i)
         |  GROUP BY doc_id, w1, w2),
         |c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2
         |       FROM tf2 GROUP BY w1, w2),
         |tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n_bigrams FROM c2)
         |SELECT doc_id,
         |  CAST(SUM(tf) AS BIGINT) AS n_pairs,
         |  CAST(SUM(tf * c2) AS BIGINT) AS sum_c2,
         |  CAST(MIN(c2) AS BIGINT) AS min_c2,
         |  CAST(SUM(CASE WHEN c2 = 1 THEN tf ELSE 0 END) AS BIGINT) AS n_hapax,
         |  CAST(SUM(tf * c2) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
         |    / CAST((SELECT n_bigrams FROM tot) AS DOUBLE) AS mean_pair_prob
         |FROM tf2 JOIN c2 USING (w1, w2)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_quality_buckets" ->
      s"""$ToksCte,
         |tk AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 2),
         |tf2 AS (
         |  SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i+1 AS INT)] AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tk, unnest(range(1, len(toks))) t(i)
         |  GROUP BY doc_id, w1, w2),
         |c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2
         |       FROM tf2 GROUP BY w1, w2),
         |tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n_bigrams FROM c2),
         |pd AS (
         |  SELECT doc_id,
         |    CAST(SUM(tf) AS BIGINT) AS n_pairs,
         |    CAST(SUM(tf * c2) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
         |      / CAST((SELECT n_bigrams FROM tot) AS DOUBLE) AS mean_pair_prob
         |  FROM tf2 JOIN c2 USING (w1, w2)
         |  GROUP BY doc_id)
         |SELECT doc_id, n_pairs, mean_pair_prob,
         |  CAST(NTILE(3) OVER (ORDER BY mean_pair_prob DESC, doc_id) AS BIGINT) AS bucket
         |FROM pd ORDER BY doc_id""".stripMargin,
    "q_keywords" ->
      s"""$ToksCte,
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM toks),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM ex GROUP BY doc_id, token),
         |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
         |          FROM tf GROUP BY token),
         |r AS (SELECT doc_id, token, tf, df,
         |        ROW_NUMBER() OVER (PARTITION BY doc_id
         |                           ORDER BY tf DESC, df ASC, token ASC) AS rnk
         |      FROM tf JOIN dfreq USING (token))
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, tf, df FROM r
         |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,
    "q_bm25" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       WHERE tok IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |w AS (SELECT doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score,
         |             CAST(COUNT(*) AS BIGINT) AS n_hit
         |      FROM w GROUP BY 1)
         |SELECT doc_id, score, n_hit FROM s
         |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    "q_skipgram" ->
      s"""$ToksCte,
         |p0 AS (SELECT doc_id, toks,
         |              unnest(range(1, len(toks) + 1)) AS i FROM toks),
         |p1 AS (SELECT toks[CAST(i AS INT)] AS w1,
         |              unnest(list_slice(toks, CAST(i + 1 AS INT),
         |                                CAST(i + 3 AS INT))) AS w2
         |       FROM p0)
         |SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
         |FROM p1 GROUP BY 1, 2 HAVING COUNT(*) >= 100
         |ORDER BY w1, w2""".stripMargin,
    // per-source bigram head: counts + the (n DESC, gram ASC) total order
    "q_source_phrases" ->
      s"""$ToksCte,
         |tk AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 2),
         |g AS (SELECT d.source,
         |             tk.toks[CAST(i AS INT)] || ' ' ||
         |             tk.toks[CAST(i+1 AS INT)] AS gram
         |      FROM tk JOIN documents d USING (doc_id),
         |           unnest(range(1, len(tk.toks))) t(i)),
         |c AS (SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM g GROUP BY 1, 2),
         |r AS (SELECT source, gram, n,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |                           ORDER BY n DESC, gram ASC) AS rnk
         |      FROM c)
         |SELECT source, CAST(rnk AS BIGINT) AS rnk, gram, n
         |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    // corpus top-20 vocabulary by (count DESC, token ASC); OOV ppm exact
    "q_oov_rate" ->
      s"""$ToksCte,
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM toks),
         |tf AS (SELECT d.source, token, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM ex JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |vb AS (SELECT token FROM (
         |         SELECT token, SUM(n) AS tot FROM tf GROUP BY 1
         |         ORDER BY tot DESC, token LIMIT 20)),
         |a AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
         |        CAST(SUM(CASE WHEN token NOT IN (SELECT token FROM vb)
         |                      THEN n ELSE 0 END) AS BIGINT) AS n_oov
         |      FROM tf GROUP BY 1)
         |SELECT source, n_tokens, n_oov,
         |       CAST((1000000::HUGEINT * n_oov) // n_tokens AS BIGINT) AS oov_ppm
         |FROM a ORDER BY source""".stripMargin,
    // coverage at V = running mass at rank min(V, n_types) − 1 under the
    // (count DESC, token ASC) total order; ppm via HUGEINT == DECIMAL div
    "q_vocab_curve" ->
      s"""$ToksCte,
         |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM (SELECT unnest(toks) AS tok FROM toks) GROUP BY 1),
         |r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) - 1
         |               AS BIGINT) AS rank0,
         |             CAST(SUM(n) OVER (ORDER BY n DESC, tok
         |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM c),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         |             CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total_mass FROM c),
         |b AS (SELECT CAST(unnest([4, 8, 16, 32]) AS BIGINT) AS vocab_size),
         |bb AS (SELECT vocab_size, LEAST(vocab_size, n_types) AS used,
         |              total_mass FROM b, t)
         |SELECT bb.vocab_size, bb.used AS n_types_used,
         |       CAST(COALESCE(r.cum, 0) AS BIGINT) AS covered_mass,
         |       bb.total_mass,
         |       CAST(CASE WHEN bb.total_mass > 0
         |                 THEN (1000000::HUGEINT * COALESCE(r.cum, 0))
         |                      // bb.total_mass
         |                 ELSE 0 END AS BIGINT) AS coverage_ppm
         |FROM bb LEFT JOIN r ON r.rank0 = bb.used - 1
         |ORDER BY vocab_size""".stripMargin,
    // Borda: three exact 0-based ranks (desc signal, doc_id tie-break),
    // blend = rank sum ascending
    "q_quality_ensemble" ->
      s"""$ToksCte,
         |sg AS (SELECT doc_id,
         |          CAST(len(toks) AS BIGINT) AS s_len,
         |          CAST(CASE WHEN len(toks) > 0
         |               THEN (1000000 * len(list_distinct(toks))) // len(toks)
         |               ELSE 0 END AS BIGINT) AS s_ttr,
         |          CAST(CASE WHEN len(toks) > 0
         |               THEN (1000000 * len(list_filter(toks, t -> t IN
         |                 (${TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString(", ")}))))
         |                 // len(toks)
         |               ELSE 0 END AS BIGINT) AS s_stop
         |       FROM toks),
         |r AS (SELECT doc_id, s_len, s_ttr, s_stop,
         |         CAST(ROW_NUMBER() OVER (ORDER BY s_len DESC, doc_id) - 1
         |           AS BIGINT) AS r_len,
         |         CAST(ROW_NUMBER() OVER (ORDER BY s_ttr DESC, doc_id) - 1
         |           AS BIGINT) AS r_ttr,
         |         CAST(ROW_NUMBER() OVER (ORDER BY s_stop DESC, doc_id) - 1
         |           AS BIGINT) AS r_stop
         |      FROM sg)
         |SELECT doc_id, s_len, s_ttr, s_stop, r_len, r_ttr, r_stop,
         |       CAST(r_len + r_ttr + r_stop AS BIGINT) AS borda
         |FROM r ORDER BY borda, doc_id LIMIT 50""".stripMargin,
    // water-filling closed form: filled prefix under (cap ASC, key ASC),
    // level = remaining DIV K, first remaining MOD K spill +1 — HUGEINT
    // predicate mirrors the Spark DECIMAL comparison
    "q_water_fill" ->
      s"""$ToksCte,
         |caps AS (SELECT d.source AS key, CAST(SUM(len(toks)) AS BIGINT) AS cap
         |         FROM toks JOIN documents d USING (doc_id) GROUP BY 1),
         |r AS (SELECT key, cap,
         |             CAST(ROW_NUMBER() OVER (ORDER BY cap, key) - 1
         |               AS BIGINT) AS r0,
         |             CAST(SUM(cap) OVER (ORDER BY cap, key
         |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM caps),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS s_keys FROM caps),
         |fl AS (SELECT r.*, s.s_keys,
         |              (cap::HUGEINT * (s_keys - r0))
         |                <= (25000::HUGEINT - (cum - cap)) AS filled
         |       FROM r CROSS JOIN s),
         |f AS (SELECT CAST(COALESCE(SUM(CASE WHEN filled THEN 1 END), 0)
         |               AS BIGINT) AS n_f,
         |             CAST(COALESCE(MAX(CASE WHEN filled THEN cum END), 0)
         |               AS BIGINT) AS cum_f
         |      FROM fl)
         |SELECT key, cap, filled,
         |       CAST(CASE WHEN filled THEN cap
         |                 ELSE (25000 - f.cum_f) // (fl.s_keys - f.n_f)
         |                      + (CASE WHEN fl.r0 - f.n_f <
         |                               (25000 - f.cum_f) % (fl.s_keys - f.n_f)
         |                              THEN 1 ELSE 0 END)
         |            END AS BIGINT) AS alloc
         |FROM fl CROSS JOIN f ORDER BY key""".stripMargin,
    // per-side exact frequency ranks (count DESC, token ASC), full outer
    // on token, absent side → (0, that side's type count)
    "q_rank_drift" ->
      s"""$ToksCte,
         |ca AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_a
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks
         |             WHERE doc_id % 2 = 0) GROUP BY 1),
         |cb AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_b
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks
         |             WHERE doc_id % 2 = 1) GROUP BY 1),
         |ra AS (SELECT tok, n_a, CAST(ROW_NUMBER() OVER
         |           (ORDER BY n_a DESC, tok) - 1 AS BIGINT) AS rank_a FROM ca),
         |rb AS (SELECT tok, n_b, CAST(ROW_NUMBER() OVER
         |           (ORDER BY n_b DESC, tok) - 1 AS BIGINT) AS rank_b FROM cb),
         |ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS types_a FROM ca),
         |tb AS (SELECT CAST(COUNT(*) AS BIGINT) AS types_b FROM cb),
         |j AS (SELECT COALESCE(ra.tok, rb.tok) AS tok,
         |             COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |             COALESCE(rank_a, ta.types_a) AS rank_a,
         |             COALESCE(rank_b, tb.types_b) AS rank_b
         |      FROM ra FULL OUTER JOIN rb ON ra.tok = rb.tok
         |           CROSS JOIN ta CROSS JOIN tb)
         |SELECT tok, n_a, n_b, rank_a, rank_b,
         |       CAST(ABS(rank_a - rank_b) AS BIGINT) AS drift
         |FROM j ORDER BY drift DESC, tok LIMIT 50""".stripMargin,
    // VMR over all N docs, zeros through N alone; HUGEINT == DECIMAL div
    "q_token_burstiness" ->
      s"""$ToksCte,
         |pd AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       GROUP BY 1, 2),
         |pt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         |              CAST(SUM(c) AS BIGINT) AS s,
         |              CAST(SUM(c * c) AS BIGINT) AS q
         |       FROM pd GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT tok, df, s, q, n_docs,
         |       CAST((1000000::HUGEINT *
         |             (n_docs::HUGEINT * q - s::HUGEINT * s))
         |            // (n_docs::HUGEINT * s) AS BIGINT) AS vmr_ppm
         |FROM pt CROSS JOIN nn
         |ORDER BY vmr_ppm DESC, tok LIMIT 50""".stripMargin,
    // ascending-order Gini closed form; HUGEINT == DECIMAL div
    "q_source_gini" ->
      s"""$ToksCte,
         |m AS (SELECT d.source AS key, CAST(SUM(len(toks)) AS BIGINT) AS mass
         |      FROM toks JOIN documents d USING (doc_id) GROUP BY 1),
         |r AS (SELECT mass, CAST(ROW_NUMBER() OVER (ORDER BY mass, key)
         |               AS BIGINT) AS i FROM m)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         |       CAST(COALESCE(SUM(mass), 0) AS BIGINT) AS total_mass,
         |       CAST(CASE WHEN COUNT(*) > 0 AND COALESCE(SUM(mass), 0) > 0
         |                 THEN (1000000::HUGEINT *
         |                       (2::HUGEINT * SUM(i::HUGEINT * mass)
         |                        - (COUNT(*) + 1)::HUGEINT * SUM(mass)))
         |                      // (COUNT(*)::HUGEINT * SUM(mass))
         |                 ELSE 0 END AS BIGINT) AS gini_ppm
         |FROM r""".stripMargin,
    // inverse-CDF negatives: cumulative-mass intervals under the
    // (count DESC, token ASC) order, draw position = h60 mod total mass,
    // containment join picks exactly one token per draw
    "q_neg_samples" ->
      s"""$ToksCte,
         |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM (SELECT unnest(toks) AS tok FROM toks) GROUP BY 1),
         |iv AS (SELECT tok AS neg,
         |              CAST(SUM(n) OVER w - n AS BIGINT) AS lo,
         |              CAST(SUM(n) OVER w AS BIGINT) AS hi
         |       FROM c WINDOW w AS (ORDER BY n DESC, tok
         |                           ROWS UNBOUNDED PRECEDING)),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tm FROM c),
         |p0 AS (SELECT doc_id, toks,
         |              unnest(range(1, len(toks) + 1)) AS i FROM toks),
         |p1 AS (SELECT toks[CAST(i AS INT)] AS w1,
         |              unnest(list_slice(toks, CAST(i + 1 AS INT),
         |                                CAST(i + 2 AS INT))) AS w2
         |       FROM p0),
         |pr AS (SELECT w1, w2 FROM p1 GROUP BY 1, 2 HAVING COUNT(*) >= 50),
         |d AS (SELECT w1, w2, CAST(u.i AS BIGINT) AS i,
         |             ${h60Sql("'neg|' || w1 || '|' || w2 || '|' || CAST(u.i AS VARCHAR)")}
         |               % t.tm AS pos
         |      FROM pr CROSS JOIN t, unnest([0, 1]) u(i))
         |SELECT d.w1, d.w2, d.i, iv.neg, CAST(d.pos AS BIGINT) AS pos
         |FROM d JOIN iv ON d.pos >= iv.lo AND d.pos < iv.hi
         |ORDER BY w1, w2, i""".stripMargin,
    // confusion sweep of score ≥ t vs the mini-gate label; all counts and
    // ppm exact integers
    "q_threshold_sweep" ->
      s"""$ToksCte,
         |tk AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 2),
         |tf2 AS (
         |  SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i+1 AS INT)] AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tk, unnest(range(1, len(toks))) t(i)
         |  GROUP BY doc_id, w1, w2),
         |c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2
         |       FROM tf2 GROUP BY w1, w2),
         |sc AS (SELECT doc_id,
         |         CAST((1000000 * SUM(CASE WHEN c2 = 1 THEN tf ELSE 0 END))
         |              // SUM(tf) AS BIGINT) AS score_ppm
         |       FROM tf2 JOIN c2 USING (w1, w2) GROUP BY doc_id),
         |lb AS (SELECT doc_id,
         |         (len(toks) BETWEEN 20 AND 90 AND
         |          len(list_distinct(toks)) * 100 >= len(toks) * 40) AS label
         |       FROM toks),
         |j AS (SELECT score_ppm, label FROM sc JOIN lb USING (doc_id)),
         |th AS (SELECT CAST(unnest([0, 100000, 250000, 500000, 750000,
         |                           1000000]) AS BIGINT) AS threshold),
         |cf AS (SELECT threshold,
         |         CAST(SUM(CASE WHEN score_ppm >= threshold AND label
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(SUM(CASE WHEN score_ppm >= threshold AND NOT label
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(SUM(CASE WHEN score_ppm < threshold AND label
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |         CAST(SUM(CASE WHEN score_ppm < threshold AND NOT label
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |       FROM th CROSS JOIN j GROUP BY threshold)
         |SELECT threshold, tp, fp, fn, tn,
         |       CAST(CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp)
         |                 ELSE 0 END AS BIGINT) AS precision_ppm,
         |       CAST(CASE WHEN tp + fn > 0 THEN (1000000 * tp) // (tp + fn)
         |                 ELSE 0 END AS BIGINT) AS recall_ppm
         |FROM cf ORDER BY threshold""".stripMargin,
    // top-16 exact counts + the truncation bound: absent keys can tie,
    // never beat, the 16th count — est ≤ true ≤ est + b_bound
    "q_heavy_hitters" ->
      s"""$ToksCte,
         |c AS (SELECT tok AS k, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM (SELECT unnest(toks) AS tok FROM toks) GROUP BY 1),
         |t AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total_mass,
         |             CAST(COUNT(*) AS BIGINT) AS n_types FROM c),
         |kept AS (SELECT k, n, rank FROM (
         |           SELECT k, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, k)
         |             AS BIGINT) AS rank FROM c) WHERE rank <= 16),
         |ka AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
         |              CAST(COALESCE(MIN(n), 0) AS BIGINT) AS mth FROM kept)
         |SELECT kept.rank, kept.k, kept.n AS n_est,
         |       CAST(CASE WHEN t.n_types > ka.n_kept THEN ka.mth ELSE 0 END
         |         AS BIGINT) AS b_bound,
         |       CAST(kept.n + CASE WHEN t.n_types > ka.n_kept THEN ka.mth
         |                          ELSE 0 END AS BIGINT) AS n_max,
         |       t.total_mass
         |FROM kept, t, ka ORDER BY rank""".stripMargin,
    // ratio surrogate of PPMI: n·T·1e6 // (m1·m2), HUGEINT == DECIMAL div;
    // marginals over the minCount-thresholded pair table (both engines)
    "q_ppmi" ->
      s"""$ToksCte,
         |p0 AS (SELECT doc_id, toks,
         |              unnest(range(1, len(toks) + 1)) AS i FROM toks),
         |p1 AS (SELECT toks[CAST(i AS INT)] AS w1,
         |              unnest(list_slice(toks, CAST(i + 1 AS INT),
         |                                CAST(i + 3 AS INT))) AS w2
         |       FROM p0),
         |pr AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM p1 GROUP BY 1, 2 HAVING COUNT(*) >= 30),
         |mm1 AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS m1 FROM pr GROUP BY 1),
         |mm2 AS (SELECT w2, CAST(SUM(n) AS BIGINT) AS m2 FROM pr GROUP BY 1),
         |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM pr),
         |r AS (SELECT w1, w2, n, m1, m2,
         |        CAST((n::HUGEINT * t * 1000000)
         |             // (m1::HUGEINT * m2) AS BIGINT) AS ratio_ppm
         |      FROM pr JOIN mm1 USING (w1) JOIN mm2 USING (w2), tt)
         |SELECT w1, w2, n, m1, m2, ratio_ppm FROM r WHERE ratio_ppm > 1000000
         |ORDER BY ratio_ppm DESC, w1, w2 LIMIT 50""".stripMargin,
    // NTILE(4) buckets + within-bucket row_number replay the closed-form
    // interleave: pos = (rank_in_bucket − 1)·4 + (bucket − 1)
    "q_curriculum" ->
      s"""$ToksCte,
         |tk AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 2),
         |tf2 AS (
         |  SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i+1 AS INT)] AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tk, unnest(range(1, len(toks))) t(i)
         |  GROUP BY doc_id, w1, w2),
         |c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2
         |       FROM tf2 GROUP BY w1, w2),
         |tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n_bigrams FROM c2),
         |pd AS (
         |  SELECT doc_id,
         |    CAST(SUM(tf) AS BIGINT) AS n_pairs,
         |    CAST(SUM(tf * c2) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
         |      / CAST((SELECT n_bigrams FROM tot) AS DOUBLE) AS mean_pair_prob
         |  FROM tf2 JOIN c2 USING (w1, w2)
         |  GROUP BY doc_id),
         |r AS (SELECT doc_id, n_pairs, mean_pair_prob,
         |        ROW_NUMBER() OVER (ORDER BY mean_pair_prob DESC, doc_id) AS rn,
         |        CAST(NTILE(4) OVER (ORDER BY mean_pair_prob DESC, doc_id)
         |             AS BIGINT) AS bucket
         |      FROM pd)
         |SELECT doc_id, n_pairs, mean_pair_prob, bucket,
         |       CAST((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY rn) - 1) * 4
         |            + (bucket - 1) AS BIGINT) AS pos
         |FROM r ORDER BY pos""".stripMargin,
    "q_phrase_bm25" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |p0 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks
         |       FROM toks),
         |p1 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |              toks[CAST(i AS INT)] AS tok FROM p0),
         |tfp AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf,
         |               list_sort(list(pos)) AS ps
         |        FROM p1 WHERE tok IN ('stream', 'window') GROUP BY 1, 2),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tfp GROUP BY 1),
         |ph AS (SELECT a.doc_id,
         |              CAST(len(list_filter(a.ps,
         |                p -> list_contains(b.ps, p + 1))) AS BIGINT) AS n_phrase
         |       FROM tfp a JOIN tfp b ON a.doc_id = b.doc_id
         |       WHERE a.tok = 'stream' AND b.tok = 'window'),
         |w AS (SELECT doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tfp JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM w GROUP BY 1)
         |SELECT ph.doc_id, ph.n_phrase, s.score
         |FROM ph JOIN s USING (doc_id)
         |WHERE ph.n_phrase >= 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // identical semantics through the stored positional index — same replay
    "q_phrase_stored" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |p0 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks
         |       FROM toks),
         |p1 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |              toks[CAST(i AS INT)] AS tok FROM p0),
         |tfp AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf,
         |               list_sort(list(pos)) AS ps
         |        FROM p1 WHERE tok IN ('stream', 'window') GROUP BY 1, 2),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tfp GROUP BY 1),
         |ph AS (SELECT a.doc_id,
         |              CAST(len(list_filter(a.ps,
         |                p -> list_contains(b.ps, p + 1))) AS BIGINT) AS n_phrase
         |       FROM tfp a JOIN tfp b ON a.doc_id = b.doc_id
         |       WHERE a.tok = 'stream' AND b.tok = 'window'),
         |w AS (SELECT doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tfp JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM w GROUP BY 1)
         |SELECT ph.doc_id, ph.n_phrase, s.score
         |FROM ph JOIN s USING (doc_id)
         |WHERE ph.n_phrase >= 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // accretion ≡ one-shot for the positional store: disjoint batches
    // union-merge exactly, so the q_phrase_stored oracle replays verbatim
    "q_phrase_append" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |p0 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks
         |       FROM toks),
         |p1 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |              toks[CAST(i AS INT)] AS tok FROM p0),
         |tfp AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf,
         |               list_sort(list(pos)) AS ps
         |        FROM p1 WHERE tok IN ('stream', 'window') GROUP BY 1, 2),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tfp GROUP BY 1),
         |ph AS (SELECT a.doc_id,
         |              CAST(len(list_filter(a.ps,
         |                p -> list_contains(b.ps, p + 1))) AS BIGINT) AS n_phrase
         |       FROM tfp a JOIN tfp b ON a.doc_id = b.doc_id
         |       WHERE a.tok = 'stream' AND b.tok = 'window'),
         |w AS (SELECT doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tfp JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM w GROUP BY 1)
         |SELECT ph.doc_id, ph.n_phrase, s.score
         |FROM ph JOIN s USING (doc_id)
         |WHERE ph.n_phrase >= 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // store-delete ≡ rebuild for the POSITIONAL store: the survivors'
    // phrase occurrences and BM25 (df/N/avg-dl re-derived over survivors)
    // plus the tombstone audit columns
    "q_phrase_delete" ->
      s"""WITH toks AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         |  FROM documents WHERE doc_id % 7 <> 3),
         |aud AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 END), 0) AS BIGINT) AS n_deleted,
         |         CAST(COALESCE(SUM(CASE WHEN doc_id % 7 <> 3 THEN 1 END), 0) AS BIGINT) AS n_kept,
         |         CAST(COALESCE(SUM(CASE WHEN doc_id % 7 = 3
         |             THEN ${h60Sql("CAST(doc_id AS VARCHAR)")} % 1000003 END), 0) AS BIGINT)
         |           AS del_fp_sum
         |  FROM documents),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |p0 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks
         |       FROM toks),
         |p1 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |              toks[CAST(i AS INT)] AS tok FROM p0),
         |tfp AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf,
         |               list_sort(list(pos)) AS ps
         |        FROM p1 WHERE tok IN ('stream', 'window') GROUP BY 1, 2),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tfp GROUP BY 1),
         |ph AS (SELECT a.doc_id,
         |              CAST(len(list_filter(a.ps,
         |                p -> list_contains(b.ps, p + 1))) AS BIGINT) AS n_phrase
         |       FROM tfp a JOIN tfp b ON a.doc_id = b.doc_id
         |       WHERE a.tok = 'stream' AND b.tok = 'window'),
         |w AS (SELECT doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tfp JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM w GROUP BY 1)
         |SELECT ph.doc_id, ph.n_phrase, s.score, n_deleted, n_kept, del_fp_sum
         |FROM ph JOIN s USING (doc_id), aud
         |WHERE ph.n_phrase >= 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // Stored-index serving must reproduce the corpus-scan BM25 exactly.
    "q_bm25_stored" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       WHERE tok IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |w AS (SELECT doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score,
         |             CAST(COUNT(*) AS BIGINT) AS n_hit
         |      FROM w GROUP BY 1)
         |SELECT doc_id, score, n_hit FROM s
         |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    // store-delete ≡ rebuild: the survivors' BM25 (df/N/avg-dl re-derived
    // over the surviving corpus only) plus the tombstone audit columns
    "q_bm25_delete" ->
      s"""WITH toks AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         |  FROM documents WHERE doc_id % 7 <> 3),
         |aud AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 END), 0) AS BIGINT) AS n_deleted,
         |         CAST(COALESCE(SUM(CASE WHEN doc_id % 7 <> 3 THEN 1 END), 0) AS BIGINT) AS n_kept,
         |         CAST(COALESCE(SUM(CASE WHEN doc_id % 7 = 3
         |             THEN ${h60Sql("CAST(doc_id AS VARCHAR)")} % 1000003 END), 0) AS BIGINT)
         |           AS del_fp_sum
         |  FROM documents),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       WHERE tok IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |w AS (SELECT doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score,
         |             CAST(COUNT(*) AS BIGINT) AS n_hit
         |      FROM w GROUP BY 1)
         |SELECT doc_id, score, n_hit, n_deleted, n_kept, del_fp_sum
         |FROM s, aud
         |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    "q_bm25_multi" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |qt AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, tok
         |       FROM (VALUES
         |         ${Bm25Queries.flatMap { case (q, ts) =>
                      ts.map(t => s"($q, '$t')") }.mkString(", ")})
         |       AS t(query_id, tok)),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       WHERE tok IN (SELECT DISTINCT tok FROM qt)
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |w AS (SELECT tok, doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT query_id, doc_id, CAST(SUM(w) AS BIGINT) AS score,
         |             CAST(COUNT(*) AS BIGINT) AS n_hit
         |      FROM w JOIN qt USING (tok) GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score, n_hit,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |                           ORDER BY score DESC, doc_id) AS rnk
         |      FROM s)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score, n_hit
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // identical semantics through the stored postings — same replay
    "q_bm25_multi_stored" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |qt AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, tok
         |       FROM (VALUES
         |         ${Bm25Queries.flatMap { case (q, ts) =>
                      ts.map(t => s"($q, '$t')") }.mkString(", ")})
         |       AS t(query_id, tok)),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       WHERE tok IN (SELECT DISTINCT tok FROM qt)
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |w AS (SELECT tok, doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT query_id, doc_id, CAST(SUM(w) AS BIGINT) AS score,
         |             CAST(COUNT(*) AS BIGINT) AS n_hit
         |      FROM w JOIN qt USING (tok) GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score, n_hit,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |                           ORDER BY score DESC, doc_id) AS rnk
         |      FROM s)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score, n_hit
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // qtf-weighted twin: the qt CTE KEEPS multiplicity (GROUP BY → qtf)
    // and the per-(query, doc) sum weights each term by it.
    "q_bm25_weighted" ->
      s"""$ToksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS a_tokens FROM dl),
         |qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, tok,
         |              CAST(COUNT(*) AS BIGINT) AS qtf
         |       FROM (VALUES
         |         ${Bm25WeightedQueries.flatMap { case (q, ts) =>
                      ts.map(t => s"($q, '$t')") }.mkString(", ")})
         |       AS t(query_id, tok) GROUP BY 1, 2),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |       WHERE tok IN (SELECT DISTINCT tok FROM qt)
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |w AS (SELECT tok, doc_id,
         |        CAST(((22000000::HUGEINT * a_tokens * tf)
         |               // (10::HUGEINT * a_tokens * tf + 3::HUGEINT * a_tokens
         |                   + 9::HUGEINT * dl * n_docs))
         |             * ((1000000::HUGEINT * (2 * n_docs - 2 * df + 1))
         |                // (2 * df + 1))
         |             // 1000000 AS BIGINT) AS w
         |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok), st),
         |s AS (SELECT query_id, doc_id,
         |             CAST(SUM(qtf::HUGEINT * w) AS BIGINT) AS score,
         |             CAST(COUNT(*) AS BIGINT) AS n_hit
         |      FROM w JOIN qt USING (tok) GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score, n_hit,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |                           ORDER BY score DESC, doc_id) AS rnk
         |      FROM s)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score, n_hit
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    "q_lm_score" ->
      s"""$ToksCte,
         |rt AS (SELECT doc_id, unnest(toks) AS tok FROM toks WHERE doc_id % 4 <> 0),
         |vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM rt GROUP BY 1),
         |cs AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS t_ref,
         |              CAST(COUNT(*) AS BIGINT) AS v_ref FROM vocab),
         |tt AS (SELECT doc_id, unnest(toks) AS tok FROM toks WHERE doc_id % 4 = 0),
         |j AS (SELECT t.doc_id, v.cnt FROM tt t LEFT JOIN vocab v USING (tok)),
         |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |             CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS cnt_sum
         |      FROM j GROUP BY 1)
         |SELECT doc_id, n_tokens, n_oov, cnt_sum,
         |       CAST((1000000000::HUGEINT * (cnt_sum + n_tokens))
         |            // (n_tokens::HUGEINT * (t_ref + v_ref)) AS BIGINT) AS score_ppb,
         |       CAST((1000000::HUGEINT * n_oov) // n_tokens AS BIGINT) AS oov_ppm
         |FROM a, cs ORDER BY doc_id""".stripMargin,
    "q_suppress_rare" ->
      s"""$ToksCte,
         |x AS (SELECT doc_id, unnest(toks) AS tok,
         |             generate_subscripts(toks, 1) AS pos FROM toks),
         |dfreq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |          FROM x GROUP BY 1),
         |y AS (SELECT doc_id, pos,
         |             CASE WHEN df < 3 THEN '<rare>' ELSE tok END AS tok_out,
         |             CASE WHEN df < 3 THEN 1 ELSE 0 END AS masked
         |      FROM x JOIN dfreq USING (tok))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(masked) AS BIGINT) AS n_masked,
         |       STRING_AGG(tok_out, ' ' ORDER BY pos) AS masked_text
         |FROM y GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_ngram_diversity" ->
      s"""$ToksCte,
         |g AS (SELECT d.source AS source,
         |        unnest(CASE WHEN len(toks) >= 2 THEN
         |            list_transform(range(1, len(toks)),
         |                           i -> toks[i] || ' ' || toks[i+1])
         |          ELSE [] END) AS g
         |      FROM toks JOIN documents d USING (doc_id))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
         |       CAST((1000000::HUGEINT * COUNT(DISTINCT g)) // COUNT(*) AS BIGINT)
         |         AS ttr_ppm
         |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "q_fertility" ->
      s"""$ToksCte,
         |f AS (SELECT d.source AS source, d.n_chars AS n_chars,
         |             CAST(len(t.toks) AS BIGINT) AS n_toks
         |      FROM toks t JOIN documents d USING (doc_id))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sum_chars,
         |       CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS sum_tokens,
         |       CASE WHEN COALESCE(SUM(n_toks), 0) = 0 THEN NULL
         |            ELSE CAST((1000000::HUGEINT * CAST(SUM(n_chars) AS HUGEINT))
         |                        // CAST(SUM(n_toks) AS HUGEINT) AS BIGINT) END
         |         AS cpt_ppm
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q_source_divergence" ->
      s"""$ToksCte,
         |tok AS (SELECT source, ${h60Sql("t")} % 64 AS bucket FROM (
         |          SELECT d.source AS source, unnest(tk.toks) AS t
         |          FROM toks tk JOIN documents d USING (doc_id))),
         |sc AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS c_sb
         |       FROM tok GROUP BY 1, 2),
         |corpus AS (SELECT bucket, CAST(SUM(c_sb) AS BIGINT) AS c_b
         |           FROM sc GROUP BY 1),
         |totals AS (SELECT source, CAST(SUM(c_sb) AS BIGINT) AS t_s
         |           FROM sc GROUP BY 1),
         |consts AS (SELECT CAST(SUM(c_b) AS BIGINT) AS t_all FROM corpus),
         |j AS (SELECT g.source, g.t_s, g.c_b, COALESCE(sc.c_sb, 0) AS c_sb, consts.t_all
         |      FROM (SELECT totals.source, totals.t_s, corpus.bucket, corpus.c_b
         |            FROM totals CROSS JOIN corpus) g
         |      LEFT JOIN sc ON sc.source = g.source AND sc.bucket = g.bucket
         |      CROSS JOIN consts)
         |SELECT source, MAX(t_s) AS n_tokens,
         |       CAST(SUM(CASE WHEN c_sb > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_buckets_hit,
         |       CAST(SUM(ABS(
         |           CAST((1000000::HUGEINT * c_sb) // t_s AS BIGINT)
         |           - CAST((1000000::HUGEINT * c_b) // t_all AS BIGINT)))
         |         AS BIGINT) AS tv2_ppm
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q_transitions" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |              date_trunc('microseconds', ts) AS ts FROM events),
        |p AS (SELECT event_type AS from_type,
        |             LEAD(event_type) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS to_type
        |      FROM ev),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, t.n_from,
        |       CAST((1000000::HUGEINT * c.n) // t.n_from AS BIGINT) AS p_ppm
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    // per-day counts halved once per elapsed 7-day half-life as-of
    // 2024-02-01 — BIGINT shifts both engines (shift capped at 62:
    // DuckDB raises past 63), future days excluded
    "q_decayed_counts" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, n,
        |             date_diff('day', day, DATE '2024-02-01') AS age
        |      FROM d WHERE day <= DATE '2024-02-01')
        |SELECT event_type,
        |       CAST(SUM(n >> CAST(LEAST(age // 7, 62) AS INT)) AS BIGINT)
        |         AS decayed_mass,
        |       CAST(SUM(n) AS BIGINT) AS n_total,
        |       CAST(COUNT(*) AS BIGINT) AS n_days
        |FROM a GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lower-median/MAD daily-volume flags: med = value at row_number
    // (n_days+1) DIV 2 under the (value, day) total order — both engines
    // rank identically; every comparison BIGINT
    "q_volume_anomaly" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT d.*,
        |             ROW_NUMBER() OVER (PARTITION BY event_type
        |                                ORDER BY n, day) AS rn,
        |             COUNT(*) OVER (PARTITION BY event_type) AS nd
        |      FROM d),
        |m AS (SELECT event_type, MAX(CASE WHEN rn = (nd + 1) // 2 THEN n END)
        |               AS med
        |      FROM r GROUP BY 1),
        |dv AS (SELECT d.event_type, d.day, d.n, m.med, ABS(d.n - m.med) AS dev
        |       FROM d JOIN m USING (event_type)),
        |r2 AS (SELECT dv.*,
        |              ROW_NUMBER() OVER (PARTITION BY event_type
        |                                 ORDER BY dev, day) AS rn,
        |              COUNT(*) OVER (PARTITION BY event_type) AS nd
        |       FROM dv),
        |m2 AS (SELECT event_type, MAX(CASE WHEN rn = (nd + 1) // 2 THEN dev END)
        |                AS mad
        |       FROM r2 GROUP BY 1)
        |SELECT dv.event_type, dv.day, dv.n, dv.med, m2.mad, dv.dev,
        |       dv.dev > m2.mad * 3 AS anomaly
        |FROM dv JOIN m2 USING (event_type)
        |ORDER BY event_type, day""".stripMargin,
    "q_funnel" ->
      s"""WITH ev AS (SELECT user_id, event_type,
         |              date_trunc('microseconds', ts) AS ts FROM events),
         |s1 AS (SELECT user_id, MIN(ts) AS t FROM ev
         |            WHERE event_type = '${FunnelSteps(0)}' GROUP BY 1),
         |s2 AS (SELECT user_id, MIN(ts) AS t FROM (
         |         SELECT e.user_id, e.ts FROM ev e JOIN s1 USING (user_id)
         |         WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > s1.t)
         |       GROUP BY 1),
         |s3 AS (SELECT user_id, MIN(ts) AS t FROM (
         |         SELECT e.user_id, e.ts FROM ev e JOIN s2 USING (user_id)
         |         WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > s2.t)
         |       GROUP BY 1),
         |s4 AS (SELECT user_id, MIN(ts) AS t FROM (
         |         SELECT e.user_id, e.ts FROM ev e JOIN s3 USING (user_id)
         |         WHERE e.event_type = '${FunnelSteps(3)}' AND e.ts > s3.t)
         |       GROUP BY 1)
         |SELECT CAST(1 AS BIGINT) AS step, '${FunnelSteps(0)}' AS event_type,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
         |UNION ALL SELECT 2, '${FunnelSteps(1)}', (SELECT COUNT(*) FROM s2)
         |UNION ALL SELECT 3, '${FunnelSteps(2)}', (SELECT COUNT(*) FROM s3)
         |UNION ALL SELECT 4, '${FunnelSteps(3)}', (SELECT COUNT(*) FROM s4)
         |ORDER BY step""".stripMargin,
    "q_funnel_state" ->
      s"""WITH ev AS (SELECT user_id, event_type,
         |              date_trunc('microseconds', ts) AS ts FROM events),
         |s1 AS (SELECT user_id, MIN(ts) AS t FROM ev
         |            WHERE event_type = '${FunnelSteps(0)}' GROUP BY 1),
         |s2 AS (SELECT user_id, MIN(ts) AS t FROM (
         |         SELECT e.user_id, e.ts FROM ev e JOIN s1 USING (user_id)
         |         WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > s1.t)
         |       GROUP BY 1),
         |s3 AS (SELECT user_id, MIN(ts) AS t FROM (
         |         SELECT e.user_id, e.ts FROM ev e JOIN s2 USING (user_id)
         |         WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > s2.t)
         |       GROUP BY 1),
         |s4 AS (SELECT user_id, MIN(ts) AS t FROM (
         |         SELECT e.user_id, e.ts FROM ev e JOIN s3 USING (user_id)
         |         WHERE e.event_type = '${FunnelSteps(3)}' AND e.ts > s3.t)
         |       GROUP BY 1)
         |SELECT user_id, CAST(1 AS BIGINT) AS step, t FROM s1
         |UNION ALL SELECT user_id, CAST(2 AS BIGINT), t FROM s2
         |UNION ALL SELECT user_id, CAST(3 AS BIGINT), t FROM s3
         |UNION ALL SELECT user_id, CAST(4 AS BIGINT), t FROM s4
         |ORDER BY user_id, step""".stripMargin,
    "q_retention_state" ->
      """SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |FROM events ORDER BY user_id, week""".stripMargin,
    "q_retention_cohorts" ->
      """WITH fw AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |            FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |      FROM events),
        |j AS (SELECT cohort_week,
        |             date_diff('day', cohort_week, week) // 7 AS week_offset
        |      FROM a JOIN fw USING (user_id))
        |SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_topk_per_key" ->
      """WITH r AS (
        |  SELECT event_type AS etype, value, event_id AS tiebreak,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id ASC) AS rnk
        |  FROM events)
        |SELECT etype, CAST(rnk AS BIGINT) AS rnk, value, tiebreak
        |FROM r WHERE rnk <= 5 ORDER BY etype, rnk""".stripMargin,
    "q_zorder" ->
      """WITH b AS (
        |  SELECT (l_partkey & 65535) AS x, (l_suppkey & 65535) AS y,
        |         l_partkey AS xr, l_suppkey AS yr
        |  FROM lineitem),
        |s1 AS (SELECT xr, yr,
        |         (x | (x << 8)) & 16711935 AS xa,
        |         (y | (y << 8)) & 16711935 AS ya FROM b),
        |s2 AS (SELECT xr, yr,
        |         (xa | (xa << 4)) & 252645135 AS xb,
        |         (ya | (ya << 4)) & 252645135 AS yb FROM s1),
        |s3 AS (SELECT xr, yr,
        |         (xb | (xb << 2)) & 858993459 AS xc,
        |         (yb | (yb << 2)) & 858993459 AS yc FROM s2),
        |s4 AS (SELECT xr, yr,
        |         (xc | (xc << 1)) & 1431655765 AS xd,
        |         (yc | (yc << 1)) & 1431655765 AS yd FROM s3),
        |z AS (SELECT xr, yr, xd | (yd << 1) AS zkey FROM s4)
        |SELECT zkey >> 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       MIN(xr) AS x_min, MAX(xr) AS x_max,
        |       MIN(yr) AS y_min, MAX(yr) AS y_max
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_decontaminate_bloom" ->
      """WITH fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |ev AS (SELECT DISTINCT md5(text) AS fp FROM documents
        |       WHERE doc_id % 97 = 1)
        |SELECT t.doc_id FROM fps t
        |WHERE t.doc_id % 3 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM ev e WHERE e.fp = t.fp)
        |ORDER BY t.doc_id""".stripMargin,
    "q_countmin" -> {
      val cf = graft.functions.TextFunctions.minHashCoeffs(4).zipWithIndex
        .map { case ((a, b), r) => s"($r, $a, $b)" }.mkString(", ")
      s"""WITH cf(r, a, bc) AS (VALUES $cf),
         |base AS (SELECT ${h60Sql("CAST(user_id AS VARCHAR)")} & 4294967295 AS h
         |         FROM events),
         |cells AS (SELECT r, ((a * h + bc) % 4294967311) % 256 AS b
         |          FROM base CROSS JOIN cf),
         |sketch AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM cells GROUP BY r, b),
         |probes AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact,
         |             ${h60Sql("CAST(user_id AS VARCHAR)")} & 4294967295 AS h
         |           FROM events WHERE user_id % 10 = 7 GROUP BY user_id),
         |pc AS (SELECT user_id, exact, r, ((a * h + bc) % 4294967311) % 256 AS b
         |       FROM probes CROSS JOIN cf)
         |SELECT user_id, exact, MIN(cnt) AS est
         |FROM pc JOIN sketch USING (r, b)
         |GROUP BY user_id, exact ORDER BY user_id""".stripMargin
    },
    "q_sample_weighted" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE ${h60Sql("CAST(doc_id AS VARCHAR) || '|w1'")} % 1048576
         |      < least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) * 1048576.0
         |ORDER BY doc_id""".stripMargin,
    // lowest-count k% selection replayed with list_sort + slice — lockstep
    // with TextAnalysis.minKCountAudit
    "q_min_k_prob" ->
      s"""$ToksCte,
         |cnt AS (SELECT tok AS t, COUNT(*) AS c
         |        FROM (SELECT unnest(toks) AS tok FROM toks) GROUP BY 1),
         |at AS (SELECT doc_id, unnest(toks) AS t FROM toks
         |       WHERE doc_id % 17 = 0),
         |pd AS (SELECT doc_id, list_sort(list(COALESCE(c, 0))) AS cs
         |       FROM at LEFT JOIN cnt USING (t) GROUP BY doc_id)
         |SELECT doc_id,
         |       CAST(len(cs) AS BIGINT) AS n_tokens,
         |       CAST(LEAST(GREATEST(1, (len(cs) * 20) // 100), len(cs))
         |            AS BIGINT) AS n_lowk,
         |       CAST(COALESCE(list_sum(
         |           cs[1:GREATEST(1, (len(cs) * 20) // 100)]), 0) AS BIGINT)
         |         AS lowk_count_sum
         |FROM pd ORDER BY doc_id""".stripMargin,
    // add-one bag models over 4096 hashed-unigram buckets; r_ppm exact in
    // HUGEINT/DECIMAL(38) with one floor division — lockstep with
    // Curate.dsirWeights; the kept gate mirrors sampleByWeight's
    "q_dsir" ->
      s"""$ToksCte,
         |tb AS (SELECT doc_id, ${h60Sql("tok")} % 4096 AS bucket
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks
         |             WHERE doc_id % 23 = 0)),
         |rb AS (SELECT doc_id, ${h60Sql("tok")} % 4096 AS bucket
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks
         |             WHERE doc_id % 23 <> 0)),
         |tc AS (SELECT bucket, COUNT(*) AS c_tgt FROM tb GROUP BY 1),
         |rc AS (SELECT bucket, COUNT(*) AS c_raw FROM rb GROUP BY 1),
         |nt AS (SELECT COUNT(*) AS n_tgt FROM tb),
         |nr AS (SELECT COUNT(*) AS n_raw FROM rb),
         |ratio AS (
         |  SELECT bucket,
         |         CAST((1000000::HUGEINT * (COALESCE(c_tgt, 0) + 1) * (n_raw + 4096))
         |              // ((COALESCE(c_raw, 0) + 1) * (n_tgt + 4096)) AS BIGINT)
         |           AS r_ppm
         |  FROM tc FULL OUTER JOIN rc USING (bucket), nt, nr),
         |w AS (SELECT doc_id, COUNT(*) AS dsir_tokens,
         |             CAST(SUM(r_ppm) AS BIGINT) AS dsir_w
         |      FROM rb JOIN ratio USING (bucket) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(dsir_tokens, 0) AS dsir_tokens,
         |       COALESCE(dsir_w, 0) AS dsir_w,
         |       COALESCE(dsir_w, 0) // GREATEST(COALESCE(dsir_tokens, 0), 1)
         |         AS dsir_mean_ppm,
         |       CAST(${h60Sql("CAST(d.doc_id AS VARCHAR) || '|dsir1'")} % 1048576
         |            AS DOUBLE)
         |         < LEAST(GREATEST(
         |             0.25 * CAST(COALESCE(dsir_w, 0)
         |                         // GREATEST(COALESCE(dsir_tokens, 0), 1) AS DOUBLE)
         |               / 1000000.0, 0.0), 1.0) * 1048576.0 AS kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 23 <> 0) d
         |LEFT JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_hll" ->
      s"""WITH h AS (SELECT ${h60Sql("CAST(user_id AS VARCHAR)")} & 4294967295 AS h32
         |           FROM events),
         |s AS (SELECT h32 >> 23 AS bucket, h32 & 8388607 AS suffix FROM h),
         |r AS (SELECT bucket,
         |        CAST(CASE WHEN suffix = 0 THEN 24
         |             ELSE 23 - (length(bin(suffix)) - 1) END AS BIGINT) AS rho
         |      FROM s)
         |SELECT bucket, MAX(rho) AS rho_max FROM r
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_hll_overlap" ->
      s"""WITH ha AS (SELECT ${h60Sql("text")} & 4294967295 AS h32
         |            FROM documents WHERE doc_id % 2 = 0),
         |sa AS (SELECT h32 >> 23 AS bucket, h32 & 8388607 AS suffix FROM ha),
         |ra AS (SELECT bucket,
         |         MAX(CAST(CASE WHEN suffix = 0 THEN 24
         |             ELSE 23 - (length(bin(suffix)) - 1) END AS BIGINT)) AS rho_a
         |       FROM sa GROUP BY 1),
         |hb AS (SELECT ${h60Sql("text")} & 4294967295 AS h32
         |            FROM documents WHERE doc_id % 2 = 1),
         |sb AS (SELECT h32 >> 23 AS bucket, h32 & 8388607 AS suffix FROM hb),
         |rb AS (SELECT bucket,
         |         MAX(CAST(CASE WHEN suffix = 0 THEN 24
         |             ELSE 23 - (length(bin(suffix)) - 1) END AS BIGINT)) AS rho_b
         |       FROM sb GROUP BY 1)
         |SELECT COALESCE(ra.bucket, rb.bucket) AS bucket,
         |       COALESCE(rho_a, 0) AS rho_a,
         |       COALESCE(rho_b, 0) AS rho_b,
         |       GREATEST(COALESCE(rho_a, 0), COALESCE(rho_b, 0)) AS rho_union
         |FROM ra FULL OUTER JOIN rb ON ra.bucket = rb.bucket
         |ORDER BY bucket""".stripMargin,
    "q_outliers" ->
      """WITH m AS (
        |  SELECT event_type AS etype, COUNT(*) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type),
        |mm AS (SELECT etype, s1 / n AS mu,
        |              sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sigma
        |       FROM m)
        |SELECT e.event_id, e.event_type AS etype, e.value, mm.mu, mm.sigma
        |FROM events e JOIN mm ON e.event_type = mm.etype
        |WHERE abs(e.value - mm.mu) > 2.5 * mm.sigma
        |ORDER BY e.event_id""".stripMargin,
    "q_cap_per_source" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
         |      ${h60Sql("CAST(doc_id AS VARCHAR) || '|cap1'")}, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 15
         |ORDER BY doc_id""".stripMargin,
    "q_hll_windowed" ->
      s"""WITH h AS (SELECT date_trunc('day', ts) AS window_start,
         |             ${h60Sql("CAST(user_id AS VARCHAR)")} & 4294967295 AS h32
         |           FROM events),
         |s AS (SELECT window_start, h32 >> 25 AS bucket,
         |             h32 & 33554431 AS suffix FROM h),
         |r AS (SELECT window_start, bucket,
         |        CAST(CASE WHEN suffix = 0 THEN 26
         |             ELSE 25 - (length(bin(suffix)) - 1) END AS BIGINT) AS rho
         |      FROM s)
         |SELECT window_start, bucket, MAX(rho) AS rho_max FROM r
         |GROUP BY window_start, bucket ORDER BY window_start, bucket""".stripMargin,
    "q_log_hist" ->
      """WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
        |b AS (SELECT source, v,
        |             CAST(GREATEST(length(bin(v)) - 1 - 5, 0) AS BIGINT) AS shift
        |      FROM v),
        |c AS (SELECT source, shift, v >> shift AS sub FROM b)
        |SELECT source, shift, sub, COUNT(*) AS cnt, (sub << shift) AS lo
        |FROM c GROUP BY source, shift, sub ORDER BY source, lo""".stripMargin,
    "q_log_hist_quantiles" ->
      """WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
        |b AS (SELECT source, v,
        |             CAST(GREATEST(length(bin(v)) - 1 - 5, 0) AS BIGINT) AS shift
        |      FROM v),
        |c AS (SELECT source, shift, v >> shift AS sub FROM b),
        |h AS (SELECT source, shift, sub, COUNT(*) AS cnt, (sub << shift) AS lo
        |      FROM c GROUP BY source, shift, sub),
        |w AS (SELECT source, lo, cnt,
        |             lo + (CAST(1 AS BIGINT) << shift) - 1 AS hi,
        |             CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY lo)
        |                  AS BIGINT) AS cum,
        |             CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |      FROM h),
        |q AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                     CAST(0.99 AS DOUBLE)]) AS q)
        |SELECT source, q, n, MIN(lo) AS est_lo, MIN(hi) AS est_hi
        |FROM w CROSS JOIN q
        |WHERE cum >= CAST(ceil(q * n) AS BIGINT)
        |GROUP BY source, q, n ORDER BY source, q""".stripMargin,
    "q_range_bounds" ->
      s"""WITH s AS (
         |  SELECT l_orderkey AS k FROM lineitem
         |  WHERE ${h60Sql("CAST(l_orderkey AS VARCHAR) || '|bounds'")} % 1048576 < 104858),
         |r AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) AS rn FROM s),
         |m AS (SELECT COUNT(*) AS m FROM s),
         |i AS (SELECT unnest(range(1, 8)) AS split_no)
         |SELECT CAST(i.split_no AS BIGINT) AS split_no, r.k AS upper_bound
         |FROM i, r, m
         |WHERE r.rn = CAST(ceil(i.split_no * m.m / 8.0) AS BIGINT)
         |ORDER BY split_no""".stripMargin,
    "q_collocations" ->
      s"""$ToksCte,
         |t2 AS (SELECT toks FROM toks WHERE len(toks) >= 2),
         |ix AS (SELECT unnest(range(1, len(toks))) AS i, toks FROM t2),
         |p0 AS (SELECT toks[CAST(i AS INT)] AS a,
         |              toks[CAST(i AS INT) + 1] AS b FROM ix),
         |pairs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
         |          FROM p0 GROUP BY a, b HAVING COUNT(*) >= 5),
         |uni AS (SELECT unnest(toks) AS t FROM toks),
         |uc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY t),
         |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_corpus FROM uc)
         |SELECT a, b, c_ab, ua.c AS c_a, ub.c AS c_b,
         |  CAST(floor(CAST(c_ab AS DOUBLE) * CAST(n.n_corpus AS DOUBLE) * 1e6
         |    / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))) AS BIGINT)
         |    AS ratio_ppm
         |FROM pairs JOIN uc ua ON pairs.a = ua.t
         |           JOIN uc ub ON pairs.b = ub.t, n
         |ORDER BY ratio_ppm DESC, a, b LIMIT 20""".stripMargin
  )
}
