package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.AsOfJoin

/** Event-time operator tests: declarative vs custom-state sessionization
  * equivalence, genuine Structured Streaming runs of the windowed
  * aggregation (Complete) and the flatMapGroupsWithState sessionizer
  * (Append + event-time timeouts), and as-of join edge cases.
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private val GapMinutes = 360L // 6 hours, matching q_sessionize

  private lazy val events = graft.Tables.normalizeTs(spark.read
    .parquet("/root/testdata/sf0.001/events.parquet"))
    .cache()

  private def sessionKey(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("user_id"),
      r.getAs[Timestamp]("session_start").getTime,
      r.getAs[Timestamp]("session_end").getTime,
      r.getAs[Long]("n_events"))

  test("custom-state sessionization equals the session_window form") {
    val declarative = Sessions.sessionize(events, "6 hours")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(sessionKey).toSet
    val stateful = Sessions.sessionizeState(events, GapMinutes)
      .toDF().collect().map(sessionKey).toSet
    assert(stateful === declarative)
    assert(declarative.nonEmpty)
  }

  test("streaming window aggregation (Complete) equals the batch query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-winagg").toString
    events.orderBy("ts").coalesce(1).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val q = WindowAgg.tumblingCounts(
      spark.readStream.schema(schema).parquet(s"$dir/in"), "1 day")
      .writeStream
      .format("memory")
      .queryName("winagg")
      .outputMode("complete")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Timestamp]("window_start").getTime, r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))
    val streamed = spark.table("winagg").collect().map(key).toSet
    val batch = WindowAgg.tumblingCounts(events, "1 day").collect().map(key).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("co-bucketed tables join with no exchange on either side") {
    val left = (1 to 1000).map(i => (s"id_$i", i.toLong)).toDF("unique_id", "a")
    val right = (1 to 1000).map(i => (s"id_$i", s"p$i")).toDF("unique_id", "b")
    // a fresh catalog + a stale warehouse dir from an earlier JVM makes
    // saveAsTable refuse the location — clear both table AND directory
    Seq("e2e_bucket_left", "e2e_bucket_right").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Maintenance.writeBucketed(left, "e2e_bucket_left", Seq("unique_id"), 8)
    Maintenance.writeBucketed(right, "e2e_bucket_right", Seq("unique_id"), 8)
    val joined = spark.table("e2e_bucket_left")
      .join(spark.table("e2e_bucket_right"), "unique_id")
    // disable broadcast so the plan MUST choose a non-broadcast join, then
    // prove the bucket layout removed the shuffle the join would pay
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val rejoined = spark.table("e2e_bucket_left")
        .join(spark.table("e2e_bucket_right"), "unique_id")
      val plan = rejoined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(rejoined.count() === 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(joined.count() === 1000)
  }

  test("latestSnapshot keeps the max-version row per key with partial aggregation") {
    val updates = Seq(
      (1L, 10L, 100L, "a"), (1L, 30L, 101L, "c"), (1L, 20L, 102L, "b"),
      (2L, 5L, 103L, "x"),
      (3L, 7L, 104L, "y"), (3L, 7L, 105L, "z")) // same version → id breaks tie
      .toDF("key", "version", "rec_id", "payload")
    val out = Maintenance.latestSnapshot(updates,
      keyCols = Seq("key"), versionCols = Seq("version", "rec_id"))
      .orderBy("key")
      .as[(Long, Long, Long, String)].collect()
    assert(out === Array((1L, 30L, 101L, "c"), (2L, 5L, 103L, "x"), (3L, 7L, 105L, "z")))
    // scale audit: compiles to a hash aggregate with a partial (map-side)
    // pass — NOT a full-shuffle row_number window
    val plan = Maintenance.latestSnapshot(updates,
      keyCols = Seq("key"), versionCols = Seq("version", "rec_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("deleteWhere splits survivors from tombstones; NULL predicate keeps; fingerprint proves erasure") {
    val store = Seq(
      (1L, "b1", "k1", Some(10)), (2L, "b1", "k2", Some(99)),
      (3L, "b1", "k3", None),     // NULL predicate value → kept
      (4L, "b2", "k4", Some(99)), (5L, "b2", "k5", Some(1)))
      .toDF("id", "broker", "key", "score")
    val (survivors, audit) = Maintenance.deleteWhere(
      store, col("score") > 50, Seq("broker"), col("key"))
    assert(survivors.select("id").as[Long].collect().sorted === Array(1L, 3L, 5L))
    val a = audit.orderBy("broker")
      .as[(String, Long, Long, Long)].collect()
    assert(a.map(r => (r._1, r._2, r._3)) === Array(("b1", 1L, 2L), ("b2", 1L, 1L)))
    // the deleted-key fingerprint re-derives from the deletion list alone
    def h60(s: String): Long =
      (BigInt(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
        .take(15), 16) % 1000003L).toLong
    assert(a(0)._4 === h60("k2"))
    assert(a(1)._4 === h60("k4"))
    // a group with no deletions reports 0, not NULL
    val none = Maintenance.deleteWhere(
      store, col("score") > 1000, Seq("broker"), col("key"))._2
      .as[(String, Long, Long, Long)].collect()
    assert(none.forall(r => r._2 == 0L && r._4 == 0L))
  }

  test("corpusDiff classifies added/removed/changed/unchanged per group; re-homed rows land in the new group") {
    val v1 = Seq((1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"), (4L, "d", "s2"))
      .toDF("doc_id", "text", "source")
    val v2 = Seq((2L, "b", "s1"), (3L, "c2", "s2"), (4L, "d", "s3"), (5L, "e", "s3"))
      .toDF("doc_id", "text", "source")
    val out = Maintenance.corpusDiff(v1, v2, "doc_id", "text", "source")
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect()
    assert(out === Array(
      ("s1", 0L, 1L, 0L, 1L), // doc 1 removed, doc 2 unchanged
      ("s2", 0L, 0L, 1L, 0L), // doc 3 changed
      // doc 4 re-homed s2→s3 with same text: counts as unchanged in the
      // NEW group; doc 5 added
      ("s3", 1L, 0L, 0L, 1L)))
  }

  test("streaming hopping-window aggregation (Complete) equals the batch query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hopagg").toString
    events.orderBy("ts").coalesce(1).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val q = WindowAgg.hoppingCounts(
      spark.readStream.schema(schema).parquet(s"$dir/in"), "1 day", "6 hours")
      .writeStream
      .format("memory")
      .queryName("hopagg")
      .outputMode("complete")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Timestamp]("window_start").getTime, r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))
    val streamed = spark.table("hopagg").collect().map(key).toSet
    val batch = WindowAgg.hoppingCounts(events, "1 day", "6 hours")
      .collect().map(key).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
    // every event fans out into duration/slide = 4 windows
    assert(batch.toSeq.map(_._3).sum ===
      4L * WindowAgg.tumblingCounts(events, "1 day").collect()
        .map(_.getAs[Long]("n_events")).sum)
  }

  test("streaming sessionizer emits exactly the watermark-final sessions") {
    // chronological thirds as separate files → the file stream delivers
    // them as successive micro-batches and the event-time watermark
    // actually advances between batches (a single file would pin it at 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val bounds = Seq("2024-01-11", "2024-01-21")
    val parts = Seq(
      events.filter(col("ts") < lit(bounds(0)).cast("timestamp")),
      events.filter(col("ts") >= lit(bounds(0)).cast("timestamp") &&
        col("ts") < lit(bounds(1)).cast("timestamp")),
      events.filter(col("ts") >= lit(bounds(1)).cast("timestamp")))
    parts.zipWithIndex.foreach { case (p, i) =>
      p.orderBy("ts").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5) // distinct mtimes → deterministic file order
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val source = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .withWatermark("ts", "0 seconds")
    val q = Sessions.sessionizeStream(source, GapMinutes)
      .writeStream
      .format("memory")
      .queryName("sess")
      .outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.table("sess").collect().map(sessionKey).toSet
    val batch = Sessions.sessionizeState(events, GapMinutes).toDF().collect()
    val maxTs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    // a session is watermark-final iff a successor event closed it (it is
    // not its user's last session) or the final watermark (= global max
    // event time with 0s delay) passed its end
    val lastPerUser = batch.groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.map(r => r.getAs[Timestamp]("session_end").getTime).max).toMap
    val expected = batch.filter { r =>
      val endMicros = r.getAs[Timestamp]("session_end").getTime * 1000L
      val isLast =
        r.getAs[Timestamp]("session_end").getTime == lastPerUser(r.getAs[Long]("user_id"))
      !isLast || endMicros < maxTs
    }.map(sessionKey).toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty)
    // nothing phantom: every emission is a true session
    assert(streamed.subsetOf(batch.map(sessionKey).toSet))
  }

  test("stateful sessionizer recovers from checkpoint across restart, no loss or dup") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sessrec").toString
    val bounds = Seq("2024-01-11", "2024-01-21")
    val parts = Seq(
      events.filter(col("ts") < lit(bounds(0)).cast("timestamp")),
      events.filter(col("ts") >= lit(bounds(0)).cast("timestamp") &&
        col("ts") < lit(bounds(1)).cast("timestamp")),
      events.filter(col("ts") >= lit(bounds(1)).cast("timestamp")))
    def writePart(i: Int): Unit = {
      parts(i).orderBy("ts").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = parts.head.schema
    def runOnce(): Unit = {
      val source = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in/*")
        .withWatermark("ts", "0 seconds")
      val q = Sessions.sessionizeStream(source, GapMinutes)
        .writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/checkpoint")
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    writePart(0)
    runOnce() // first incarnation sees only f0, then "crashes" (stop)
    writePart(1); writePart(2)
    runOnce() // second incarnation resumes from the checkpointed state

    val streamed = spark.read.parquet(s"$dir/out").collect().map(sessionKey).toSeq
    assert(streamed.distinct.size === streamed.size, "duplicated session emissions")
    // identical expected set as an uninterrupted run: watermark-final sessions
    val batch = Sessions.sessionizeState(events, GapMinutes).toDF().collect()
    val maxTs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val lastPerUser = batch.groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.map(r => r.getAs[Timestamp]("session_end").getTime).max).toMap
    val expected = batch.filter { r =>
      val endMicros = r.getAs[Timestamp]("session_end").getTime * 1000L
      val isLast =
        r.getAs[Timestamp]("session_end").getTime == lastPerUser(r.getAs[Long]("user_id"))
      !isLast || endMicros < maxTs
    }.map(sessionKey).toSet
    assert(streamed.toSet === expected)
  }

  test("stream-stream interval join equals the batch range join on drained input") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssjoin").toString
    val bounds = Seq("2024-01-11", "2024-01-21")
    def thirds(df: org.apache.spark.sql.DataFrame) = Seq(
      df.filter(col("ts") < lit(bounds(0)).cast("timestamp")),
      df.filter(col("ts") >= lit(bounds(0)).cast("timestamp") &&
        col("ts") < lit(bounds(1)).cast("timestamp")),
      df.filter(col("ts") >= lit(bounds(1)).cast("timestamp")))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    Seq("p" -> purchases, "c" -> clicks).foreach { case (tag, df) =>
      thirds(df).zipWithIndex.foreach { case (part, i) =>
        part.orderBy("ts").coalesce(1).write.parquet(s"$dir/$tag/f$i")
        Thread.sleep(5)
      }
    }
    def stream(tag: String, tsName: String) = {
      val schema = spark.read.parquet(s"$dir/$tag/f0").schema
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/$tag/*").withColumnRenamed("ts", tsName)
    }
    val q = StreamJoin.withRecentContext(
      stream("p", "purchase_ts"), stream("c", "click_ts"),
      key = "user_id", leftTs = "purchase_ts", rightTs = "click_ts",
      lookback = "1 day")
      .select("purchase_id", "click_id")
      .writeStream.format("memory").queryName("ssjoin").outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("ssjoin").as[(Long, Long)].collect().toSet
    val batch = StreamJoin.withRecentContext(
      purchases.withColumnRenamed("ts", "purchase_ts"),
      clicks.withColumnRenamed("ts", "click_ts"),
      key = "user_id", leftTs = "purchase_ts", rightTs = "click_ts",
      lookback = "1 day")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming redelivery dedup suppresses duplicate ids within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val parts = Seq(
      events.filter(col("ts") < lit("2024-01-11").cast("timestamp")),
      events.filter(col("ts") >= lit("2024-01-11").cast("timestamp") &&
        col("ts") < lit("2024-01-21").cast("timestamp")),
      events.filter(col("ts") >= lit("2024-01-21").cast("timestamp")))
    // file i+1 redelivers the newest 50 events of file i (an at-least-once
    // broker re-sending the un-acked tail after a crash)
    parts.zipWithIndex.foreach { case (p, i) =>
      val redelivered =
        if (i == 0) p
        else p.unionByName(parts(i - 1).orderBy(col("ts").desc).limit(50))
      redelivered.orderBy("ts").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val q = PersistPipeline.dedupWithinWatermark(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in/*"),
      Seq("event_id"), "ts", "1 hour")
      .select("event_id")
      .writeStream.format("memory").queryName("dedup").outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("dedup").as[Long].collect().toSeq
    val original = events.select("event_id").as[Long].collect().toSeq
    assert(streamed.sorted === original.sorted) // every id once, none extra
    // batch form: plain distinct-by-id
    val batchDeduped = PersistPipeline.dedupWithinWatermark(
      events.unionByName(events.limit(100)), Seq("event_id"), "ts", "1 hour")
    assert(batchDeduped.count() === original.size)
  }

  test("streaming cluster maintenance: per-batch label merge equals batch clusters") {
    import graft.operators.Dedup
    import java.nio.file.{Files, Paths}
    // pair stream with cross-batch structure: batch 2's (3,4) bridges the
    // {1,2,3} and {4,5} components formed by batches 0-1, and 8 joins 6-7
    val batches = Seq(
      Seq((1L, 2L), (4L, 5L)),
      Seq((2L, 3L), (6L, 7L)),
      Seq((3L, 4L), (7L, 8L)))
    val dir = Files.createTempDirectory("graft-clstream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_a", "doc_b").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val storeRoot = s"$dir/store"
    // versioned store: labels are corpus-sized, so each batch WRITES the
    // merged generation and the next batch reads the latest — no driver
    // collect (unlike the ≤2^p-row HLL store below)
    def latest: Option[String] = {
      val d = Paths.get(storeRoot)
      if (!Files.exists(d)) None
      else {
        val s = Files.list(d) // DirectoryStream: must be closed, not GC'd
        try s.map[String](_.toString).sorted(Ordering[String].reverse)
          .findFirst().map[Option[String]](Some(_)).orElse(None)
        finally s.close()
      }
    }
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val merged = latest match {
          case Some(p) => Dedup.mergeClusters(spark.read.parquet(p), batch)
          case None => Dedup.clusters(batch)
        }
        merged.write.parquet(f"$storeRoot/v$id%05d")
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.read.parquet(latest.get)
      .as[(Long, Long)].collect().sorted.toSeq
    val allPairs = batches.flatten.toDF("doc_a", "doc_b")
    val batchLabels = Dedup.clusters(allPairs)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(streamed === batchLabels)
    // and the bridge actually merged: 1..5 share one root, 6..8 another
    assert(streamed.filter(_._1 <= 5).map(_._2).distinct === Seq(1L))
    assert(streamed.filter(_._1 >= 6).map(_._2).distinct === Seq(6L))
  }

  test("streaming boilerplate maintenance: per-batch paragraph-df merge equals the one-shot detector") {
    import graft.operators.Dedup
    import java.nio.file.{Files, Paths}
    // crawl batches: the "zz" paragraph accretes df across batches (1 per
    // batch) and only crosses maxDf=2 once batch 2 lands — a cross-batch
    // boilerplate decision no single batch can make
    val batches = Seq(
      Seq((1L, "zz aa"), (2L, "zz bb")),
      Seq((3L, "zz cc")),
      Seq((4L, "dd ee"), (5L, "dd ff")))
    val dir = Files.createTempDirectory("graft-bpstream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val storeRoot = s"$dir/store"
    def latest: Option[String] = {
      val d = Paths.get(storeRoot)
      if (!Files.exists(d)) None
      else {
        val s = Files.list(d)
        try s.map[String](_.toString).sorted(Ordering[String].reverse)
          .findFirst().map[Option[String]](Some(_)).orElse(None)
        finally s.close()
      }
    }
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val bdf = Dedup.paragraphDf(batch, avgTokens = 1)
        val merged = latest match {
          case Some(p) => Dedup.mergeParagraphDf(spark.read.parquet(p), bdf)
          case None => bdf
        }
        merged.write.parquet(f"$storeRoot/v$id%05d")
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val store = spark.read.parquet(latest.get)
    val allDocs = batches.flatten.toDF("doc_id", "text")
    val viaStore = Dedup
      .boilerplateWithDf(allDocs, store, avgTokens = 1, maxDf = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val oneShot = Dedup.boilerplateParagraphs(allDocs, avgTokens = 1, maxDf = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(viaStore === oneShot)
    // and "zz" (df 3 > 2) was actually removed from every doc that had it
    assert(viaStore.filter(_._1 <= 3).forall(r => r._3 == 1 && !r._4.contains("zz")))
    // "dd" (df 2 ≤ 2) survives in both docs
    assert(viaStore.filter(_._1 >= 4).forall(r => r._3 == 0 && r._4.contains("dd")))
  }

  test("streaming corpus-card maintenance: per-batch state merge equals the one-shot card") {
    import graft.operators.Diagnostics
    import graft.operators.Sketches
    import java.nio.file.{Files, Paths}
    // real docs split into 3 crawl batches — cross-batch duplicates and
    // language mixes must land exactly as the one-shot pass counts them
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("graft-cardstream").toString
    (0 until 3).foreach { i =>
      all.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = all.schema
    val roots = Seq("base", "fps", "langs", "hist").map(k => k -> s"$dir/store/$k").toMap
    def latest(kind: String): Option[String] = {
      val d = Paths.get(roots(kind))
      if (!Files.exists(d)) None
      else {
        val s = Files.list(d)
        try s.map[String](_.toString).sorted(Ordering[String].reverse)
          .findFirst().map[Option[String]](Some(_)).orElse(None)
        finally s.close()
      }
    }
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val states = Seq(
          ("base", Diagnostics.cardBase(batch), Seq("source")),
          ("fps", Diagnostics.cardFps(batch), Seq("source", "card_fp")),
          ("langs", Diagnostics.cardLangs(batch), Seq("source", "lang")))
        states.foreach { case (kind, b, keys) =>
          val merged = latest(kind) match {
            case Some(p) => Diagnostics.mergeBySum(spark.read.parquet(p), b, keys)
            case None => b
          }
          merged.write.parquet(f"${roots(kind)}/v$id%05d")
        }
        val bh = Diagnostics.cardHist(batch)
        val mh = latest("hist") match {
          case Some(p) => Sketches.mergeLogHistogram(spark.read.parquet(p), bh)
          case None => bh
        }
        mh.write.parquet(f"${roots("hist")}/v$id%05d")
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val card = Diagnostics.corpusCardFrom(
      spark.read.parquet(latest("base").get),
      spark.read.parquet(latest("fps").get),
      spark.read.parquet(latest("langs").get),
      spark.read.parquet(latest("hist").get))
    val oneShot = Diagnostics.corpusCard(all)
    assert(card.exceptAll(oneShot).isEmpty && oneShot.exceptAll(card).isEmpty)
    assert(card.count() === oneShot.count())
  }

  test("streaming HLL maintenance: per-batch register merge equals the batch sketch") {
    import graft.operators.Sketches
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-hllstream").toString
    (0 until 3).foreach { i =>
      events.filter(col("event_id") % 3 === i)
        .coalesce(1).write.parquet(s"$dir/in/f$i")
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val storeDir = s"$dir/store"
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val regs = Sketches.hllRegisters(batch, col("user_id"), p = 9)
        val merged =
          if (Files.exists(Paths.get(storeDir)))
            Sketches.mergeHll(spark.read.parquet(storeDir), regs)
          else regs
        // registers are ≤ 2^p rows — materialize, then overwrite the store
        val rows = merged.as[(Long, Long)].collect().toSeq
        rows.toDF("bucket", "rho_max").coalesce(1)
          .write.mode("overwrite").parquet(storeDir)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // the maintained store IS the batch sketch of everything ingested
    val streamed = spark.read.parquet(storeDir)
      .as[(Long, Long)].collect().sorted.toSeq
    val batchRegs = Sketches.hllRegisters(events, col("user_id"), p = 9)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(streamed === batchRegs)
    // and count-min merges the same way: halves sum to the whole
    val cm = Sketches.mergeCountMin(
      Sketches.countMin(events.filter(col("event_id") % 2 === 0), col("user_id"), 64, 4),
      Sketches.countMin(events.filter(col("event_id") % 2 === 1), col("user_id"), 64, 4))
      .as[(Int, Long, Long)].collect().sorted.toSeq
    val cmAll = Sketches.countMin(events, col("user_id"), 64, 4)
      .as[(Int, Long, Long)].collect().sorted.toSeq
    assert(cm === cmAll)
  }

  test("streaming manifest maintenance: per-batch mergeManifests equals the one-shot manifest") {
    import graft.operators.Layout
    import java.nio.file.{Files, Paths}
    val batches = Seq(
      Seq((1L, "aa bb cc"), (2L, "dd")),
      Seq((3L, "ee ff"), (4L, "gg hh ii jj")),
      Seq((5L, "kk")))
    val dir = Files.createTempDirectory("graft-mfstream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val storeRoot = s"$dir/store"
    def latest: Option[String] = {
      val d = Paths.get(storeRoot)
      if (!Files.exists(d)) None
      else {
        val s = Files.list(d)
        try s.map[String](_.toString).sorted(Ordering[String].reverse)
          .findFirst().map[Option[String]](Some(_)).orElse(None)
        finally s.close()
      }
    }
    def manifestOf(df: org.apache.spark.sql.DataFrame) = {
      import graft.functions.TextFunctions.tokens
      Layout.shardManifest(
        Layout.assignShards(df, col("doc_id"), 4, "mf"),
        col("doc_id"), size(tokens(col("text"))))
    }
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val bm = manifestOf(batch)
        val merged = latest match {
          case Some(p) => Layout.mergeManifests(spark.read.parquet(p), bm)
          case None => bm
        }
        merged.write.parquet(f"$storeRoot/v$id%05d")
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val maintained = spark.read.parquet(latest.get)
      .orderBy("shard_no").as[(Long, Long, Long, Long)].collect().toSeq
    val oneShot = manifestOf(batches.flatten.toDF("doc_id", "text"))
      .orderBy("shard_no").as[(Long, Long, Long, Long)].collect().toSeq
    assert(maintained === oneShot)
    assert(maintained.map(_._2).sum === batches.flatten.size)
  }

  test("streaming incremental-crawl dedup: per-batch dedupAgainst a growing kept store") {
    import graft.operators.Dedup
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-crawlstream").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val store = s"$dir/kept"
    docs.filter(col("doc_id") % 2 === 0).write.parquet(store) // initial corpus
    (0 until 3).foreach { i => // the "crawl": odd docs in three files
      docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === i)
        .coalesce(1).write.parquet(s"$dir/in/f$i")
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val batchIds = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint() // freeze: the store we read is about to grow
        batchIds += b.select("doc_id").as[Long].collect().toSet
        Dedup.dedupAgainst(b, spark.read.parquet(store))
          .write.mode("append").parquet(store)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val finalIds = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    // sequential replay in the RECORDED arrival order reproduces the store
    var kept = docs.filter(col("doc_id") % 2 === 0)
    batchIds.foreach { ids =>
      val surv = Dedup.dedupAgainst(
        docs.filter(col("doc_id").isin(ids.toSeq: _*)), kept)
      kept = kept.unionByName(surv).localCheckpoint()
    }
    assert(finalIds === kept.select("doc_id").as[Long].collect().toSet)
    // invariant: no surviving doc has a verified twin KEPT BEFORE it —
    // every near-dup pair left in the store is same-batch (dedupAgainst
    // screens against history, not within the arriving batch)
    val whenKept = batchIds.zipWithIndex
      .flatMap { case (ids, i) => ids.map(_ -> i) }.toMap
        .withDefaultValue(-1) // initial store
    val pairs = Dedup.minHashLsh(spark.read.parquet(store))
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val crossEpoch = pairs.filter { case (a, b) =>
      finalIds(a) && finalIds(b) && whenKept(a) != whenKept(b) }
    assert(crossEpoch.isEmpty,
      s"later batches re-admitted near-dups of earlier kept docs: $crossEpoch")
  }

  test("streaming crawl accretion: per-batch editDistanceAgainst a growing kept store") {
    import graft.operators.Dedup
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-edcrawl").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val store = s"$dir/kept"
    docs.filter(col("doc_id") % 2 === 0).write.parquet(store) // initial corpus
    (0 until 3).foreach { i => // the "crawl": odd docs in three files
      docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === i)
        .coalesce(1).write.parquet(s"$dir/in/f$i")
    }
    def survivorsOf(batch: org.apache.spark.sql.DataFrame,
        kept: org.apache.spark.sql.DataFrame) =
      batch.join(
        Dedup.editDistanceAgainst(batch, kept, d = 8, q = 4)
          .select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val batchIds = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint() // freeze: the store we read is about to grow
        batchIds += b.select("doc_id").as[Long].collect().toSet
        survivorsOf(b, spark.read.parquet(store))
          .write.mode("append").parquet(store)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val finalIds = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    // sequential replay in the RECORDED arrival order reproduces the store
    var kept = docs.filter(col("doc_id") % 2 === 0)
    batchIds.foreach { ids =>
      val surv = survivorsOf(docs.filter(col("doc_id").isin(ids.toSeq: _*)), kept)
      kept = kept.unionByName(surv).localCheckpoint()
    }
    assert(finalIds === kept.select("doc_id").as[Long].collect().toSet)
    assert(finalIds.size < docs.count()) // the crawl really suppressed near-dups
    // cross-batch suppression: every ED<=8 pair left in the store is
    // same-epoch (the miner screens against history, not within a batch),
    // so no later batch re-admitted a near-dup of an earlier kept doc
    val whenKept = batchIds.zipWithIndex
      .flatMap { case (ids, i) => ids.map(_ -> i) }.toMap
      .withDefaultValue(-1) // initial store
    val crossEpoch = Dedup.editDistancePairs(spark.read.parquet(store), d = 8, q = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .filter { case (a, b) => whenKept(a) != whenKept(b) }
    assert(crossEpoch.isEmpty,
      s"later batches re-admitted edit-distance near-dups of earlier kept docs: " +
        crossEpoch.mkString(", "))
  }

  test("streaming crawl accretion covers the short class: the union miner screens sub-(d+1)q docs") {
    import graft.operators.Dedup
    import java.nio.file.Files
    // d=5, q=16: boundary at 96 chars — sf0.001 has ~45 sub-96 docs, which
    // editDistanceAgainst alone cannot screen (its contract is both-long);
    // the per-wave screen is the documented union of the bipartite pair
    val dir = Files.createTempDirectory("graft-edshortcrawl").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val store = s"$dir/kept"
    docs.filter(col("doc_id") % 2 === 0).write.parquet(store)
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === i)
        .coalesce(1).write.parquet(s"$dir/in/f$i")
    }
    def survivorsOf(batch: org.apache.spark.sql.DataFrame,
        kept: org.apache.spark.sql.DataFrame) =
      batch.join(
        Dedup.editDistanceAgainst(batch, kept, d = 5, q = 16)
          .unionByName(Dedup.editDistanceShortAgainst(batch, kept, d = 5, q = 16))
          .select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val batchIds = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint()
        batchIds += b.select("doc_id").as[Long].collect().toSet
        survivorsOf(b, spark.read.parquet(store))
          .write.mode("append").parquet(store)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val finalIds = spark.read.parquet(store).select("doc_id").as[Long].collect().toSet
    // sequential replay in the recorded arrival order reproduces the store
    var kept = docs.filter(col("doc_id") % 2 === 0)
    batchIds.foreach { ids =>
      val surv = survivorsOf(docs.filter(col("doc_id").isin(ids.toSeq: _*)), kept)
      kept = kept.unionByName(surv).localCheckpoint()
    }
    assert(finalIds === kept.select("doc_id").as[Long].collect().toSet)
    // cross-batch suppression now holds over the FULL pair universe —
    // the three-way self-join union, not just the both-long class
    val whenKept = batchIds.zipWithIndex
      .flatMap { case (ids, i) => ids.map(_ -> i) }.toMap
      .withDefaultValue(-1)
    val storeDf = spark.read.parquet(store)
    val crossEpoch = Dedup.editDistancePairs(storeDf, d = 5, q = 16)
      .unionByName(Dedup.editDistanceShortPairs(storeDf, d = 5, q = 16))
      .unionByName(Dedup.editDistanceBoundaryPairs(storeDf, d = 5, q = 16))
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .filter { case (a, b) => whenKept(a) != whenKept(b) }
    assert(crossEpoch.isEmpty,
      s"later batches re-admitted near-dups of earlier kept docs: " +
        crossEpoch.mkString(", "))
    // the short class genuinely participated: some screened pair this run
    // had a sub-96 side (otherwise this test degenerates to the main one)
    val lens = docs.select(col("doc_id"), length(col("text")).as("l"))
      .as[(Long, Int)].collect().toMap
    val shortScreened = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id").as[Long].collect()
      .filter(id => !finalIds(id) && lens(id) < 96)
    assert(shortScreened.nonEmpty || {
      // at minimum the union saw short pairs in replay (corpus-dependent)
      Dedup.editDistanceShortAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), d = 5, q = 16).count() > 0
    })
  }

  test("streaming log-histogram maintenance: per-batch cell merge equals the batch sketch") {
    import graft.operators.Sketches
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-lhstream").toString
    (0 until 3).foreach { i =>
      events.filter(col("event_id") % 3 === i)
        .coalesce(1).write.parquet(s"$dir/in/f$i")
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val storeDir = s"$dir/store"
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val hist = Sketches.logHistogram(batch, col("user_id"), 5)
        val merged =
          if (Files.exists(Paths.get(storeDir)))
            Sketches.mergeLogHistogram(spark.read.parquet(storeDir), hist)
          else hist
        // registers are ≤ ~64·2^subBits rows — materialize, then overwrite
        val rows = merged.as[(Long, Long, Long, Long)].collect().toSeq
        rows.toDF("shift", "sub", "cnt", "lo").coalesce(1)
          .write.mode("overwrite").parquet(storeDir)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.read.parquet(storeDir)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val batchHist = Sketches.logHistogram(events, col("user_id"), 5)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed === batchHist)
    // quantiles recovered from the maintained store match the batch walk
    val sq = Sketches.logHistQuantiles(spark.read.parquet(storeDir), Seq(0.5, 0.99))
      .select("q", "est_lo", "est_hi").as[(Double, Long, Long)].collect().sorted.toSeq
    val bq = Sketches.logHistQuantiles(
      Sketches.logHistogram(events, col("user_id"), 5), Seq(0.5, 0.99))
      .select("q", "est_lo", "est_hi").as[(Double, Long, Long)].collect().sorted.toSeq
    assert(sq === bq)
  }

  test("transitions builds the per-user lag-paired Markov matrix with exact ppm rows") {
    import graft.operators.Analytics
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1: A→B→A ; u2: A→B ; u3: single event (no pair); the same-instant
    // tie at u1's (B@2, A@2) breaks by event_id — a total order
    val ev = Seq(
      (1L, 10L, "A", ts(1)), (1L, 11L, "B", ts(2)), (1L, 12L, "A", ts(2)),
      (2L, 20L, "A", ts(5)), (2L, 21L, "B", ts(6)),
      (3L, 30L, "A", ts(9)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = Analytics.transitions(ev).orderBy("from_type", "to_type")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("A", "B", 2L, 2L, 1000000L),  // A always moves to B
      ("B", "A", 1L, 1L, 1000000L))) // u1's B@2 → A@2 via the id tiebreak
    // row-normalization: per from_type the ppm masses sum to ~1e6
    val bySrc = out.groupBy(_._1).view.mapValues(_.map(_._5).sum)
    assert(bySrc.values.forall(s => s > 999990L && s <= 1000000L))
  }

  test("streaming transitions maintenance: per-batch advance + boundary pairs equals one-shot") {
    import graft.operators.Analytics
    import java.nio.file.{Files, Paths}
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // event-time-ordered batches; u1 spans ALL THREE batches (two boundary
    // pairs), u2 spans batches 1+3 (a boundary across the gap), u3 lives
    // in one batch only (within-batch pairs only)
    val all = Seq(
      (1L, 10L, "A", ts(1)), (1L, 11L, "B", ts(2)),   // batch 1
      (2L, 20L, "A", ts(3)),
      (1L, 12L, "C", ts(11)), (3L, 30L, "A", ts(12)), // batch 2
      (3L, 31L, "B", ts(13)),
      (1L, 13L, "A", ts(21)), (2L, 21L, "B", ts(22))) // batch 3
    val batches = Seq(all.take(3), all.slice(3, 6), all.drop(6))
    val dir = Files.createTempDirectory("graft-transtream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("user_id", "event_id", "event_type", "ts")
        .coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    def latest(kind: String): Option[String] = {
      val d = Paths.get(s"$dir/$kind")
      if (!Files.exists(d)) None
      else {
        val s = Files.list(d)
        try s.map[String](_.toString).sorted(Ordering[String].reverse)
          .findFirst().map[Option[String]](Some(_)).orElse(None)
        finally s.close()
      }
    }
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val prev = (latest("counts"), latest("lasts")) match {
          case (Some(c), Some(l)) =>
            Some((spark.read.parquet(c), spark.read.parquet(l)))
          case _ => None
        }
        val (counts, lasts) = Analytics.transitionsAdvance(prev, batch)
        counts.write.parquet(f"$dir/counts/v$id%05d")
        lasts.write.parquet(f"$dir/lasts/v$id%05d")
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = Analytics
      .transitionsFromState(spark.read.parquet(latest("counts").get))
      .as[(String, String, Long, Long, Long)].collect().sorted.toSeq
    val oneShot = Analytics
      .transitions(all.toDF("user_id", "event_id", "event_type", "ts"))
      .as[(String, String, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed === oneShot)
    // the cross-batch pairs actually exist: u1 B@2→C@11, C@11→A@21 and
    // u2's gap-spanning A@3→B@22 are only derivable via the lasts state
    assert(streamed.exists(r => r._1 == "B" && r._2 == "C"))
    assert(streamed.exists(r => r._1 == "C" && r._2 == "A"))
    val ab = streamed.find(r => r._1 == "A" && r._2 == "B").get
    assert(ab._3 === 3L) // u1 in-batch + u2 boundary + u3 in-batch
  }

  test("streaming funnel maintenance: per-batch frontier advance equals the one-shot funnel") {
    import graft.operators.Analytics
    import java.nio.file.{Files, Paths}
    val steps = Seq("A", "B", "C")
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // in-event-time-order batches (the funnelAdvance contract); exercises:
    // a step-2 event BEFORE any step-1 (u3's B@3 — never counts), a dup
    // step-1 after completion (u2's A@14 — min keeps the first), and
    // multi-stage advancement inside one batch (u3's B@21 then C@23)
    val batches = Seq(
      Seq((1L, "A", ts(1)), (2L, "A", ts(2)), (3L, "B", ts(3)),
        (1L, "B", ts(5)), (4L, "A", ts(6))),
      Seq((1L, "C", ts(11)), (2L, "B", ts(12)), (3L, "A", ts(13)),
        (2L, "A", ts(14)), (4L, "B", ts(15))),
      Seq((3L, "B", ts(21)), (2L, "C", ts(22)), (3L, "C", ts(23)),
        (4L, "A", ts(24))))
    val dir = Files.createTempDirectory("graft-funstream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("user_id", "event_type", "ts").coalesce(1)
        .write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val storeDir = s"$dir/store"
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val prior =
          if (Files.exists(Paths.get(storeDir))) Some(spark.read.parquet(storeDir))
          else None
        // frontier is ≤ steps rows per user — materialize, then overwrite
        val rows = Analytics.funnelAdvance(prior, batch, steps)
          .as[(Long, Long, Timestamp)].collect().toSeq
        rows.toDF("user_id", "step", "t").coalesce(1)
          .write.mode("overwrite").parquet(storeDir)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = Analytics.funnelFromState(spark.read.parquet(storeDir), steps)
      .as[(Long, String, Long)].collect().toSeq
    val oneShot = Analytics.funnel(
      batches.flatten.toDF("user_id", "event_type", "ts"), steps)
      .orderBy(col("step")).as[(Long, String, Long)].collect().toSeq
    assert(streamed === oneShot)
    assert(oneShot.map(_._3) === Seq(4L, 4L, 3L)) // hand-checked counts
    // the state is frontier-sized: ≤ steps rows per user, and the exact
    // per-user earliest-completion times of the one-shot semantics
    val state = spark.read.parquet(storeDir)
      .as[(Long, Long, Timestamp)].collect().toSeq
    assert(state.groupBy(_._1).values.forall(_.size <= steps.size))
    assert(state.toSet.contains((3L, 3L, ts(23)))) // u3 completed C@23
    assert(!state.exists(s => s._1 == 4L && s._2 == 3L)) // u4 never reached C
  }

  test("streaming retention maintenance: any-order batch merge equals the one-shot cohorts") {
    import graft.operators.Analytics
    import java.nio.file.{Files, Paths}
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // users active across 4 ISO weeks (2024-01-01 is a Monday); batches
    // deliberately OUT of time order with cross-batch duplicates —
    // retentionState merges under any order (distinct ∘ union)
    val all = Seq(
      (1L, ts(1, 9)), (1L, ts(8, 9)), (1L, ts(22, 9)),
      (2L, ts(8, 10)), (2L, ts(15, 10)),
      (3L, ts(1, 11)), (3L, ts(2, 12)), (3L, ts(15, 11)),
      (4L, ts(22, 8)))
    val batches = Seq(
      Seq(all(2), all(4), all(8)), // latest weeks first
      Seq(all(0), all(3), all(7), all(2)), // dup of (1, w4)
      Seq(all(1), all(5), all(6)))
    val dir = Files.createTempDirectory("graft-retstream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val storeDir = s"$dir/store"
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val state = Analytics.retentionState(batch)
        val merged =
          if (Files.exists(Paths.get(storeDir)))
            Analytics.mergeRetentionState(spark.read.parquet(storeDir), state)
          else state
        val rows = merged.as[(Long, Timestamp)].collect().toSeq
        rows.toDF("user_id", "week").coalesce(1)
          .write.mode("overwrite").parquet(storeDir)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = Analytics.retentionFromState(spark.read.parquet(storeDir))
      .as[(Timestamp, Long, Long)].collect()
      .map { case (w, o, n) => (w.getTime, o, n) }.sorted.toSeq
    val oneShot = Analytics.retentionCohorts(all.toDF("user_id", "ts"))
      .as[(Timestamp, Long, Long)].collect()
      .map { case (w, o, n) => (w.getTime, o, n) }.sorted.toSeq
    assert(streamed === oneShot)
    // hand-check against the cohort triangle
    val w1 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    assert(streamed.contains((w1, 0L, 2L))) // u1, u3 in their cohort week
    assert(streamed.contains((w1, 3L, 1L))) // u1 active in week 4
  }

  test("streaming BM25 maintenance: per-batch index append equals the one-shot corpus scan") {
    import graft.operators.TextAnalysis
    import java.nio.file.Files
    // an append-only crawl in 3 disjoint batches; the postings/doclen
    // store accretes per micro-batch (appendBm25Index) and the SERVED
    // ranking must equal both the one-shot corpus scan and the one-shot
    // stored index — no batch boundary may leak into df/N/avgdl
    val all = Seq(
      (1L, "x y z x"), (2L, "x q q"), (3L, "p p p"), (4L, "y y q"),
      (5L, "x x q p"), (6L, ""))
    val batches = Seq(Seq(all(0), all(1)), Seq(all(2), all(5)), Seq(all(3), all(4)))
    val dir = Files.createTempDirectory("graft-bm25stream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextAnalysis.appendBm25Index(spark, s"$dir/store", batch)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val (postings, doclen) = TextAnalysis.loadBm25Index(spark, s"$dir/store")
    val served = TextAnalysis.bm25TopKFromIndex(postings, doclen, Seq("x", "q"), k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = TextAnalysis.bm25TopK(all.toDF("doc_id", "text"), Seq("x", "q"), k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served === direct)
    // the zero-token document counted toward N through the doclen store
    assert(doclen.count() === all.size)
    assert(doclen.filter(col("dl") === 0L).count() === 1)
    // the accreted postings compact through the generic store compactor
    // (tok_bucket partitioning kept, tok order kept for row-group
    // pruning) and the compacted store serves the identical ranking
    Maintenance.compact(spark, s"$dir/store/postings", s"$dir/store/postings_c",
      Seq("tok_bucket"), "tok", targetRows = 1000000L)
    val servedC = TextAnalysis.bm25TopKFromIndex(
      spark.read.parquet(s"$dir/store/postings_c"), doclen, Seq("x", "q"), k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(servedC === direct)
  }

  test("streaming phrase-store maintenance: per-batch positional append equals the one-shot build") {
    import graft.operators.TextAnalysis
    import java.nio.file.Files
    // the positional store rides the same crawl loop as the plain BM25
    // store: 3 disjoint batches accrete via appendBm25Positional and the
    // served PHRASE ranking must equal both the one-shot corpus scan and
    // a one-shot saveBm25Positional of everything seen
    val all = Seq(
      (1L, "x y z x y"), (2L, "x q q x y"), (3L, "p x y p"), (4L, "y y q"),
      (5L, "x x q p"), (6L, ""))
    val batches = Seq(Seq(all(0), all(1)), Seq(all(2), all(5)), Seq(all(3), all(4)))
    val dir = Files.createTempDirectory("graft-posstream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextAnalysis.appendBm25Positional(spark, s"$dir/store", batch)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val (pp, dl) = TextAnalysis.loadBm25Positional(spark, s"$dir/store")
    val stats = TextAnalysis.loadBm25Stats(spark, s"$dir/store")
    assert(stats.isDefined)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val served = rows(TextAnalysis.phraseTopKFromIndex(
      pp, dl, Seq("x", "y"), k = 6, stats = stats))
    val direct = rows(TextAnalysis.phraseTopK(
      all.toDF("doc_id", "text"), Seq("x", "y"), k = 6))
    assert(served === direct && served.nonEmpty)
    TextAnalysis.saveBm25Positional(spark, s"$dir/oneshot", all.toDF("doc_id", "text"))
    val (pp1, dl1) = TextAnalysis.loadBm25Positional(spark, s"$dir/oneshot")
    assert(served === rows(TextAnalysis.phraseTopKFromIndex(
      pp1, dl1, Seq("x", "y"), k = 6,
      stats = TextAnalysis.loadBm25Stats(spark, s"$dir/oneshot"))))
    // the accreted sidecar sums to the one-shot corpus statistics and the
    // three-table consistency check passes
    assert(stats.get === TextAnalysis.loadBm25Stats(spark, s"$dir/oneshot").get)
    assert(TextAnalysis.verifyBm25Stats(spark, s"$dir/store"))
    // zero-token doc counted toward N through doclen, as in the tf store
    assert(dl.count() === all.size)
    // legacy-layout refusal: a flat (unbucketed) positional store, written
    // without a store meta, refuses appends before any write lands
    Seq((1L, "alpha", 1L, Array(0L), 1L)).toDF("doc_id", "tok", "tf", "ps", "dl")
      .write.parquet(s"$dir/legacyflat/postings_pos")
    val e = intercept[IllegalStateException] {
      TextAnalysis.appendBm25Positional(spark, s"$dir/legacyflat",
        all.take(2).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("saveBm25Positional"))
    assert(!new java.io.File(s"$dir/legacyflat/stats").exists, "refused before any write")
  }

  test("streaming embedding-moments maintenance: per-batch merge equals the one-shot state") {
    import graft.operators.Similarity
    import java.nio.file.Files
    // vectors arrive in 3 disjoint batches; the per-dim (n, Σv, Σv²)
    // state accretes by append and merges by sum — any batch order
    val all = Seq(
      (1L, Array(1f, 2f)), (2L, Array(3f, 4f)), (3L, Array(-1f, 0.5f)),
      (4L, Array(0f, 0f)), (5L, Array(2.5f, -3f)))
    val batches = Seq(Seq(all(0), all(1)), Seq(all(2)), Seq(all(3), all(4)))
    val dir = Files.createTempDirectory("graft-moments").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.embeddingMoments(batch)
          .write.mode("append").parquet(s"$dir/store")
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    def m(df: org.apache.spark.sql.DataFrame) = df
      .select(col("dim"), col("n"),
        (col("s") * 1000000).cast("long"), (col("s2") * 1000000).cast("long"))
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // merging the accreted per-batch rows = the sum-merge readout
    val store = spark.read.parquet(s"$dir/store")
    val served = m(store.groupBy(col("dim"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("s2")).as("s2")))
    val oneShot = m(Similarity.embeddingMoments(all.toDF("vec_id", "embedding")))
    assert(served === oneShot)
    assert(served.map(_._2).forall(_ == all.size.toLong))
  }

  test("streaming source-overlap maintenance: distinct-union posting merge equals the one-shot matrix") {
    import graft.operators.Dedup
    import java.nio.file.Files
    // a crawl in 3 batches; the (source, shingle-h60) posting state is a
    // SET (merge = union + distinct — commutative, idempotent), so the
    // served matrix must equal the one-shot readout even though batches
    // repeat postings (doc 1 and doc 4 share source+shingles)
    val all = Seq(
      (1L, "a b c d", "A"), (2L, "a b c", "B"), (3L, "b c d", "B"),
      (4L, "a b c d e", "A"), (5L, "x y z", "C"), (6L, "a b", "D"))
    val batches = Seq(Seq(all(0), all(1)), Seq(all(2), all(3)), Seq(all(4), all(5)))
    val dir = Files.createTempDirectory("graft-srcoverlap").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text", "source").coalesce(1).write.parquet(s"$dir/in/f$i")
      Thread.sleep(5)
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.sourceShinglePostings(batch)
          .write.mode("append").parquet(s"$dir/store")
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    def m(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    val served = m(Dedup.sourceOverlapFromPostings(
      spark.read.parquet(s"$dir/store").distinct()))
    val oneShot = m(Dedup.sourceOverlap(all.toDF("doc_id", "text", "source")))
    assert(served === oneShot)
    assert(served.nonEmpty)
  }

  test("compaction consolidates micro-batch small files, preserving content") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // simulate 10 micro-batches: each writes its own batch_id slice with
    // per-broker files — 10 batches × 3 brokers of tiny files
    val base = events
      .select(col("event_id"), col("ts"),
        concat(lit("b"), (col("user_id") % 3).cast("string")).as("broker_id"),
        (col("event_id") % 10).as("batch_id"))
    base.write.partitionBy("batch_id", "broker_id").parquet(s"$dir/store")
    def parquetFiles(p: String) = {
      val root = java.nio.file.Paths.get(p)
      val files = java.nio.file.Files.walk(root).iterator()
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .count(_.toString.endsWith(".parquet"))
    }
    val before = parquetFiles(s"$dir/store")
    assert(before >= 30) // ≥ one file per (batch, broker)

    Maintenance.compact(spark, s"$dir/store", s"$dir/compacted",
      partitionCols = Seq("broker_id"), orderCol = "event_id",
      targetRows = 200L, dropCols = Seq("batch_id"))
    val after = parquetFiles(s"$dir/compacted")
    val compacted = spark.read.parquet(s"$dir/compacted")
    val nRows = compacted.count()
    // ceil(n/target) files per broker, far fewer than before
    val expectedFiles = compacted.groupBy("broker_id").count()
      .collect().map(r => ((r.getLong(1) + 199) / 200).toInt).sum
    assert(after === expectedFiles, s"files before=$before after=$after")
    assert(after < before / 3)
    // content preserved (batch_id deliberately dropped by selection)
    val a = compacted.select("event_id", "broker_id")
      .as[(Long, String)].collect().sorted
    val b = base.select("event_id", "broker_id")
      .as[(Long, String)].collect().sorted
    assert(a === b && nRows === b.length)
  }

  test("asOf picks the newest earlier-or-equal right row per key") {
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, t("2024-01-01 10:00:00")), // after two clicks → newest wins
      (1L, 11L, t("2024-01-01 08:00:00")), // exactly at a click → matches it
      (2L, 12L, t("2024-01-01 09:00:00")), // no click for key 2 → nulls
      (3L, 13L, t("2024-01-01 05:00:00"))) // before key 3's click → nulls
      .toDF("user_id", "purchase_id", "purchase_ts")
    val right = Seq(
      (1L, 100L, t("2024-01-01 07:00:00")),
      (1L, 101L, t("2024-01-01 08:00:00")),
      (3L, 102L, t("2024-01-01 06:00:00")))
      .toDF("user_id", "click_id", "click_ts")
    val out = AsOfJoin.asOf(left, right, "user_id", "purchase_ts", "click_ts")
      .orderBy("purchase_id")
      .select("purchase_id", "click_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(out === Array(
      (10L, Some(101L)), (11L, Some(101L)), (12L, None), (13L, None)))
  }

  test("range join matches the naive range predicate and plans no nested loop") {
    import graft.operators.RangeJoin
    val probe = Seq(0L, 5L, 10L, 31L, 32L, 63L, 64L, 99L).toDF("v")
    val iv = Seq((0L, 10L, "a"), (5L, 40L, "b"), (32L, 33L, "c"), (90L, 200L, "d"))
      .toDF("s", "e", "tag")
    val empty = Seq((10L, 10L, "z"), (20L, 5L, "y")).toDF("s", "e", "tag")
    assert(RangeJoin.byBucket(probe, "v", iv.unionByName(empty), "s", "e", 32L)
      .filter(col("tag").isin("z", "y")).count() === 0L)
    val got = RangeJoin.byBucket(probe, "v", iv, "s", "e", bucketWidth = 32L)
      .select("v", "tag").as[(Long, String)].collect().toSet
    val naive = probe.crossJoin(iv)
      .filter(col("v") >= col("s") && col("v") < col("e"))
      .select("v", "tag").as[(Long, String)].collect().toSet
    assert(got === naive)
    assert(naive.nonEmpty)
    val plan = RangeJoin.byBucket(probe, "v", iv, "s", "e", 32L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("asOf plans one shuffle and no nested-loop join") {
    val left = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"))
    val right = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"), col("ts").as("cts"))
    val plan = AsOfJoin.asOf(left, right, "user_id", "pts", "cts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SortMergeJoin")) // union+window, not a join at all
  }

  test("funnel: strictly-after stage times, non-members and same-ts drop") {
    val e = Seq(
      // user 1 completes all four stages in order
      (1L, "signup", 1L), (1L, "view", 2L), (1L, "click", 3L), (1L, "purchase", 4L),
      // user 2: purchase BEFORE signup and no click — stalls at view
      (2L, "purchase", 1L), (2L, "signup", 1L), (2L, "view", 2L),
      // user 3 never signs up — absent from every stage
      (3L, "view", 1L), (3L, "click", 2L), (3L, "purchase", 3L),
      // user 4: view at the signup instant — strictly-after excludes it
      (4L, "signup", 5L), (4L, "view", 5L))
      .toDF("user_id", "event_type", "secs")
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(col("secs")).as("ts"))
    val out = graft.operators.Analytics
      .funnel(e, Seq("signup", "view", "click", "purchase"))
      .orderBy("step")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "signup", 3L), (2L, "view", 2L),
      (3L, "click", 1L), (4L, "purchase", 1L)))
  }

  test("lastTouchAttribution: latest in-window touch wins; same-ts and stale touches do not") {
    val e = Seq(
      // user 1: click then view then purchase — the LATER view gets credit
      (1L, 10L, "click", 100L, 0.0), (1L, 11L, "view", 200L, 0.0),
      (1L, 12L, "purchase", 300L, 10.0),
      // user 2: touch outside the 1000 s lookback → (none)
      (2L, 20L, "click", 100L, 0.0), (2L, 21L, "purchase", 1200L, 20.0),
      // user 3: touch at the SAME instant as the purchase → (none)
      (3L, 30L, "view", 500L, 0.0), (3L, 31L, "purchase", 500L, 30.0),
      // user 4: no touch at all → (none)
      (4L, 40L, "purchase", 700L, 40.0),
      // user 5: touch AFTER the purchase → (none); error events never credit
      (5L, 50L, "error", 100L, 0.0), (5L, 51L, "purchase", 200L, 50.0),
      (5L, 52L, "click", 250L, 0.0))
      .toDF("user_id", "event_id", "event_type", "secs", "value")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_seconds(col("secs")).as("ts"), col("value"))
    val out = graft.operators.Analytics
      .lastTouchAttribution(e, "purchase", Seq("click", "view"), lookbackSec = 1000L)
      .orderBy("attr_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      ("(none)", 4L, 140.0, 0L),          // users 2, 3, 4, 5
      ("view", 1L, 10.0, 100L * 1000000L) // user 1: 100 s lag in µs
    ))
  }

  test("retentionCohorts: Monday-week cohorts, exact offsets, distinct weeks") {
    // 2024-01-01 and 2024-01-08 are Mondays
    val e = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-03 10:00:00"), // same week
      (1L, "2024-01-09 10:00:00"),                              // week +1
      (2L, "2024-01-10 10:00:00"))                              // cohort Jan 8
      .toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val out = graft.operators.Analytics.retentionCohorts(e)
      .orderBy("cohort_week", "week_offset")
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L), ("2024-01-08", 0L, 1L)))
  }

  test("decayedCounts: power-of-two half-life, future days excluded, shift capped") {
    import graft.operators.Analytics
    def ev(n: Int, day: String): Seq[(Long, String)] =
      (1 to n).map(i => (i.toLong, s"$day 12:00:00"))
    // asOf 2024-02-01, half-life 7d: ages 0, 7, 15, 31 → shifts 0,1,2,4
    val e = (ev(10, "2024-02-01") ++ ev(12, "2024-01-25") ++
      ev(9, "2024-01-17") ++ ev(40, "2024-01-01") ++
      ev(99, "2024-02-05")) // future: excluded
      .toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"),
        lit("click").as("event_type"))
    val out = Analytics.decayedCounts(e, "2024-02-01", 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 10>>0 + 12>>1 + 9>>2 + 40>>4 = 10 + 6 + 2 + 2 = 20
    assert(out.toSeq === Seq(("click", 20L, 71L, 4L)))
    // cap: a 500-year-old day must shift by 62 (not raise), decaying to 0
    val old = ev(1000, "1524-02-01")
      .toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"),
        lit("old").as("event_type"))
    val capped = Analytics.decayedCounts(old, "2024-02-01", 7)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(capped.toSeq === Seq(("old", 0L)))
  }

  test("real-stream daily-count maintenance: foreachBatch store accretion serves decay and anomaly") {
    import graft.operators.Analytics
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-dcstream").toString
    val ev = events.select("event_id", "event_type", "ts")
    (0 until 3).foreach { i =>
      ev.filter(col("event_id") % 3 === i)
        .coalesce(1).write.parquet(s"$dir/in/f$i")
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val store = s"$dir/state"
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val upd = Analytics.dailyCounts(batch)
        // eager checkpoint BEFORE overwriting the store it reads from
        val merged = (if (Files.exists(Paths.get(store)))
          Analytics.mergeDailyCounts(spark.read.parquet(store), upd)
        else upd).localCheckpoint()
        merged.write.mode("overwrite").parquet(store)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val state = spark.read.parquet(store)
    assert(Analytics.decayedFromState(state, "2024-02-01", 7)
      .orderBy("event_type").collect().toSeq ===
      Analytics.decayedCounts(ev, "2024-02-01", 7)
        .orderBy("event_type").collect().toSeq)
    assert(Analytics.volumeAnomalyFromState(state, 3L)
      .orderBy("event_type", "day").collect().toSeq ===
      Analytics.volumeAnomaly(ev, 3L)
        .orderBy("event_type", "day").collect().toSeq)
  }

  test("streaming daily-count maintenance: sum-merged batches equal the one-shot readout") {
    import graft.operators.Analytics
    val all = events
    val batches = Seq(
      all.filter(col("event_id") % 3 === 0),
      all.filter(col("event_id") % 3 === 1),
      all.filter(col("event_id") % 3 === 2))
    val state = batches.map(Analytics.dailyCounts)
      .reduce(Analytics.mergeDailyCounts)
    val streamed = Analytics.decayedFromState(state, "2024-02-01", 7)
      .orderBy("event_type").collect().map(_.toSeq)
    val oneShot = Analytics.decayedCounts(all, "2024-02-01", 7)
      .orderBy("event_type").collect().map(_.toSeq)
    assert(streamed.toSeq === oneShot.toSeq)
  }

  test("real-stream KMV maintenance: foreachBatch min-k store accretion serves overlap and cardinality") {
    import graft.operators.Dedup
    import java.nio.file.{Files, Paths}
    val k = 64
    val dir = Files.createTempDirectory("graft-kmvstream").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "source")
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.parquet(s"$dir/in/f$i")
    }
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val store = s"$dir/state"
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val upd = Dedup.sourceKmv(batch, k)
        // eager checkpoint BEFORE overwriting the store it reads from;
        // min-k distinct-union merge is idempotent, so a replayed batch
        // would change nothing (unlike the counter stores)
        val merged = (if (Files.exists(Paths.get(store)))
          Dedup.mergeKmv(spark.read.parquet(store), upd, k)
        else upd).localCheckpoint()
        merged.write.mode("overwrite").parquet(store)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val state = spark.read.parquet(store)
    val oneShot = Dedup.sourceKmv(docs, k)
    assert(state.exceptAll(oneShot).count() === 0L)
    assert(oneShot.exceptAll(state).count() === 0L)
    // and both readouts off the streamed store equal the one-shot forms
    assert(Dedup.kmvOverlap(state, k).orderBy("src_a", "src_b").collect().toSeq ===
      Dedup.kmvOverlap(oneShot, k).orderBy("src_a", "src_b").collect().toSeq)
    assert(Dedup.kmvCardinality(state, k).orderBy("source").collect().toSeq ===
      Dedup.kmvCardinality(oneShot, k).orderBy("source").collect().toSeq)
  }

  test("heavy-hitters state: est ≤ true ≤ est + b_bound for every key, under any merge tree") {
    import graft.operators.Sketches
    val m = 4
    // keys drawn from event_type × (user_id % 3): ~tens of types, counts
    // skewed — truncation at m=4 genuinely drops types
    val keyed = events.select(
      concat(col("event_type"), lit(":"), (col("user_id") % 3).cast("string"))
        .as("k"))
    val exact = keyed.groupBy("k").count()
      .as[(String, Long)].collect().toMap
    val totalTrue = exact.values.sum
    def checkState(kept: org.apache.spark.sql.DataFrame,
                   bound: org.apache.spark.sql.DataFrame): Unit = {
      val est = kept.select("k", "n").as[(String, Long)].collect().toMap
      val Array((tm, bb)) = bound.select("total_mass", "b_bound")
        .as[(Long, Long)].collect()
      assert(tm === totalTrue, "total_mass must stay exact under merges")
      assert(est.size <= m)
      exact.foreach { case (k, t) =>
        val e = est.getOrElse(k, 0L)
        assert(e <= t, s"$k: est $e exceeds true $t")
        assert(t <= e + bb, s"$k: true $t above est $e + bound $bb")
      }
    }
    // one-shot
    val (k0, b0) = Sketches.topMState(keyed, col("k"), m)
    checkState(k0, b0)
    // 3-batch merges, both trees
    val batches = Seq(0, 1, 2).map(i =>
      Sketches.topMState(events.filter(col("event_id") % 3 === i).select(
        concat(col("event_type"), lit(":"), (col("user_id") % 3).cast("string"))
          .as("k")), col("k"), m))
    val m01 = Sketches.mergeTopM(batches(0)._1, batches(0)._2,
      batches(1)._1, batches(1)._2, m)
    val leftFold = Sketches.mergeTopM(m01._1, m01._2,
      batches(2)._1, batches(2)._2, m)
    checkState(leftFold._1, leftFold._2)
    val m21 = Sketches.mergeTopM(batches(2)._1, batches(2)._2,
      batches(1)._1, batches(1)._2, m)
    val swapped = Sketches.mergeTopM(m21._1, m21._2,
      batches(0)._1, batches(0)._2, m)
    checkState(swapped._1, swapped._2)
    // fewer types than m ⇒ nothing dropped: bound 0, estimates exact
    val tiny = events.limit(50).select(col("event_type").as("k"))
    val (kt, bt) = Sketches.topMState(tiny, col("k"), m = 64)
    val Array((_, bbTiny)) = bt.select("total_mass", "b_bound")
      .as[(Long, Long)].collect()
    assert(bbTiny === 0L)
    val tinyExact = tiny.groupBy("k").count().as[(String, Long)].collect().toMap
    assert(kt.select("k", "n").as[(String, Long)].collect().toMap === tinyExact)
  }

  test("volumeAnomaly: lower median, MAD, k·mad flag; mad=0 flags any deviation") {
    import graft.operators.Analytics
    def ev(n: Int, day: Int, typ: String): Seq[(Long, String, String)] =
      (1 to n).map(i => (i.toLong, f"2024-01-$day%02d 12:00:00", typ))
    // type a: counts 10,10,11,12,40 over 5 days → med=11 (rank 3),
    //         devs 1,1,0,1,29 → sorted 0,1,1,1,29 → mad=1 (rank 3);
    //         flag iff dev > 3 → only the 40-day
    // type b: constant 5,5,5,5 then one day of 6 → med=5, mad=0 → the
    //         6-day flags (any deviation)
    val e = (ev(10, 1, "a") ++ ev(10, 2, "a") ++ ev(11, 3, "a") ++
      ev(12, 4, "a") ++ ev(40, 5, "a") ++
      ev(5, 1, "b") ++ ev(5, 2, "b") ++ ev(5, 3, "b") ++ ev(5, 4, "b") ++
      ev(6, 5, "b"))
      .toDF("user_id", "s", "event_type")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"), col("event_type"))
    val out = Analytics.volumeAnomaly(e, k = 3L)
      .orderBy("event_type", "day")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(out.toSeq === Seq(
      ("a", "2024-01-01", 10L, 11L, 1L, 1L, false),
      ("a", "2024-01-02", 10L, 11L, 1L, 1L, false),
      ("a", "2024-01-03", 11L, 11L, 1L, 0L, false),
      ("a", "2024-01-04", 12L, 11L, 1L, 1L, false),
      ("a", "2024-01-05", 40L, 11L, 1L, 29L, true),
      ("b", "2024-01-01", 5L, 5L, 0L, 0L, false),
      ("b", "2024-01-02", 5L, 5L, 0L, 0L, false),
      ("b", "2024-01-03", 5L, 5L, 0L, 0L, false),
      ("b", "2024-01-04", 5L, 5L, 0L, 0L, false),
      ("b", "2024-01-05", 6L, 5L, 0L, 1L, true)))
  }

  test("out-of-order drain breaks the in-order state contracts exactly as documented") {
    import graft.operators.Analytics
    import org.apache.spark.sql.DataFrame
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")

    // funnelAdvance: u1 completes A@1 then B@11 in event time. Drained in
    // order the frontier reaches step 2; drained out of order the B event
    // arrives before any step-1 frontier exists, is discarded, and the
    // late A cannot retroactively re-qualify it — the scaladoc's named
    // failure mode (that regime needs the retentionState distinct-event
    // store shape). This pins the contract so a refactor cannot silently
    // weaken funnelAdvance's documented REQUIRES into folklore.
    val steps = Seq("A", "B")
    val bA = Seq((1L, "A", ts(1))).toDF("user_id", "event_type", "ts")
    val bB = Seq((1L, "B", ts(11))).toDF("user_id", "event_type", "ts")
    def drain(batches: Seq[DataFrame]): Seq[(Long, String, Long)] = {
      var st: Option[DataFrame] = None
      batches.foreach(b => st = Some(Analytics.funnelAdvance(st, b, steps)))
      Analytics.funnelFromState(st.get, steps)
        .as[(Long, String, Long)].collect().toSeq
    }
    assert(drain(Seq(bA, bB)).map(_._3) === Seq(1L, 1L)) // contract held
    assert(drain(Seq(bB, bA)).map(_._3) === Seq(1L, 0L)) // step 2 lost

    // transitionsAdvance: u1 emits X@1, Y@11, Z@21. In-order drain counts
    // X->Y and Y->Z; draining {X,Z} before {Y} fabricates X->Z (the
    // within-batch lag pair) and Z->Y (the boundary pair from the stored
    // last event Z@21 into the late Y@11) — both false under event-time
    // order, and exactly the pairs the in-order contract exists to
    // prevent.
    def tdf(rows: (Long, Long, String, Timestamp)*) =
      rows.toDF("user_id", "event_id", "event_type", "ts")
    def drainT(batches: Seq[DataFrame]): Set[(String, String, Long)] = {
      var st: Option[(DataFrame, DataFrame)] = None
      batches.foreach(b => st = Some(Analytics.transitionsAdvance(st, b)))
      Analytics.transitionsFromState(st.get._1)
        .select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect().toSet
    }
    val inOrder = drainT(Seq(
      tdf((1L, 10L, "X", ts(1)), (1L, 11L, "Y", ts(11))),
      tdf((1L, 12L, "Z", ts(21)))))
    assert(inOrder === Set(("X", "Y", 1L), ("Y", "Z", 1L)))
    val disordered = drainT(Seq(
      tdf((1L, 10L, "X", ts(1)), (1L, 12L, "Z", ts(21))),
      tdf((1L, 11L, "Y", ts(11)))))
    assert(disordered === Set(("X", "Z", 1L), ("Z", "Y", 1L)))
  }

  test("ANN store accretion: appended waves serve identically to the one-shot assignment") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 1, salt = "acc")
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 1, salt = "acc")
    val wd = java.nio.file.Files.createTempDirectory("annacc").toString
    // wave 0 seeds both stores; the remaining waves accrete OUT of id
    // order — assignment is row-local and the serve join keys only on the
    // cell, so any batch order works (the commutative-merge contract)
    Similarity.saveIvfAssigned(spark, wd,
      Similarity.assignIvfCells(emb.filter(col("vec_id") % 3 === 0), cents), cents)
    Similarity.savePqCodes(spark, wd,
      Similarity.encodePqCodes(emb.filter(col("vec_id") % 3 === 0), books),
      books, cellBits = 4)
    Seq(2, 1).foreach { w =>
      Similarity.appendIvfAssigned(spark, wd, emb.filter(col("vec_id") % 3 === w), cents)
      Similarity.appendPqCodes(spark, wd, emb.filter(col("vec_id") % 3 === w), books)
    }
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val pred = col("vec_id") % 20 === 0
    val grown = keys(Similarity.ivfTopKAssigned(
      Similarity.loadIvfAssigned(spark, wd, cents), pred, 5, cents, nprobe = 2))
    assert(grown === keys(Similarity.ivfTopKWithCentroids(emb, pred, 5, cents, nprobe = 2)))
    assert(grown.nonEmpty)
    val pqGrown = keys(Similarity.pqTopKWithCodes(
      Similarity.loadPqCodes(spark, wd, books)._1, emb, pred, 3, books, rerank = 50))
    assert(pqGrown === keys(Similarity.pqTopKWithBooks(emb, pred, 3, books, rerank = 50)))
    assert(pqGrown.nonEmpty)
    // row accounting: every vector lands in each store exactly once
    assert(Similarity.loadIvfAssigned(spark, wd, cents).count() === emb.count())
    assert(Similarity.loadPqCodes(spark, wd, books)._1.count() === emb.count())
    // the quantizer stamp REJECTS a mismatched serve/append: a refreshed
    // quantizer (different coordinates, same shape) must not silently
    // serve or grow a store assigned under the old one
    val drifted = cents.map(_.map(_ * 0.5 + 0.1))
    val mismatchLoad = intercept[IllegalArgumentException] {
      Similarity.loadIvfAssigned(spark, wd, drifted)
    }
    assert(mismatchLoad.getMessage.contains("DIFFERENT quantizer"))
    val mismatchAppend = intercept[IllegalArgumentException] {
      Similarity.appendIvfAssigned(spark, wd, emb.limit(1), drifted)
    }
    assert(mismatchAppend.getMessage.contains("DIFFERENT quantizer"))
    val driftedBooks = books.map(_.map(_.map(_ + 1.0)))
    val mismatchPq = intercept[IllegalArgumentException] {
      Similarity.loadPqCodes(spark, wd, driftedBooks)
    }
    assert(mismatchPq.getMessage.contains("DIFFERENT quantizer"))
    val mismatchPqAppend = intercept[IllegalArgumentException] {
      Similarity.appendPqCodes(spark, wd, emb.limit(1), driftedBooks)
    }
    assert(mismatchPqAppend.getMessage.contains("DIFFERENT quantizer"))
    // the lifecycle composes with the generic store compactor: three
    // appends left one file set per wave per cell — Maintenance.compact
    // rewrites to one size-targeted file per cell, and the compacted
    // store serves bit-identically
    def files(p: String): Int = {
      val d = new java.io.File(p)
      if (!d.exists) 0
      else if (d.isFile) { if (d.getName.endsWith(".parquet")) 1 else 0 }
      else d.listFiles.map(f => files(f.getPath)).sum
    }
    Maintenance.compact(spark, s"$wd/assigned", s"$wd/assigned_c",
      Seq("cell"), "vec_id", targetRows = 1000000L)
    assert(files(s"$wd/assigned_c") < files(s"$wd/assigned"),
      "compaction must reduce the accreted file count")
    val compacted = spark.read.parquet(s"$wd/assigned_c")
    assert(keys(Similarity.ivfTopKAssigned(compacted, pred, 5, cents, nprobe = 2))
      === grown)
    assert(compacted.count() === emb.count())
  }

  test("store catalog: atomic swap through delete+retrain, GC spares the live version, stamps fire through resolve") {
    import graft.operators.Similarity
    import graft.store.StoreCatalog
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val root = java.nio.file.Files.createTempDirectory("catalog").toString
    val cat = s"$root/catalog"
    val versions = s"$root/ivf_versions"
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 1, salt = "cat")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val pred = col("vec_id") % 20 === 0
    def serveCurrent(cs: Array[Array[Double]]) = {
      val cur = StoreCatalog.resolve(spark, cat, "ivf")
      keys(Similarity.ivfTopKAssigned(
        Similarity.loadIvfAssigned(spark, cur, cs), pred, 5, cs, nprobe = 2))
    }
    // unpublished name fails loudly on the serve path
    intercept[IllegalStateException] { StoreCatalog.resolve(spark, cat, "ivf") }
    // publishing a nonexistent version directory is rejected (publish is
    // the SWAP step, not the write step)
    intercept[IllegalArgumentException] {
      StoreCatalog.publish(spark, cat, "ivf", s"$versions/nope")
    }
    // v1: full build + stats, then the swap
    Similarity.saveIvfIndex(spark, s"$versions/v1", cents,
      Some(Similarity.cellStats(emb, cents)))
    Similarity.saveIvfAssigned(spark, s"$versions/v1",
      Similarity.assignIvfCells(emb, cents), cents)
    StoreCatalog.publish(spark, cat, "ivf", s"$versions/v1")
    assert(serveCurrent(cents)
      === keys(Similarity.ivfTopKWithCentroids(emb, pred, 5, cents, nprobe = 2)))
    // deletion writes v2; the catalog still serves v1 until the flip
    Similarity.deleteFromIvfAssigned(
      spark, s"$versions/v1", s"$versions/v2", col("vec_id") % 4 === 1, cents)
    assert(StoreCatalog.resolve(spark, cat, "ivf") === s"$versions/v1")
    val surv = emb.filter(col("vec_id") % 4 =!= 1)
    Similarity.saveIvfIndex(spark, s"$versions/v2", cents,
      Some(Similarity.cellStats(surv, cents)))
    StoreCatalog.publish(spark, cat, "ivf", s"$versions/v2")
    assert(serveCurrent(cents)
      === keys(Similarity.ivfTopKWithCentroids(surv, pred, 5, cents, nprobe = 2)))
    // retrain writes v3 under refreshed centroids; swap again
    val next = Similarity.retrainIvfStore(spark, s"$versions/v2", s"$versions/v3")
    StoreCatalog.publish(spark, cat, "ivf", s"$versions/v3")
    val v3Serve = serveCurrent(next)
    assert(v3Serve
      === keys(Similarity.ivfTopKWithCentroids(surv, pred, 5, next, nprobe = 2)))
    assert(v3Serve.nonEmpty)
    // the stamp check still fires THROUGH the catalog: resolving the
    // current dir and loading it with the superseded quantizer rejects
    val stale = intercept[IllegalArgumentException] {
      Similarity.loadIvfAssigned(
        spark, StoreCatalog.resolve(spark, cat, "ivf"), cents)
    }
    assert(stale.getMessage.contains("DIFFERENT quantizer"))
    // GC reclaims exactly the superseded versions, never the live one
    intercept[IllegalArgumentException] {
      StoreCatalog.gcSuperseded(spark, cat, "ivf", root) // wrong root
    }
    // grace window first: just-written versions are hot, GC spares ALL
    assert(StoreCatalog.gcSuperseded(spark, cat, "ivf", versions).isEmpty,
      "default grace must spare freshly-written versions")
    val gone = StoreCatalog.gcSuperseded(spark, cat, "ivf", versions, graceMs = 0L)
    assert(gone.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      === Set("v1", "v2"))
    assert(!new java.io.File(s"$versions/v1").exists)
    assert(!new java.io.File(s"$versions/v2").exists)
    assert(new java.io.File(s"$versions/v3").exists)
    assert(serveCurrent(next) === v3Serve)
    // idempotent: a second GC finds nothing to delete
    assert(StoreCatalog.gcSuperseded(spark, cat, "ivf", versions, graceMs = 0L).isEmpty)
    // a retrieval surface rebuilt FROM the catalog serves the live
    // version (centroids read from the store, stamp verified) — the
    // listener-restart-after-swap shape
    val svc = graft.operators.RetrievalService.fromCatalog(
      spark, cat, annNames = Seq("ivf"))
    val resp = svc.annSearch("ivf", Some(Seq(0L)), Some(5), Some(2))
    assert(resp.status === 200)
    assert(keys(resp.data.get) === keys(Similarity.ivfTopKWithCentroids(
      surv, col("vec_id") === 0L, 5, next, nprobe = 2)))
    // an unpublished name fails construction loudly
    intercept[IllegalStateException] {
      graft.operators.RetrievalService.fromCatalog(
        spark, cat, bm25Names = Seq("nope"))
    }
  }

  test("drift-triggered maintenance policy: over-valve retrains+publishes+GCs, healthy stores untouched; catalog inventory and recursive grace") {
    import graft.operators.Similarity
    import graft.store.StoreCatalog
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val root = java.nio.file.Files.createTempDirectory("driftpolicy").toString
    val cat = s"$root/catalog"
    val versions = s"$root/ivf"
    val half = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val cents = Similarity.kmeansCentroids(half, numCells = 4, iters = 1, salt = "drift")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val pred = col("vec_id") % 20 === 0
    // v1 under the house version-naming convention
    val v1 = StoreCatalog.nextVersionDir(spark, versions)
    assert(v1.endsWith("/v1"))
    Similarity.saveIvfIndex(spark, v1, cents, Some(Similarity.cellStats(half, cents)))
    Similarity.saveIvfAssigned(spark, v1, Similarity.assignIvfCells(half, cents), cents)
    StoreCatalog.publish(spark, cat, "ivf", v1)
    // healthy store: a generous valve means NO writes and no swap
    assert(graft.streaming.Maintenance.maintainIvfStore(
      spark, cat, "ivf", versions, maxCellSize = 1000000).isEmpty)
    assert(StoreCatalog.resolve(spark, cat, "ivf") === v1)
    // drifted ingest: the odd half accretes into v1 and its stats merge in
    Similarity.appendIvfAssigned(spark, v1, batch, cents)
    val merged = Similarity.mergeCellStats(
      Similarity.loadCellStats(spark, v1),
      Similarity.cellStats(batch, cents)).localCheckpoint()
    Similarity.saveIvfIndex(spark, v1, cents, Some(merged))
    graft.operators.Pins.release(merged)
    // the policy trips the valve (4 cells over >40 vectors, pigeonhole),
    // retrains to v2, flips the pointer, reclaims v1
    val swapped = graft.streaming.Maintenance.maintainIvfStore(
      spark, cat, "ivf", versions, maxCellSize = 10, graceMs = 0L)
    assert(swapped.isDefined)
    val (next, v2) = swapped.get
    assert(v2.endsWith("/v2"))
    assert(StoreCatalog.resolve(spark, cat, "ivf") === v2)
    assert(!new java.io.File(v1.stripPrefix("file:")).exists)
    assert(Similarity.quantizerFingerprint(next)
      !== Similarity.quantizerFingerprint(cents))
    // serves stay bit-exact across the automatic swap: the catalog-loaded
    // v2 ≡ an in-line serve of the WHOLE corpus under the refreshed
    // quantizer (the retrain rewrote every stored vector)
    val served = keys(Similarity.ivfTopKAssigned(
      Similarity.loadIvfAssigned(spark, StoreCatalog.resolve(spark, cat, "ivf"), next),
      pred, 5, next, nprobe = 2))
    assert(served === keys(
      Similarity.ivfTopKWithCentroids(emb, pred, 5, next, nprobe = 2)))
    assert(served.nonEmpty)
    // catalog readouts: list sees the one name at its current version;
    // inventory shows no superseded versions after the GC
    val entries = StoreCatalog.list(spark, cat)
    assert(entries.map(_.name) === Seq("ivf"))
    assert(entries.head.current === v2)
    val inv = StoreCatalog.inventory(spark, cat, "ivf", versions)
    assert(inv.current.endsWith("/v2") && inv.superseded.isEmpty)
    // a superseded straggler appears in the inventory with its age…
    val stale = new java.io.File(s"$versions/v0/sub")
    assert(stale.mkdirs())
    val leaf = new java.io.File(stale, "part-0.parquet")
    assert(leaf.createNewFile())
    assert(StoreCatalog.inventory(spark, cat, "ivf", versions)
      .superseded.map { case (p, _) => p.substring(p.lastIndexOf('/') + 1) }
      === Seq("v0"))
    // …and the grace window is RECURSIVE: an old-mtime version dir whose
    // leaf file is still fresh (a long in-flight artifact write) is
    // spared; once the leaf ages past the grace it is reclaimed
    val old = System.currentTimeMillis() - 7200000L
    assert(new java.io.File(s"$versions/v0").setLastModified(old))
    assert(stale.setLastModified(old))
    assert(StoreCatalog.gcSuperseded(
      spark, cat, "ivf", versions, graceMs = 3600000L).isEmpty,
      "a version with a fresh leaf under a stale root must be spared")
    assert(leaf.setLastModified(old))
    assert(StoreCatalog.gcSuperseded(
        spark, cat, "ivf", versions, graceMs = 3600000L)
      .map(p => p.substring(p.lastIndexOf('/') + 1)) === Seq("v0"))
    // nextVersionDir never collides with live versions
    assert(StoreCatalog.nextVersionDir(spark, versions).endsWith("/v3"))
  }
}
