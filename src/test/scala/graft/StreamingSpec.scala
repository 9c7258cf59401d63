package graft

import java.sql.Timestamp

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Structured-Streaming coverage through MemoryStream: watermarked
  * windowed aggregation (append mode — only finalized windows emit) and
  * mapGroupsWithState sessionization (update mode). */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedCounts finalizes windows once the watermark passes") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    // windowedCounts speaks the events-table schema (event_type)
    val q = StreamOps.toMemorySink(
      StreamOps.windowedCounts(
        ms.toDF().withColumnRenamed("eventType", "event_type"),
        "10 minutes", "20 minutes"), "win_test")
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:01:00"), 1, "view", 1.0),
        Event(2, ts("2024-01-01 00:04:00"), 2, "view", 2.0),
        Event(3, ts("2024-01-01 00:12:00"), 1, "click", 5.0))
      q.processAllAvailable()
      // nothing final yet — watermark has not passed the first window
      // (append mode holds windows open until watermark > window end)
      ms.addData(Event(9, ts("2024-01-01 01:00:00"), 3, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("win_test")
        .orderBy("w_start", "event_type").collect()
      assert(rows.length >= 2)
      val first = rows(0)
      assert(first.getTimestamp(0) == ts("2024-01-01 00:00:00"))
      assert(first.getString(1) == "view")
      assert(first.getLong(2) == 2L)
      assert(first.getDouble(3) == 3.0)
    } finally q.stop()
  }

  test("sessionizeStream adapts the raw events-table schema") {
    implicit val s = spark
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val raw = ms.toDF()
      .withColumnRenamed("eventId", "event_id")
      .withColumnRenamed("userId", "user_id")
      .withColumnRenamed("eventType", "event_type")
    val q = StreamOps.toMemorySink(
      StreamOps.sessionizeStream(raw, gapMs = 60000L).toDF(), "sess_stream_test",
      OutputMode.Update())
    try {
      ms.addData(Event(1, ts("2024-01-01 00:00:10"), 9, "view", 2.0))
      q.processAllAvailable()
      val snap = spark.table("sess_stream_test").collect()
      assert(snap.length == 1 && snap(0).getLong(0) == 9L && snap(0).getLong(1) == 1L)
    } finally q.stop()
  }

  test("sessionize tracks per-user counters via mapGroupsWithState") {
    implicit val s = spark
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    // event-time timeouts require a watermark on the input
    val q = StreamOps.toMemorySink(
      StreamOps.sessionize(ms.toDS().withWatermark("ts", "1 minute"), gapMs = 60000L).toDF(),
      "sess_test", OutputMode.Update())
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:10"), 7, "view", 1.5),
        Event(2, ts("2024-01-01 00:00:40"), 7, "click", 2.5),
        Event(3, ts("2024-01-01 00:00:20"), 8, "view", 1.0))
      q.processAllAvailable()
      val snap = spark.table("sess_test").orderBy("userId").collect()
      val u7 = snap.find(_.getLong(0) == 7L).get
      assert(u7.getLong(1) == 2L)          // nEvents
      assert(u7.getDouble(2) == 4.0)       // totalValue
      assert(u7.getTimestamp(3) == ts("2024-01-01 00:00:10"))
      assert(u7.getTimestamp(4) == ts("2024-01-01 00:00:40"))
      assert(snap.exists(_.getLong(0) == 8L))
    } finally q.stop()
  }

  test("dedupStream passes only the first arrival of each fingerprint") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    // fingerprint on eventType as a stand-in content key
    val withFp = ms.toDF().withColumn("fp", org.apache.spark.sql.functions.col("eventType"))
    val q = StreamOps.toMemorySink(
      StreamOps.dedupStream(withFp, "fp", "10 minutes"), "dedup_stream_test")
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:10"), 1, "docA", 1.0),
        Event(2, ts("2024-01-01 00:00:20"), 2, "docA", 2.0), // dup of docA
        Event(3, ts("2024-01-01 00:00:30"), 3, "docB", 3.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream_test").collect()
      assert(rows.map(_.getAs[String]("fp")).sorted.toSeq == Seq("docA", "docB"))
      // the kept docA row is the FIRST arrival
      assert(rows.find(_.getAs[String]("fp") == "docA").get.getAs[Long]("eventId") == 1L)
    } finally q.stop()
  }

  test("sessionizeClosed emits a session exactly once, only after the gap passes") {
    implicit val s = spark
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.toMemorySink(
      StreamOps.sessionizeClosed(
        ms.toDS().withWatermark("ts", "1 minute"), gapMs = 60000L).toDF(),
      "sess_closed_test")
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:10"), 7, "view", 1.5),
        Event(2, ts("2024-01-01 00:00:40"), 7, "click", 2.5))
      q.processAllAvailable()
      // session still open: nothing emitted
      assert(spark.table("sess_closed_test").isEmpty)
      // push the watermark past last + gap -> the session closes
      ms.addData(Event(9, ts("2024-01-01 00:30:00"), 8, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess_closed_test").collect()
      assert(rows.length == 1)
      val r = rows(0)
      assert(r.getLong(0) == 7L && r.getLong(1) == 2L && r.getDouble(2) == 4.0)
      assert(r.getTimestamp(3) == ts("2024-01-01 00:00:10"))
      assert(r.getTimestamp(4) == ts("2024-01-01 00:00:40"))
    } finally q.stop()
  }

  test("stream/batch parity: file-streamed events reproduce the batch events_window rows") {
    val dir = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("events_window")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // stream the SAME parquet through the file source (one-file directory)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ev_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), tmp.resolve("part-0.parquet"))
    // apply the same type-adaptive ts normalization the batch loader
    // does (handles legacy nanos-as-long AND plain/NTZ micros files)
    Tables(spark, dir, "events") // ensures the nanosAsLong conf is set
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = Tables.normalizeEventsTs(spark.readStream
      .schema(rawSchema)
      .parquet(tmp.toString))
    val q = StreamOps.toMemorySink(
      StreamOps.windowedCounts(raw, "10 minutes", "20 minutes").select(
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("n"),
        org.apache.spark.sql.functions.col("sum_value")), "parity_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("parity_test")
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      // append mode: only windows the final watermark passed have emitted —
      // every emitted row must EQUAL its batch counterpart, and the bulk
      // of the table must have finalized (watermark = max ts - 20 min).
      assert(streamed.nonEmpty)
      streamed.foreach { case (k, v) =>
        assert(batch.contains(k), s"stream emitted unknown window $k")
        assert(batch(k) == v, s"window $k: stream $v != batch ${batch(k)}")
      }
      assert(streamed.length >= batch.size - 4,
        s"only ${streamed.length} of ${batch.size} windows finalized")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("stream/batch parity: sliding windows reproduce the batch events_hopping rows") {
    val dir = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("events_hopping")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_hop_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), tmp.resolve("part-0.parquet"))
    Tables(spark, dir, "events") // ensures the nanosAsLong conf is set
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = Tables.normalizeEventsTs(spark.readStream
      .schema(rawSchema)
      .parquet(tmp.toString))
    val q = StreamOps.toMemorySink(
      StreamOps.slidingCounts(raw, "30 minutes", "10 minutes", "20 minutes").select(
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        org.apache.spark.sql.functions.col("n"),
        org.apache.spark.sql.functions.col("sum_value")), "hop_parity_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("hop_parity_test")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      assert(streamed.nonEmpty)
      streamed.foreach { case (k, v) =>
        assert(batch.contains(k), s"stream emitted unknown window $k")
        assert(batch(k) == v, s"window $k: stream $v != batch ${batch(k)}")
      }
      // 3 overlapping windows per event; all but the watermark tail finalize
      assert(streamed.length >= batch.size - 6,
        s"only ${streamed.length} of ${batch.size} windows finalized")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("file sink e2e: windowed aggregates land as readable parquet exactly once") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val ms = MemoryStream[Event]
    val q = StreamOps.toFileSink(
      StreamOps.windowedCounts(
        ms.toDF().withColumnRenamed("eventType", "event_type"), "10 minutes", "20 minutes"),
      s"$tmp/out", s"$tmp/ckpt")
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:01:00"), 1, "view", 1.0),
        Event(2, ts("2024-01-01 00:04:00"), 2, "view", 2.0))
      q.processAllAvailable()
      ms.addData(Event(9, ts("2024-01-01 01:00:00"), 3, "view", 0.0)) // advance watermark
      q.processAllAvailable()
      val back = spark.read.parquet(s"$tmp/out")
        .where(org.apache.spark.sql.functions.col("event_type") === "view")
        .orderBy("w_start").collect()
      assert(back.nonEmpty)
      assert(back(0).getTimestamp(0) == ts("2024-01-01 00:00:00"))
      assert(back(0).getLong(2) == 2L && back(0).getDouble(3) == 3.0)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("matchPairsStreamOuter emits non-converting events with null match columns") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val raw = ms.toDF()
      .withColumnRenamed("eventId", "event_id")
      .withColumnRenamed("userId", "user_id")
      .withColumnRenamed("eventType", "event_type")
    val q = StreamOps.toMemorySink(
      StreamOps.matchPairsStreamOuter(raw, "view", "purchase", gap = "30 minutes"),
      "pairs_outer_test")
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:00"), 1, "view", 0.0),
        Event(2, ts("2024-01-01 00:10:00"), 1, "purchase", 9.0), // converts
        Event(3, ts("2024-01-01 00:00:00"), 2, "view", 0.0))    // never converts
      q.processAllAvailable()
      // advance the watermark on BOTH branches: the global watermark is
      // the MIN across the two filtered streams, so a late view alone
      // would leave the purchase branch (and the join state) frozen
      ms.addData(
        Event(9, ts("2024-01-01 03:00:00"), 4, "view", 0.0),
        Event(10, ts("2024-01-01 03:00:00"), 4, "purchase", 0.0))
      q.processAllAvailable()
      // outer results surface on the batch AFTER the watermark advance
      // (eviction happens at the start of the next micro-batch)
      ms.addData(
        Event(11, ts("2024-01-01 03:10:00"), 5, "view", 0.0),
        Event(12, ts("2024-01-01 03:10:00"), 5, "purchase", 0.0))
      q.processAllAvailable()
      val rows = spark.table("pairs_outer_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("a_id"),
          Option(r.getAs[java.lang.Long]("b_id")).map(_.toLong)))
        .filter(r => r._1 <= 2) // the watermark-advancing probes are not under test
      // user 1's view matched; user 2's view emitted with NO match once
      // the watermark passed its join window
      assert(rows.toSet == Set((1L, 1L, Some(2L)), (2L, 3L, None)), rows.mkString(","))
    } finally q.stop()
  }

  test("upsertSink materializes latest-wins keyed state across micro-batches") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val ms = MemoryStream[(Long, Long, String, String)]
    val changes = ms.toDF().toDF("k", "seq", "typ", "payload")
    val q = StreamOps.upsertSink(changes, s"$tmp/state", s"$tmp/ckpt",
      "k", Seq("seq"), "typ")
    try {
      ms.addData((1L, 10L, "U", "v1"), (2L, 10L, "U", "v1"))
      q.processAllAvailable()
      val s0 = StreamOps.readState(spark, s"$tmp/state")
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(s0 == Map(1L -> "v1", 2L -> "v1"))
      // batch 2: k1 updated, k2 tombstoned, k3 inserted, plus a LATE
      // upsert for k1 older than its existing state row (must lose)
      ms.addData((1L, 20L, "U", "v2"), (1L, 5L, "U", "v0"),
        (2L, 30L, "D", "-"), (3L, 5L, "U", "v9"))
      q.processAllAvailable()
      val s1 = StreamOps.readState(spark, s"$tmp/state")
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(s1 == Map(1L -> "v2", 3L -> "v9"))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("sketchPartialSink profiles a stream incrementally within HLL error") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sketch").toString
    val ms = MemoryStream[Event]
    val raw = ms.toDF().withColumnRenamed("userId", "user_id")
    val q = StreamOps.sketchPartialSink(raw, s"$tmp/partials", s"$tmp/ckpt",
      keyCols = Seq("eventType"), cols = Seq("user_id"))
    try {
      // two micro-batches with overlapping users — the merge must count
      // DISTINCT users across batches, not sum per-batch counts
      ms.addData((1 to 40).map(i =>
        Event(i, ts("2024-01-01 00:01:00"), i % 20, "view", 1.0)): _*)
      q.processAllAvailable()
      ms.addData((41 to 80).map(i =>
        Event(i, ts("2024-01-01 00:02:00"), i % 30, "view", 1.0)): _*)
      q.processAllAvailable()
      val got = StreamOps.readSketchProfile(spark, s"$tmp/partials",
        Seq("eventType"), Seq("user_id")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // distinct user_ids across both batches: i%20 (0..19) + i%30 (0..29) = 30
      assert(got.keySet == Set("view"))
      assert(math.abs(got("view") - 30L) <= 2, s"ndv ${got("view")} vs 30")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("nearDupSink matches streamed documents against the static corpus") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and then runs all the way home tonight"),
      (101L, "spark shuffles partitions and broadcasts the small build side of every join")
    ).toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupSink(ms.toDF().toDF("doc_id", "text"), corpus,
      s"$tmp/pairs", s"$tmp/ckpt", "doc_id", "text")
    try {
      ms.addData(
        // near-dup of corpus doc 100 (one word changed)
        (1L, "the quick brown fox jumps over the lazy dog and then runs all the way home today"),
        // unrelated
        (2L, "completely different tokens about databases and storage engines"))
      q.processAllAvailable()
      val pairs = spark.read.parquet(s"$tmp/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L)), pairs.toString)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("curationSink quality-gates and dedups each batch; kept set equals the batch operators") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_curation").toString
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and then runs all the way home tonight"))
      .toDF("doc_id", "text")
    val longUnique = (1 to 25).map(i => s"uniqueword$i").mkString(" ")
    val longUnique2 = (1 to 25).map(i => s"otherterm$i").mkString(" ")
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.curationSink(ms.toDF().toDF("doc_id", "text"), corpus,
      s"$tmp/kept", s"$tmp/ckpt", "doc_id", "text", minTokens = 10)
    try {
      ms.addData(
        // near-dup of corpus doc 100 (one word changed; the pair the
        // nearDupSink test pins as band-matched) -> dropped
        (1L, "the quick brown fox jumps over the lazy dog and then runs all the way home today"),
        // quality-fail: too short -> dropped
        (2L, "tiny document"),
        // clean keeps
        (3L, longUnique),
        (4L, longUnique2),
        // intra-batch near-dup of 3 (one token changed) -> higher id dropped
        (5L, longUnique.replace("uniqueword25", "changedword")))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$tmp/kept")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(3L, 4L), kept.toString)
      // idempotency surface: a second batch lands in its own shard
      ms.addData((6L, (1 to 30).map(i => s"fresh$i").mkString(" ")))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/kept").collect().map(_.getLong(0)).toSet
        == Set(3L, 4L, 6L))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("curationSink survives kill-and-restart from checkpoint: kept-set parity holds") {
    // the idempotent-shard claim under its REAL failure mode: stop the
    // query after batch 0 commits, let batch 1 arrive while the query
    // is DOWN, restart from the same checkpoint dir, and require the
    // accepted set to be exactly what an uninterrupted run would keep —
    // no lost batch, no replayed duplicates
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_curation_ckpt").toString
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and then runs all the way home tonight"))
      .toDF("doc_id", "text")
    val longUnique = (1 to 25).map(i => s"restartword$i").mkString(" ")
    val ms = MemoryStream[(Long, String)]
    def start() = StreamOps.curationSink(ms.toDF().toDF("doc_id", "text"), corpus,
      s"$tmp/kept", s"$tmp/ckpt", "doc_id", "text", minTokens = 10)
    val q1 = start()
    try {
      ms.addData(
        // corpus near-dup -> dropped
        (1L, "the quick brown fox jumps over the lazy dog and then runs all the way home today"),
        (3L, longUnique))
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/kept")
        .collect().map(_.getLong(0)).toSet == Set(3L))
    } finally q1.stop()
    ms.addData((6L, (1 to 30).map(i => s"restartfresh$i").mkString(" ")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val kept = spark.read.parquet(s"$tmp/kept").collect().map(_.getLong(0))
      assert(kept.toSet == Set(3L, 6L), kept.toSeq.toString)
      // and exactly once each: a replayed shard overwrites, never appends
      assert(kept.length == 2, s"duplicated rows after restart: ${kept.toSeq}")
    } finally {
      q2.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("stream/batch parity: merged stream partials equal SketchProfile.direct") {
    // the exactly-once evidence the older sinks have: HLL register
    // merge is associative+commutative, so the union of per-batch
    // sketches must equal the one-pass sketch over the SAME rows
    // EXACTLY — any drift means a batch was dropped or double-counted
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sketch_eq").toString
    val b1 = (1 to 40).map(i => Event(i, ts("2024-01-01 00:01:00"), i % 20, "view", 1.0))
    val b2 = (41 to 80).map(i => Event(i, ts("2024-01-01 00:02:00"), i % 30,
      if (i % 2 == 0) "view" else "click", 1.0))
    val ms = MemoryStream[Event]
    val raw = ms.toDF().withColumnRenamed("userId", "user_id")
    val q = StreamOps.sketchPartialSink(raw, s"$tmp/partials", s"$tmp/ckpt",
      keyCols = Seq("eventType"), cols = Seq("user_id"))
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      val streamed = StreamOps.readSketchProfile(spark, s"$tmp/partials",
        Seq("eventType"), Seq("user_id")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.operators.SketchProfile.direct(
        (b1 ++ b2).toDF().withColumnRenamed("userId", "user_id"),
        Seq("eventType"), Seq("user_id")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("stream/batch parity: merged quantile partials stay within KLL bound") {
    // KLL merge preserves the rank-error guarantee, so the streamed
    // partials must answer percentile questions within 2x the published
    // bound of the exact value over the SAME rows
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_kll_eq").toString
    val b1 = (1 to 500).map(i => Event(i, ts("2024-01-01 00:01:00"), i % 20, "view", i * 1.0))
    val b2 = (501 to 1000).map(i => Event(i, ts("2024-01-01 00:02:00"), i % 20, "view", i * 1.0))
    val ms = MemoryStream[Event]
    val q = StreamOps.quantilePartialSink(ms.toDF(), s"$tmp/partials", s"$tmp/ckpt",
      keyCols = Seq("eventType"), cols = Seq("value"))
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      val got = StreamOps.readQuantileProfile(spark, s"$tmp/partials",
        Seq("eventType"), Seq("value"), Seq(0.5)).collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1).head).toMap
      val eps = org.apache.spark.sql.graft.KllFunctions
        .normalizedRankError(graft.operators.SketchProfile.DefaultKllK)
      // values are 1..1000: a 2x-bound p50 estimate sits within
      // 2 * eps * 1000 ranks of 500
      assert(math.abs(got("view") - 500.0) <= 2 * eps * 1000 + 1,
        s"p50 ${got("view")}")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("stream/batch parity: merged freq partials keep the hard bound") {
    // Misra-Gries merge preserves the HARD |est - true| <= maxError
    // guarantee, so the streamed partials must answer "how often did
    // item X occur" within the merged sketch's own stated bound of the
    // exact count over the SAME rows — for every key and any batching.
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_freq_eq").toString
    def batch(lo: Int, hi: Int) = (lo to hi).map(i =>
      Event(i, ts("2024-01-01 00:01:00"), i % 3,
        if (i % 4 == 0) "click" else s"view$i", i * 1.0))
    val ms = MemoryStream[Event]
    val q = StreamOps.freqPartialSink(ms.toDF(), s"$tmp/partials", s"$tmp/ckpt",
      keyCols = Seq("userId"), cols = Seq("eventType"))
    try {
      ms.addData(batch(1, 500): _*); q.processAllAvailable()
      ms.addData(batch(501, 1000): _*); q.processAllAvailable()
      val got = StreamOps.readFreqProfile(spark, s"$tmp/partials",
        Seq("userId"), Seq("eventType"), "click").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val exact = (1 to 1000).filter(_ % 4 == 0).groupBy(_ % 3)
        .map { case (k, v) => k.toLong -> v.size.toLong }
      exact.foreach { case (k, truth) =>
        val (est, me) = got(k)
        assert(math.abs(est - truth) <= me,
          s"key $k est $est true $truth bound $me")
      }
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("stream/batch parity: accumulated nearDupSink shards equal the batch dedup") {
    // each increment doc is matched against the static corpus
    // independently, so the union of per-batch pair shards must equal
    // Dedup.nearDupsAgainstCorpus over the full increment in one call
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup_eq").toString
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and then runs all the way home tonight"),
      (101L, "spark shuffles partitions and broadcasts the small build side of every join"),
      (102L, "curation pipelines score documents for quality language and duplication signals daily")
    ).toDF("doc_id", "text")
    val inc1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then runs all the way home today"),
      (2L, "completely different tokens about databases and storage engines"))
    val inc2 = Seq(
      (3L, "spark shuffles partitions and broadcasts the small build side of most every join"),
      (4L, "curation pipelines score documents for quality language and duplication signals hourly"))
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupSink(ms.toDF().toDF("doc_id", "text"), corpus,
      s"$tmp/pairs", s"$tmp/ckpt", "doc_id", "text")
    try {
      ms.addData(inc1: _*); q.processAllAvailable()
      ms.addData(inc2: _*); q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.operators.Dedup.nearDupsAgainstCorpus(
        (inc1 ++ inc2).toDF("doc_id", "text"), corpus, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      assert(batch.nonEmpty && batch.map(_._1) == Set(1L, 3L, 4L), batch.toString)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("enrichStream attaches static dimension rows without shuffling the stream") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val raw = ms.toDF().withColumnRenamed("userId", "user_id")
    val q = StreamOps.toMemorySink(
      StreamOps.enrichStream(raw, dim, "user_id"), "enrich_test")
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:01:00"), 1, "view", 1.0),
        Event(2, ts("2024-01-01 00:02:00"), 3, "view", 2.0)) // no dim row -> null tier
      q.processAllAvailable()
      val rows = spark.table("enrich_test").orderBy("eventId").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("tier") == "gold")
      assert(rows(1).getAs[String]("tier") == null)
    } finally q.stop()
  }

  test("matchPairsStream joins view->purchase within the gap, drops matches beyond it") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val raw = ms.toDF()
      .withColumnRenamed("eventId", "event_id")
      .withColumnRenamed("userId", "user_id")
      .withColumnRenamed("eventType", "event_type")
    val q = StreamOps.toMemorySink(
      StreamOps.matchPairsStream(raw, "view", "purchase", gap = "30 minutes"),
      "pairs_test")
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:00"), 1, "view", 0.0),
        Event(2, ts("2024-01-01 00:10:00"), 1, "purchase", 9.0), // within gap -> match
        Event(3, ts("2024-01-01 00:00:00"), 2, "view", 0.0),
        Event(4, ts("2024-01-01 01:30:00"), 2, "purchase", 5.0), // 90 min -> no match
        Event(5, ts("2024-01-01 00:10:00"), 3, "purchase", 1.0)) // purchase w/o view
      q.processAllAvailable()
      ms.addData(Event(9, ts("2024-01-01 03:00:00"), 4, "view", 0.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("pairs_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      assert(rows.toSet == Set((1L, 1L, 2L)), rows.mkString(","))
    } finally q.stop()
  }

  test("trendingSink ranks finalized windows top-k and tolerates replayed batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val base = java.nio.file.Files.createTempDirectory("trend").toString
    val q = StreamOps.trendingSink(
      ms.toDF().withColumnRenamed("eventType", "event_type"),
      s"$base/out", s"$base/ckpt", k = 2)
    try {
      // window 00:00-00:10 — view 3, click 2, error 1 => top-2: view, click
      ms.addData(
        Event(1, ts("2024-01-01 00:01:00"), 1, "view", 1.0),
        Event(2, ts("2024-01-01 00:02:00"), 2, "view", 1.0),
        Event(3, ts("2024-01-01 00:03:00"), 3, "view", 1.0),
        Event(4, ts("2024-01-01 00:04:00"), 1, "click", 1.0),
        Event(5, ts("2024-01-01 00:05:00"), 2, "click", 1.0),
        Event(6, ts("2024-01-01 00:06:00"), 3, "error", 1.0))
      q.processAllAvailable()
      ms.addData(Event(9, ts("2024-01-01 01:00:00"), 4, "view", 0.0)) // close the window
      q.processAllAvailable()
      val got = StreamOps.readTrending(spark, s"$base/out")
        .filter($"w_start" === ts("2024-01-01 00:00:00"))
        .orderBy($"rk").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Int]("rk")))
      assert(got.toSeq == Seq(("view", 3L, 1), ("click", 2L, 2)), got.mkString(","))
    } finally q.stop()
  }

  test("anomalySink reproduces the batch ingest_anomaly verdicts on finalized hours") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val out = java.nio.file.Files.createTempDirectory("anom-out").toString
    val ck = java.nio.file.Files.createTempDirectory("anom-ck").toString
    val q = StreamOps.anomalySink(
      ms.toDF().withColumnRenamed("eventType", "event_type"), out, ck)
    try {
      // 16 hours of steady 2-events/hour traffic, then a 20-event spike
      // at hour 15 (>= 12 prior hours, so it is scoreable and anomalous)
      var id = 0L
      val evs = for {
        h <- 0 to 15
        i <- 1 to (if (h == 15) 20 else 2)
      } yield {
        id += 1
        Event(id, ts(f"2024-01-01 $h%02d:${i % 60}%02d:00"), i.toLong, "view", 1.0)
      }
      ms.addData(evs: _*)
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past the
      // real hours, the second flushes the windows it finalized
      ms.addData(Event(9999, ts("2024-01-03 00:00:00"), 1, "sentinel", 0.0))
      q.processAllAvailable()
      ms.addData(Event(10000, ts("2024-01-03 06:00:00"), 1, "sentinel", 0.0))
      q.processAllAvailable()
      val got = StreamOps.readAnomalies(spark, out)
        .select("event_type", "hour", "n", "mu24", "sd24", "anomaly")
        .collect().map(_.toSeq).toSet
      import org.apache.spark.sql.functions.{col, count, date_trunc, lit}
      val batchCounts = evs.toDF().withColumnRenamed("eventType", "event_type")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val want = graft.operators.Quality.volumeAnomalies(batchCounts)
        .collect().map(_.toSeq).toSet
      assert(got == want, s"stream/batch mismatch:\n got=$got\nwant=$want")
      assert(want.exists(_(5) == true), "the planted spike must be flagged")
      assert(want.exists(_(5) == false), "steady hours must not be flagged")
    } finally q.stop()
  }

  test("frontierSink accepts each canonical url once, in arrival order") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_frontier").toString
    val ms = MemoryStream[(Long, String)]
    val pages = ms.toDF().toDF("page_id", "url")
    val q = StreamOps.frontierSink(pages, s"$tmp/store", s"$tmp/ckpt",
      "page_id", "url")
    try {
      // batch 0: two raw variants of the same page (decoration dedup
      // inside the batch, min id wins) plus a distinct page
      ms.addData((2L, "HTTPS://A.Example.COM:443/x?utm_src=f&b=2#frag"),
        (1L, "https://a.example.com/x?b=2"),
        (3L, "https://b.example.com/y?k=1"))
      q.processAllAvailable()
      val s0 = StreamOps.readFrontier(spark, s"$tmp/store").collect()
        .map(r => r.getAs[Long]("page_id") -> r.getAs[String]("canonical_url")).toMap
      assert(s0 == Map(
        1L -> "https://a.example.com/x?b=2",
        3L -> "https://b.example.com/y?k=1"))
      // batch 1: a recrawl of an accepted page under a decorated url
      // (rejected — the store remembers across batches, and the EARLIER
      // arrival stays accepted even though 0 < 1) and a new page
      ms.addData((0L, "https://a.example.com/x?b=2&utm_x=9"),
        (4L, "https://c.example.com/z"))
      q.processAllAvailable()
      val s1 = StreamOps.readFrontier(spark, s"$tmp/store").collect()
        .map(_.getAs[Long]("page_id")).toSet
      assert(s1 == Set(1L, 3L, 4L))
      // shards are batch-keyed: batch 1 contributed exactly one row
      val b1 = spark.read.parquet(s"$tmp/store/batch=1").collect()
      assert(b1.map(_.getAs[Long]("page_id")).toSeq == Seq(4L))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("compactFrontierStore: base shard survives a fresh checkpoint; GC re-opens urls") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_frontcomp").toString
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.frontierSink(ms.toDF().toDF("page_id", "url"),
      s"$tmp/store", s"$tmp/ckpt", "page_id", "url")
    try {
      ms.addData((1L, "https://a.example.com/x?b=2"),
        (3L, "https://b.example.com/y?k=1"))
      q.processAllAvailable()
      ms.addData((4L, "https://c.example.com/z"))
      q.processAllAvailable()
      q.stop()

      val (nb, na) = StreamOps.compactFrontierStore(spark, s"$tmp/store",
        s"$tmp/store2")
      assert(na < nb, s"compaction must shrink the file count ($nb -> $na)")
      val keys = StreamOps.readFrontier(spark, s"$tmp/store2").collect()
        .map(r => r.getAs[Long]("page_id") -> r.getAs[String]("canonical_url"))
      assert(keys.map(_._1).toSet == Set(1L, 3L, 4L))
      // the base lands under batch=-1, unreachable by any real batchId
      assert(new java.io.File(s"$tmp/store2/batch=-1").isDirectory)

      // a FRESH checkpoint restarts batchIds at 0 — the compacted base
      // must still reject previously accepted urls (a batch=0 base
      // would be excluded by the replay filter and let them back in)
      val ms2 = MemoryStream[(Long, String)]
      val q2 = StreamOps.frontierSink(ms2.toDF().toDF("page_id", "url"),
        s"$tmp/store2", s"$tmp/ckpt2", "page_id", "url")
      try {
        ms2.addData((9L, "HTTPS://A.Example.COM:443/x?b=2&utm_z=1#f"),
          (5L, "https://d.example.com/w"))
        q2.processAllAvailable()
        val after = StreamOps.readFrontier(spark, s"$tmp/store2").collect()
          .map(_.getAs[Long]("page_id")).toSet
        assert(after == Set(1L, 3L, 4L, 5L), s"got $after")
      } finally q2.stop()

      // GC: evicting b.example.com's key re-opens it; others survive
      import spark.implicits._
      val live = Seq("https://a.example.com/x?b=2", "https://c.example.com/z",
        "https://d.example.com/w").toDF("canonical_url")
      StreamOps.compactFrontierStore(spark, s"$tmp/store2", s"$tmp/store3",
        liveKeys = Some(live))
      val gc = StreamOps.readFrontier(spark, s"$tmp/store3").collect()
        .map(_.getAs[Long]("page_id")).toSet
      assert(gc == Set(1L, 4L, 5L))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("retrievalSink shards equal the batch IVF operator per micro-batch") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(3)
    def vec() = Seq.fill(8)(rnd.nextGaussian())
    val corpus = (0L until 64L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val ms = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("retr-out").toString
    val ck = java.nio.file.Files.createTempDirectory("retr-ck").toString
    val q = StreamOps.retrievalSink(
      ms.toDF().toDF("probe_id", "embedding"),
      corpus, out, ck, "probe_id", "vec_id", "embedding", k = 3)
    try {
      val probes = (100L to 102L).map(i => (i, vec()))
      ms.addData(probes: _*)
      q.processAllAvailable()
      def asSet(df: org.apache.spark.sql.DataFrame) = df
        .select("probe_id", "vec_id", "cos", "rk")
        .collect().map(_.toSeq).toSet
      val got = asSet(spark.read.parquet(s"$out/batch=0"))
      val want = asSet(graft.operators.SimilaritySearch.topKCosineIvf(
        probes.toDF("probe_id", "embedding"), "probe_id",
        corpus, "vec_id", "embedding", k = 3,
        coarseK = 1, subK = 16, nprobeCells = 1, nprobeLeaves = 4))
      assert(got == want, s"stream/batch mismatch:\n got=$got\nwant=$want")
      assert(got.size == 9, s"3 probes x k=3 expected, got ${got.size}")
    } finally q.stop()
  }

  test("semanticDedupSink verdicts each batch against the frozen index; shards equal the batch operator") {
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(8)(rnd.nextGaussian())
    val corpus = (0L until 64L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val index = graft.operators.SimilaritySearch
      .buildSemanticIndex(corpus, "vec_id", "embedding", coarseK = 1, subK = 4)
    val ms = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("semd-out").toString
    val ck = java.nio.file.Files.createTempDirectory("semd-ck").toString
    val q = StreamOps.semanticDedupSink(
      ms.toDF().toDF("vec_id", "embedding"), index, out, ck,
      "vec_id", "embedding")
    try {
      // batch 0: two exact copies of stored vectors (dropped vs store),
      // two fresh directions (kept), one intra-batch twin pair (higher
      // id dropped)
      val fresh1 = vec(); val fresh2 = vec(); val pairV = vec()
      val c0 = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val b0 = Seq(200L -> c0(3L), 201L -> c0(17L),
        210L -> fresh1, 211L -> fresh2,
        220L -> pairV, 221L -> pairV)
      ms.addData(b0: _*)
      q.processAllAvailable()
      val kept0 = spark.read.parquet(s"$out/batch=0")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val want0 = graft.operators.SimilaritySearch
        .semanticDedupAgainstIndex(b0.toDF("vec_id", "embedding"),
          "vec_id", "embedding", index)
        .filter(!org.apache.spark.sql.functions.col("is_dropped"))
        .collect().map(_.getLong(0)).toSet
      assert(kept0 == want0, s"stream/batch mismatch: $kept0 vs $want0")
      assert(kept0 == Set(210L, 211L, 220L), kept0.toString)
      // batch 1: a copy of a batch-0 KEPT vector is NOT caught (the
      // frozen index never grows mid-stream — the curationSink
      // per-batch contract), but a copy of a stored vector still is
      val b1 = Seq(300L -> fresh1, 301L -> c0(5L))
      ms.addData(b1: _*)
      q.processAllAvailable()
      val kept1 = spark.read.parquet(s"$out/batch=1")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(300L), kept1.toString)
    } finally q.stop()
  }

  test("semanticDedupSink drives a TWO-LEVEL index identically to the flat one at the overlap point") {
    // A frozen store of shape (1, 4) — the flat nlist=4 index — must
    // verdict every arriving batch through the sink exactly like the
    // batch operator does on the same shape.
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    def vec() = Seq.fill(8)(rnd.nextGaussian())
    val corpus = (0L until 64L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val flat = graft.operators.SimilaritySearch
      .buildSemanticIndex(corpus, "vec_id", "embedding", coarseK = 1, subK = 4)
    val two = graft.operators.SimilaritySearch
      .buildSemanticIndex(corpus, "vec_id", "embedding",
        coarseK = 1, subK = 4)
    val ms = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("semd2-out").toString
    val ck = java.nio.file.Files.createTempDirectory("semd2-ck").toString
    val q = StreamOps.semanticDedupSink(
      ms.toDF().toDF("vec_id", "embedding"), two, out, ck,
      "vec_id", "embedding")
    try {
      val c0 = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val pairV = vec()
      val b0 = Seq(200L -> c0(3L), 210L -> vec(), 220L -> pairV, 221L -> pairV)
      ms.addData(b0: _*)
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$out/batch=0")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val wantFlat = graft.operators.SimilaritySearch
        .semanticDedupAgainstIndex(b0.toDF("vec_id", "embedding"),
          "vec_id", "embedding", flat)
        .filter(!org.apache.spark.sql.functions.col("is_dropped"))
        .collect().map(_.getLong(0)).toSet
      assert(kept == wantFlat, s"two-level sink vs flat batch: $kept vs $wantFlat")
      assert(kept == Set(210L, 220L), kept.toString)
    } finally q.stop()
  }

  test("semanticDedupSink crossBatch mode catches duplicates split across micro-batches") {
    // The default keeps a cross-batch near-dup pair twice (frozen
    // comparison set); crossBatch = true unions prior keepers in, so
    // the batch-1 copy of a batch-0 keeper IS caught — while copies of
    // STORED vectors and intra-batch pairs behave exactly as before.
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    def vec() = Seq.fill(8)(rnd.nextGaussian())
    val corpus = (0L until 32L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val index = graft.operators.SimilaritySearch
      .buildSemanticIndex(corpus, "vec_id", "embedding", coarseK = 1, subK = 4)
    val ms = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("semx-out").toString
    val ck = java.nio.file.Files.createTempDirectory("semx-ck").toString
    val q = StreamOps.semanticDedupSink(
      ms.toDF().toDF("vec_id", "embedding"), index, out, ck,
      "vec_id", "embedding", crossBatch = true)
    try {
      val fresh1 = vec(); val fresh2 = vec()
      ms.addData(210L -> fresh1, 211L -> fresh2)
      q.processAllAvailable()
      val kept0 = spark.read.parquet(s"$out/batch=0")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept0 == Set(210L, 211L), kept0.toString)
      // batch 1: a copy of batch-0 keeper 210 (caught ONLY in
      // crossBatch mode), a copy of a stored vector (always caught),
      // and a genuinely novel row
      val c0 = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      ms.addData(300L -> fresh1, 301L -> c0(5L), 302L -> vec())
      q.processAllAvailable()
      val kept1 = spark.read.parquet(s"$out/batch=1")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(302L), kept1.toString)
    } finally q.stop()
  }

  test("semanticDedupSink survives a FIRST batch that drops every row (empty shard, store stays readable)") {
    // CompactScale's restart phase found this live at the 1M tier: an
    // all-duplicate first batch writes its bucketed shard directory
    // with NO data files (dynamic-partition write of an empty frame),
    // and the sink's own staleness count — plus every later prior-shard
    // read — then threw UNABLE_TO_INFER_SCHEMA on the data-file-less
    // store. hasBatchShards now requires an actual part- file; this
    // pins: (a) the all-dropped batch completes, (b) a later batch
    // still lands keepers and catches dups, (c) the store reads back
    // with exactly the later batch's keepers.
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    def vec() = Seq.fill(8)(rnd.nextGaussian())
    val corpus = (0L until 32L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val index = graft.operators.SimilaritySearch
      .buildSemanticIndex(corpus, "vec_id", "embedding", coarseK = 1, subK = 4)
    val c0 = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val ms = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("semempty-out").toString
    val ck = java.nio.file.Files.createTempDirectory("semempty-ck").toString
    val q = StreamOps.semanticDedupSink(
      ms.toDF().toDF("vec_id", "embedding"), index, out, ck,
      "vec_id", "embedding", crossBatch = true)
    try {
      // batch 0: every row a copy of a stored vector -> ALL dropped
      ms.addData(400L -> c0(1L), 401L -> c0(2L), 402L -> c0(3L))
      q.processAllAvailable() // pre-fix: crashed here (staleness count)
      // batch 1: one novel keeper + one copy (still caught)
      val fresh = vec()
      ms.addData(500L -> fresh, 501L -> c0(4L))
      q.processAllAvailable()
      val kept = spark.read.option("basePath", out).parquet(out)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(500L), kept.toString)
      // batch 2: a copy of the batch-1 keeper is caught ACROSS the
      // empty shard (crossBatch read survives the data-file-less dir)
      ms.addData(600L -> fresh)
      q.processAllAvailable()
      val all = spark.read.option("basePath", out).parquet(out)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(all == Set(500L), all.toString)
    } finally q.stop()
  }

  test("semanticDedupSink restarted over a pre-bucketing shard store keeps the flat layout and still compares") {
    // Shards landed before round 15's bucketed layout carry no
    // cluster_grp partition column. A restarted sink must (a) not throw
    // reading them, (b) still catch cross-batch dups against them, and
    // (c) keep WRITING the flat layout so the dir never goes mixed
    // (mixed old/new depths break parquet partition discovery).
    import graft.operators.SimilaritySearch
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    def vec() = Seq.fill(8)(rnd.nextGaussian())
    val corpus = (0L until 32L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val index = SimilaritySearch
      .buildSemanticIndex(corpus, "vec_id", "embedding", coarseK = 1, subK = 4)
    val out = java.nio.file.Files.createTempDirectory("semold-out").toString
    val ck = java.nio.file.Files.createTempDirectory("semold-ck").toString
    // land batch=7 exactly as the r14 sink did: flat files, no
    // cluster_grp column, no partition subdirs
    val fresh1 = vec()
    val oldKeeper = Seq(210L -> fresh1).toDF("vec_id", "embedding")
    oldKeeper
      .join(SimilaritySearch.assignWithIndex(
        oldKeeper, "vec_id", "embedding", index), Seq("vec_id"))
      .select(col("vec_id"), col("cluster_id"), col("embedding"))
      .write.parquet(s"$out/batch=7")
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.semanticDedupSink(
      ms.toDF().toDF("vec_id", "embedding"), index, out, ck,
      "vec_id", "embedding", crossBatch = true)
    try {
      val novel = vec()
      // 300 is a copy of the OLD shard's keeper: dropped only if the
      // prior-shard read actually worked
      ms.addData(300L -> fresh1, 301L -> novel)
      q.processAllAvailable()
      val kept0 = spark.read.parquet(s"$out/batch=0")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept0 == Set(301L), kept0.toString)
      // the new shard kept the FLAT layout: no cluster_grp subdirs
      val b0 = new java.io.File(s"$out/batch=0")
      assert(!b0.listFiles().exists(f =>
        f.isDirectory && f.getName.startsWith("cluster_grp=")),
        b0.listFiles().map(_.getName).mkString(","))
      // and the whole store still reads as ONE uniform layout
      assert(spark.read.option("basePath", out).parquet(out).count() == 2L)
      // next batch: a copy of the batch-0 keeper is caught too
      ms.addData(400L -> novel)
      q.processAllAvailable()
      val kept1 = spark.read.parquet(s"$out/batch=1")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept1.isEmpty, kept1.toString)
    } finally q.stop()
  }

  test("semanticDedupSink warns exactly once when streamed rows pass the index's training size") {
    // The retrain-cadence contract: the frozen codebook was sized for
    // builtN vectors (the auto-nlist derivation); once the stream has
    // landed more than builtN new rows the corpus has doubled and
    // verdicts degrade silently — the sink must say so, loudly, once.
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    def vec() = Seq.fill(8)(rnd.nextGaussian())
    val corpus = (0L until 4L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val index = graft.operators.SimilaritySearch
      .buildSemanticIndex(corpus, "vec_id", "embedding", coarseK = 1, subK = 2)
    assert(index.builtN == 4L)
    val ms = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("semw-out").toString
    val ck = java.nio.file.Files.createTempDirectory("semw-ck").toString
    val errBuf = new java.io.ByteArrayOutputStream
    val origErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    val q = try {
      val q0 = StreamOps.semanticDedupSink(
        ms.toDF().toDF("vec_id", "embedding"), index, out, ck,
        "vec_id", "embedding")
      // batch 0: 3 rows (under builtN=4 -> no warning yet)
      ms.addData((100L, vec()), (101L, vec()), (102L, vec()))
      q0.processAllAvailable()
      val afterB0 = errBuf.toString
      // batch 1: 3 more (total 6 > 4 -> the warning fires)
      ms.addData((103L, vec()), (104L, vec()), (105L, vec()))
      q0.processAllAvailable()
      // batch 2: more rows, but the warning must NOT repeat
      ms.addData((106L, vec()), (107L, vec()))
      q0.processAllAvailable()
      val all = errBuf.toString
      assert(!afterB0.contains("corpus has doubled"), "warned too early")
      val hits = "corpus has doubled".r.findAllIn(all).size
      assert(hits == 1, s"expected exactly one staleness warning, saw $hits")
      q0
    } finally System.setErr(origErr)
    q.stop()
  }

  test("compactSemanticStore: rebuilt == fresh build over store+shards; sink restarts clean on it") {
    import graft.operators.SimilaritySearch
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(29)
    def vec() = Seq.fill(8)(rnd.nextGaussian())
    val corpus = (0L until 48L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val idxDir = java.nio.file.Files.createTempDirectory("semc-idx").toString
    SimilaritySearch.writeSemanticIndex(
      SimilaritySearch.buildSemanticIndex(corpus, "vec_id", "embedding", coarseK = 1, subK = 4),
      idxDir)
    val index = SimilaritySearch.readSemanticIndex(spark, idxDir)
    val ms = MemoryStream[(Long, Seq[Double])]
    val out = java.nio.file.Files.createTempDirectory("semc-out").toString
    val ck = java.nio.file.Files.createTempDirectory("semc-ck").toString
    val q = StreamOps.semanticDedupSink(
      ms.toDF().toDF("vec_id", "embedding"), index, out, ck,
      "vec_id", "embedding", crossBatch = true)
    val fresh1 = vec(); val fresh2 = vec(); val fresh3 = vec()
    val c0 = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    try {
      ms.addData(200L -> fresh1, 201L -> fresh2)
      q.processAllAvailable()
      // 301 is a copy of a stored vector: landed shards hold 300 only
      ms.addData(300L -> fresh3, 301L -> c0(5L))
      q.processAllAvailable()
    } finally q.stop()
    val outIdx = java.nio.file.Files.createTempDirectory("semc-idx2").toString
    val compacted = StreamOps.compactSemanticStore(spark, idxDir, out, outIdx,
      "vec_id", "embedding")
    // == a fresh buildSemanticIndex over kept ∪ landed keepers, exactly
    val union = index.kept.select(col("vec_id"), col("embedding"))
      .unionByName(spark.read.option("basePath", out).parquet(out)
        .select(col("vec_id"), col("embedding")))
    val fresh = SimilaritySearch.buildSemanticIndex(union, "vec_id", "embedding")
    assert(compacted.builtN == fresh.builtN)
    assert(compacted.codebook.leaves.toSet == fresh.codebook.leaves.toSet)
    def keptSet(i: SimilaritySearch.SemanticIndex) = i.kept
      .select(col("vec_id"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keptSet(compacted) == keptSet(fresh))
    // verdict parity on a held-out increment: a twin of a landed keeper
    // (droppable ONLY if the compaction folded the shards in) + novel
    val inc = Seq(500L -> fresh3, 501L -> vec()).toDF("vec_id", "embedding")
    def verdicts(i: SimilaritySearch.SemanticIndex) = SimilaritySearch
      .semanticDedupAgainstIndex(inc, "vec_id", "embedding", i)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(verdicts(compacted) == verdicts(fresh))
    assert(verdicts(compacted) == Set(500L -> true, 501L -> false))
    // the restart contract: fresh outDir + checkpoint on the compacted
    // index — a re-sent copy of a previously landed keeper is dropped
    // against the compacted kept set even with an EMPTY new store
    val ms2 = MemoryStream[(Long, Seq[Double])]
    val out2 = java.nio.file.Files.createTempDirectory("semc-out2").toString
    val ck2 = java.nio.file.Files.createTempDirectory("semc-ck2").toString
    val q2 = StreamOps.semanticDedupSink(
      ms2.toDF().toDF("vec_id", "embedding"), compacted, out2, ck2,
      "vec_id", "embedding", crossBatch = true)
    try {
      ms2.addData(600L -> fresh1, 601L -> vec())
      q2.processAllAvailable()
      val kept = spark.read.parquet(s"$out2/batch=0")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(601L), kept.toString)
    } finally q2.stop()
    Seq(idxDir, out, ck, outIdx, out2, ck2).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }
}
