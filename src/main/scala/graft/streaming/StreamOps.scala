package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface: the same event-table shapes the batch
  * `events_window` query computes, expressed incrementally. Everything
  * here works identically on a bounded MemoryStream (tests) and an
  * unbounded source (Kafka/file at cluster scale): state is bounded by
  * the watermark, keys partition across executors, and output is
  * append-mode so downstream sinks see only finalized windows.
  */
object StreamOps {

  case class Event(eventId: Long, ts: Timestamp, userId: Long, eventType: String, value: Double)
  case class SessionOut(userId: Long, nEvents: Long, totalValue: Double, start: Timestamp, end: Timestamp)
  case class SessionState(n: Long, total: Double, start: Long, last: Long)

  /** Tumbling-window count/sum per event type with a watermark: late
    * events beyond `watermark` are dropped and the window state is
    * reclaimed — the property that keeps state bounded on an unbounded
    * stream. Mirrors the batch `events_window` query. */
  def windowedCounts(events: DataFrame, windowLen: String = "10 minutes",
                     watermark: String = "20 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Hopping (sliding) window count/sum: `windowLen` windows every
    * `slide`, so each event feeds windowLen/slide overlapping windows.
    * Same bounded-state/append-mode contract as windowedCounts — the
    * expansion happens before the keyed aggregation, and the watermark
    * reclaims each window the moment it finalizes. Mirrors the batch
    * `events_hopping` query (the parity StreamingSpec pins). */
  def slidingCounts(events: DataFrame, windowLen: String = "30 minutes",
                    slide: String = "10 minutes",
                    watermark: String = "20 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide).as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("n"), col("sum_value"))

  /** Per-user sessionization with a gap timeout via mapGroupsWithState:
    * the custom-state escape hatch for semantics windows can't express.
    * A session closes when no event arrives within `gapMs` (EVENT time)
    * of the last one: the state's timeout is pinned to last+gap and
    * fires when the watermark passes it — deterministic under replay,
    * unlike a processing-time timeout (which also forces the engine
    * into continuous empty micro-batches just to poll the clock).
    * State per key is O(1) — counters and timestamps.
    *
    * `events` must carry a watermark on `ts` (sessionizeStream applies
    * one). */
  def sessionize(events: Dataset[Event], gapMs: Long)
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .groupByKey(_.userId)
      .mapGroupsWithState[SessionState, SessionOut](GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(userId, s.n, s.total, new Timestamp(s.start), new Timestamp(s.last))
          } else {
            val evs = batch.toSeq
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MaxValue, Long.MinValue))
            val next = evs.foldLeft(prev) { (s, e) =>
              SessionState(s.n + 1, s.total + e.value,
                math.min(s.start, e.ts.getTime), math.max(s.last, e.ts.getTime))
            }
            state.update(next)
            state.setTimeoutTimestamp(next.last + gapMs)
            // not final until the watermark passes last+gap; emit a snapshot
            SessionOut(userId, next.n, next.total, new Timestamp(next.start), new Timestamp(next.last))
          }
      }
  }

  /** Watermarked entry point for sessionize on a raw event frame. */
  def sessionizeStream(events: DataFrame, gapMs: Long, watermark: String = "30 minutes")
                      (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    sessionize(
      events.withWatermark("ts", watermark)
        .select(col("event_id").as("eventId"), col("ts"),
          col("user_id").as("userId"), col("event_type").as("eventType"), col("value"))
        .as[Event],
      gapMs)
  }

  /** Streaming exact-dedup on a content fingerprint — the ingestion
    * face of Dedup.exactDupGroups: only the FIRST arrival of each
    * fingerprint passes through. `dropDuplicatesWithinWatermark` keys
    * the dedup state on the fingerprint alone but still expires it once
    * the watermark has passed each row's event time — bounded state on
    * an unbounded stream, which plain dropDuplicates(fp) (state grows
    * forever) and dropDuplicates(fp, ts) (same text at a new ts is "not
    * a duplicate") both get wrong. */
  def dedupStream(events: DataFrame, fingerprintCol: String,
                  watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(fingerprintCol)

  /** Sessionization that emits ONLY closed sessions, via
    * flatMapGroupsWithState (append mode): nothing is emitted while a
    * session is open; when the watermark passes last-event + gap the
    * timeout fires and the finalized session is emitted exactly once.
    * This is the sink-friendly variant of `sessionize` (whose update-
    * mode snapshots require a sink that tolerates overwrites). */
  def sessionizeClosed(events: Dataset[Event], gapMs: Long)
                      (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.n, s.total, new Timestamp(s.start), new Timestamp(s.last)))
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MaxValue, Long.MinValue))
            val next = batch.foldLeft(prev) { (s, e) =>
              SessionState(s.n + 1, s.total + e.value,
                math.min(s.start, e.ts.getTime), math.max(s.last, e.ts.getTime))
            }
            state.update(next)
            state.setTimeoutTimestamp(next.last + gapMs)
            Iterator.empty
          }
      }
  }

  /** Stream-static enrichment join: each micro-batch of the stream is
    * joined against a STATIC dimension table — stateless (no watermark
    * needed; nothing is buffered across batches), and with `broadcast`
    * the stream partitions are never shuffled. The standard shape for
    * attaching user/content metadata to an event stream at ingest. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-STREAM join: match each `typeA` event with the `typeB`
    * events of the same user arriving within `gap` AFTER it (funnel /
    * attribution shape: view -> purchase). Both sides carry watermarks
    * and the join condition is an event-time RANGE — exactly what lets
    * the engine expire buffered rows once the watermark passes
    * `a_ts + gap`; an equi-join without the time bound would have to
    * buffer both streams forever. Append-mode output: a match is
    * emitted once, when it becomes final. */
  def matchPairsStream(events: DataFrame, typeA: String, typeB: String,
                       gap: String = "30 minutes",
                       watermark: String = "30 minutes"): DataFrame = {
    val a = events.filter(col("event_type") === typeA)
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
    val b = events.filter(col("event_type") === typeB)
      .withWatermark("ts", watermark)
      .select(col("user_id").as("b_user"), col("event_id").as("b_id"), col("ts").as("b_ts"))
    a.join(b,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $gap"))
      .select(col("user_id"), col("a_id"), col("a_ts"), col("b_id"), col("b_ts"))
  }

  /** LEFT OUTER variant of `matchPairsStream`: every `typeA` event is
    * emitted exactly once — joined to its in-window `typeB` matches, or
    * with null match columns once the watermark proves no match can
    * still arrive (b_ts <= a_ts + gap has expired). The funnel-dropoff
    * shape: "views that never converted" needs the NON-match emitted,
    * which an inner interval join structurally cannot do. Same bounded
    * state as the inner variant — the outer row materializes at state
    * expiry, so it costs nothing extra to buffer. */
  def matchPairsStreamOuter(events: DataFrame, typeA: String, typeB: String,
                            gap: String = "30 minutes",
                            watermark: String = "30 minutes"): DataFrame = {
    val a = events.filter(col("event_type") === typeA)
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
    val b = events.filter(col("event_type") === typeB)
      .withWatermark("ts", watermark)
      .select(col("user_id").as("b_user"), col("event_id").as("b_id"), col("ts").as("b_ts"))
    a.join(b,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $gap"),
      "left_outer")
      .select(col("user_id"), col("a_id"), col("a_ts"), col("b_id"), col("b_ts"))
  }

  /** Wire a streaming frame to an in-memory sink (tests / debugging):
    * returns the query; results land in table `name`. */
  def toMemorySink(df: DataFrame, name: String,
                   mode: OutputMode = OutputMode.Append()) =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()

  /** Streaming CDC upsert sink: maintain a keyed state table under
    * `stateDir` from an (upsert|delete) change stream, via foreachBatch
    * + `Warehouse.applyChangeLog`.
    *
    * Each micro-batch writes a full state SNAPSHOT to
    * `stateDir/v<batchId>`: merge(latest snapshot with id < batchId,
    * batch changes), folded latest-wins per key with tombstone removal.
    * Exactly-once by IDEMPOTENCE, the foreachBatch contract: a replayed
    * batch re-reads the same prior snapshot (versions are keyed by
    * batchId, so a crash between write and commit cannot make the
    * replay observe its own output) and deterministically rewrites the
    * same v<batchId>. Snapshots older than the previous one are
    * garbage-collected after each successful write.
    *
    * State rows keep their seq/op columns, so merges across batches
    * compare event time, not arrival time — a late upsert older than
    * the state's current row loses, exactly as in the batch fold.
    *
    * This is snapshot-based materialization: each batch rewrites the
    * full state. The right trade up to state ~ a few GB per executor
    * partition; beyond that the known upgrade is a log-structured table
    * format (Delta/Iceberg/Hudi) doing the same merge incrementally —
    * same applyChangeLog semantics, different storage. */
  def upsertSink(changes: DataFrame, stateDir: String, checkpointDir: String,
                 keyCol: String, seqCols: Seq[String], opCol: String) = {
    val dir = new java.io.File(stateDir)
    def versions: Seq[(Long, java.io.File)] =
      Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(f => (f.getName.drop(1).toLong, f))
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prior = versions.filter(_._1 < batchId).sortBy(-_._1).headOption
        val base = prior match {
          case Some((_, f)) => spark.read.parquet(f.getPath)
          case None         => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        }
        val merged = graft.operators.Warehouse.applyChangeLog(
          base.unionByName(batch), col(keyCol), seqCols.map(col), col(opCol))
        merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
        // keep the new snapshot and its predecessor (replay safety);
        // everything older is unreachable
        for ((v, f) <- versions if v < prior.map(_._1).getOrElse(-1L)) {
          import java.nio.file.{Files, Path}
          import scala.jdk.CollectionConverters._
          Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
            .iterator().asScala.foreach(Files.delete)
        }
      }
      .start()
  }

  /** Live incremental profiling: each micro-batch lands its per-key
    * HLL sketch partials (graft.operators.SketchProfile) as one
    * append-only parquet shard keyed by batchId. A snapshot of "NDV
    * per key over everything seen so far" — or over any batch slice —
    * is then `SketchProfile.merge` over the tiny sketch rows, never a
    * rescan of the stream's history. Idempotent by construction:
    * re-processed batches overwrite their own batchId directory, so a
    * restart replays into the same shard instead of double-counting.
    * The write is per-batch partitioned parquet, not the streaming
    * file sink, because the unit of replay here IS the batch. */
  def sketchPartialSink(events: DataFrame, outDir: String,
                        checkpointDir: String, keyCols: Seq[String],
                        cols: Seq[String]) =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.SketchProfile
          .partials(batch, lit(batchId), keyCols, cols)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** Quantile companion of [[sketchPartialSink]]: per-micro-batch KLL
    * quantile sketch partials (operators.SketchProfile.quantilePartials)
    * land as batchId-keyed parquet shards; any later percentile
    * question over any batch slice is `SketchProfile.mergeQuantiles`
    * over ~3 KB sketch rows — never a rescan of stream history. Same
    * idempotence contract: a replayed batch overwrites its own shard. */
  def quantilePartialSink(events: DataFrame, outDir: String,
                          checkpointDir: String, keyCols: Seq[String],
                          cols: Seq[String]) =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.SketchProfile
          .quantilePartials(batch, lit(batchId), keyCols, cols)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** Heavy-hitter companion of [[sketchPartialSink]]: per-micro-batch
    * frequent-items sketch partials (operators.SketchProfile
    * .freqPartials) land as batchId-keyed parquet shards. Any later
    * "how often has value X occurred, per key, over any batch slice"
    * is a merge over fixed-size sketch rows with a HARD |est - true|
    * <= maxError guarantee — never a rescan of stream history. Same
    * idempotence contract: a replayed batch overwrites its own shard. */
  def freqPartialSink(events: DataFrame, outDir: String,
                      checkpointDir: String, keyCols: Seq[String],
                      cols: Seq[String]) =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.SketchProfile
          .freqPartials(batch, lit(batchId), keyCols, cols)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** Count estimate + hard bound for `item` per key over every batch
    * `freqPartialSink` has landed so far. */
  def readFreqProfile(spark: SparkSession, outDir: String,
                      keyCols: Seq[String], cols: Seq[String],
                      item: String): DataFrame =
    graft.operators.SketchProfile.mergeFreq(
      spark.read.parquet(outDir), keyCols, cols, item)

  /** Quantile estimates at `qs` per key over every batch
    * `quantilePartialSink` has landed so far. */
  def readQuantileProfile(spark: SparkSession, outDir: String,
                          keyCols: Seq[String], cols: Seq[String],
                          qs: Seq[Double]): DataFrame =
    graft.operators.SketchProfile.mergeQuantiles(
      spark.read.parquet(outDir), keyCols, cols, qs)

  /** Live ingest dedup: every micro-batch of incoming documents is
    * MinHash-LSH matched AGAINST THE STATIC CORPUS (cost scales with
    * the increment, never corpus x corpus — the batch
    * `Dedup.nearDupsAgainstCorpus` contract) and the near-dup pairs
    * land as a batchId-keyed parquet shard. foreachBatch rather than a
    * streaming join because the candidate stage needs batch-only
    * operators (repartition, distinct) and per-batch batch semantics
    * ARE the meaning here: each increment is deduped as a unit,
    * idempotently (a replayed batch overwrites its own shard). The
    * downstream filter "drop new docs matching the corpus" is an
    * anti-join of the increment against its shard. */
  def nearDupSink(newDocs: DataFrame, corpus: DataFrame, outDir: String,
                  checkpointDir: String, idCol: String, textCol: String,
                  threshold: Double = 0.5) =
    newDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .nearDupsAgainstCorpus(batch, corpus, idCol, textCol,
            threshold = threshold)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** Streaming CURATION sink — the arriving-corpus face of the batch
    * `curation_keep` contract: each micro-batch of documents is
    * quality-gated (token count >= minTokens, stopword density <=
    * maxStopRatio) and near-dup-filtered against BOTH the static
    * corpus and the batch itself (drop the higher id of an intra-batch
    * pair — the curation_keep rule), and the KEPT documents land as a
    * batchId-keyed parquet shard, idempotently (a replayed batch
    * overwrites its own shard). foreachBatch for the same reason as
    * [[nearDupSink]]: the candidate stage needs batch-only operators,
    * and per-batch semantics ARE the meaning — each increment is
    * curated as a unit against everything already accepted.
    * StreamingSpec pins kept-set equality with the batch operators run
    * by hand on the same increments. */
  def curationSink(newDocs: DataFrame, corpus: DataFrame, outDir: String,
                   checkpointDir: String, idCol: String, textCol: String,
                   threshold: Double = 0.5, minTokens: Int = 20,
                   maxStopRatio: Double = 0.5) =
    newDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.functions.TextFunctions
        val t = TextFunctions.tokens(col(textCol))
        val quality = batch
          .withColumn("n_tokens", size(t))
          .withColumn("stop_ratio",
            round(TextFunctions.wordHits(t, TextFunctions.Stopwords)
              .cast("double") / size(t), 6))
          .filter(col("n_tokens") >= minTokens && col("stop_ratio") <= maxStopRatio)
          .drop("n_tokens", "stop_ratio")
        val vsCorpus = quality.join(
          graft.operators.Dedup.nearDupsAgainstCorpus(quality, corpus,
              idCol, textCol, threshold = threshold)
            .select(col("new_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
        val kept = vsCorpus.join(
          graft.operators.Dedup.nearDupPairsExact(vsCorpus, idCol, textCol,
              threshold = threshold,
              maxDocFreq = graft.operators.Dedup.HotShingleCutoff)
            .select(col("j").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
        kept.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** Everything the curation sink has accepted so far. */
  def readCurated(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)

  /** Streaming ingest-anomaly monitor — the operational face of the
    * batch `ingest_anomaly` query: watermarked hourly counts per
    * event_type finalize in append mode and land as batchId-keyed
    * parquet shards; each batch then re-scores the WHOLE accumulated
    * count frame with [[graft.operators.Quality.volumeAnomalies]] and
    * overwrites the flags table. Recompute-per-batch is the right call
    * because the stats frame is calendar-bounded (hours × types), not
    * corpus-bounded — the per-EVENT aggregation is the incremental,
    * watermark-finalized part, and it never replays. Verdicts are
    * identical to the batch query by construction (same scorer, same
    * finalized counts); idempotent under replay (a replayed batch
    * overwrites its own count shard, and the flags table is a pure
    * function of the accumulated counts). */
  def anomalySink(events: DataFrame, outDir: String, checkpointDir: String,
                  watermark: String = "2 hours") =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("w.start").as("h"), col("n"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/counts/batch=$batchId")
        val spark = batch.sparkSession
        graft.operators.Quality
          .volumeAnomalies(spark.read.parquet(s"$outDir/counts"))
          .write.mode("overwrite").parquet(s"$outDir/flags")
      }
      .start()

  /** Latest anomaly verdicts the sink has materialized. */
  def readAnomalies(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/flags")

  /** Streaming semantic dedup — the operational face of
    * [[graft.operators.SimilaritySearch.semanticDedupAgainstIndex]]:
    * each micro-batch of embedding rows is verdicted against the
    * FROZEN index (stored centroids assign, stored kept vectors catch
    * duplicates, intra-batch pairs drop the higher id) and the KEPT
    * rows land as a batchId-keyed parquet shard, idempotently (a
    * replayed batch overwrites its own shard). The curationSink
    * discipline for embeddings: the index is built once from the
    * static corpus and never retrained mid-stream.
    *
    * Batching contract, precisely: STORE-vs-row verdicts are
    * batching-invariant (the frozen index never changes), and so is
    * the drop-higher-id rule WITHIN one micro-batch — but by default a
    * near-dup pair among NEW rows that lands in two different
    * micro-batches is kept TWICE, because the comparison set never
    * grows with prior batches' keepers (StreamingSpec's batch-1 case
    * demonstrates exactly this). Kept-set parity with the batch
    * operator therefore holds per micro-batch, not across the whole
    * stream.
    *
    * `crossBatch = true` closes that leak: each batch's comparison set
    * is the frozen store UNION every PRIOR batch's landed keepers
    * (cluster assignment stays frozen — only the kept set grows, so
    * the cost per batch is still the cluster-keyed join against
    * what's landed). The current batch's own shard is excluded from
    * the comparison so a checkpoint REPLAY stays idempotent (a
    * replayed batch must not drop its rows against their own previous
    * landing). The codebook itself still never retrains — the
    * staleness warning below is the signal to do that.
    *
    * RETRAIN CADENCE: the frozen codebook was sized for the corpus it
    * trained on (index.builtN vectors — the auto-nlist derivation in
    * buildSemanticIndex). As streamed rows accumulate, per-cluster
    * populations grow and per-batch pair work degrades ∝ what has
    * landed — silently, because verdicts stay VALID, just slower and
    * coarser. The sink therefore counts what it lands and logs a loud
    * staleness warning once cumulative new rows exceed builtN (the
    * corpus has doubled): run [[compactSemanticStore]] — one operator
    * that rebuilds the index from store + landed shards through the
    * AUTO front door — and restart the sink on the fresh index. */
  /** True iff `dir` already holds at least one `batch=*` shard —
    * checked through the Hadoop FileSystem API (NOT java.io.File) so
    * prior-shard detection works on HDFS/S3 exactly as it does
    * locally; a local-only check would silently skip the cross-batch
    * comparison (and the frontier anti-join) on any remote store. */
  private def hasBatchShards(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // a batch=* DIRECTORY is not enough: a micro-batch that dropped
    // EVERY row still creates its shard directory (dynamic-partition
    // writes emit no data files for an empty frame, just the dir +
    // _SUCCESS), and a parquet read over data-file-less shards throws
    // UNABLE_TO_INFER_SCHEMA — measured live by CompactScale's restart
    // phase (first batch = 20k re-sent twins, all correctly dropped,
    // sink then crashed on its own staleness count). Require an actual
    // data file inside some shard before anything reads the store.
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch=") &&
        hasDataFile(fs, st.getPath))
  }

  /** True iff a non-empty `part-*` data file exists under `p`
    * (recursive — bucketed shards nest one cluster_grp=* level). */
  private def hasDataFile(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Boolean =
    fs.listStatus(p).exists { st =>
      if (st.isDirectory) hasDataFile(fs, st.getPath)
      else st.getPath.getName.startsWith("part-") && st.getLen > 0
    }

  def semanticDedupSink(newVecs: DataFrame,
                        index: graft.operators.SimilaritySearch.SemanticIndex,
                        outDir: String, checkpointDir: String,
                        idCol: String, vecCol: String,
                        threshold: Double = 0.99,
                        crossBatch: Boolean = false) = {
    import graft.operators.SimilaritySearch
    // once-per-run latch only; the landed COUNT is derived from the
    // store itself each batch (below), never from driver memory
    val warned = new java.util.concurrent.atomic.AtomicBoolean(false)
    // A kept store whose plan is a COMPUTATION (an in-memory
    // buildSemanticIndex result: Lloyd assignment + pair joins) would
    // RE-EXECUTE that whole build under every micro-batch's comparison
    // join — persist it once for the sink's lifetime (it is the
    // sink's standing comparison set; MEMORY_AND_DISK spills, never
    // recomputes). A parquet-backed store (readSemanticIndex) stays a
    // lazy scan: per-batch re-reading IS the plan there, because the
    // scan partition-prunes to the batch's cluster groups.
    val keptIsScan = index.kept.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty
    val keptStable =
      if (keptIsScan) index.kept
      else index.kept.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both union sides carry the bucketing column, so the group filter
    // semanticDedupAgainstIndex applies pushes through the union into
    // every scan (partition-pruning the parquet sides)
    val keptCols = Seq(col(idCol), col("cluster_id"), col(vecCol), col("cluster_grp"))
    // every group computation in this sink uses the INDEX's own layout
    // count (store meta), so shards, prunes and the store agree even
    // when the size-derived count is not the 64 default
    val keptG =
      (if (keptStable.columns.contains("cluster_grp")) keptStable
       else keptStable.withColumn("cluster_grp",
         SimilaritySearch.clusterGroup(col("cluster_id"), index.groups)))
        .select(keptCols: _*)
    // Layout detection, ONCE at sink construction: shards landed by a
    // pre-bucketing sink carry no cluster_grp partition column, and a
    // MIXED dir (old flat shards + new cluster_grp=* shards) breaks
    // parquet partition discovery for every later read — including the
    // staleness count. So a sink restarted over an old store keeps
    // WRITING the old flat layout (group values are computed on read
    // instead — correct, just not partition-pruned), and the dir stays
    // uniform for its lifetime. Fresh dirs get the bucketed layout.
    val sparkOuter = newVecs.sparkSession
    val oldLayoutStore = hasBatchShards(sparkOuter, outDir) &&
      !sparkOuter.read.option("basePath", outDir).parquet(outDir)
        .columns.contains("cluster_grp")
    newVecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hasPrior = hasBatchShards(spark, outDir)
        val cmpKept =
          if (!crossBatch || !hasPrior) keptG
          else {
            // prior keepers join the comparison set; the current
            // batch's own shard is excluded so a replay is idempotent.
            // On an old-layout store the group is computed, mirroring
            // the keptG fallback (the dir stays uniformly flat — see
            // oldLayoutStore above — so this branch is stable across
            // the sink's whole lifetime, not just its first batch).
            val priorRaw = spark.read.option("basePath", outDir)
              .parquet(outDir).filter(col("batch") =!= batchId)
            val prior =
              (if (priorRaw.columns.contains("cluster_grp")) priorRaw
               else priorRaw.withColumn("cluster_grp",
                 SimilaritySearch.clusterGroup(col("cluster_id"), index.groups)))
                .select(keptCols: _*)
            keptG.unionByName(prior)
          }
        val verdicts = SimilaritySearch.semanticDedupAgainstIndex(
          batch, idCol, vecCol, index.copy(kept = cmpKept), threshold)
        val keepers = batch.join(verdicts.filter(!col("is_dropped"))
          .select(col(idCol), col("cluster_id")), Seq(idCol))
        if (oldLayoutStore)
          // keep the pre-bucketing store uniform: flat shards, no
          // partition column (compactSemanticStore upgrades the layout)
          keepers.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        else
          // shards share the store's bucketed layout: the next batch's
          // group filter partition-prunes landed keepers too
          keepers
            .withColumn("cluster_grp",
              SimilaritySearch.clusterGroup(col("cluster_id"), index.groups))
            .write.partitionBy("cluster_grp")
            .mode("overwrite").parquet(s"$outDir/batch=$batchId")
        // Staleness is measured against the STORE, not a driver
        // counter: an in-memory total resets on sink restart and
        // double-counts replayed batches, so the "corpus has doubled"
        // warning would fire spuriously after a checkpoint replay or
        // never after a restart. Counting the landed shards is a
        // footer-level parquet count (zero columns read) and is exact
        // under replay because a replayed batch OVERWRITES its shard.
        // gated: after an all-dropped batch the store may hold shard
        // dirs with NO data files, and an ungated read throws (the
        // CompactScale restart finding — see hasBatchShards)
        val total =
          if (!hasBatchShards(spark, outDir)) 0L
          else spark.read.option("basePath", outDir)
            .parquet(outDir).count()
        if (index.builtN > 0 && total > index.builtN &&
            warned.compareAndSet(false, true))
          System.err.println(s"[graft-stream] semanticDedupSink: $total rows " +
            s"landed past an index built at ${index.builtN} — the corpus has " +
            "doubled; run compactSemanticStore (index + landed shards -> fresh " +
            "index) and restart the sink on it (codebook is stale, per-cluster " +
            "pair work is growing)")
      }
      .start() match {
        case q =>
          // the sink-lifetime persist above would otherwise outlive the
          // query: stopping the stream left the cached kept store
          // pinned for the app lifetime (and re-constructed sinks over
          // in-memory indexes accumulated cached copies)
          if (!keptIsScan) {
            val spark = newVecs.sparkSession
            val qid = q.id
            spark.streams.addListener(
              new org.apache.spark.sql.streaming.StreamingQueryListener {
                import org.apache.spark.sql.streaming.StreamingQueryListener._
                override def onQueryStarted(e: QueryStartedEvent): Unit = ()
                override def onQueryProgress(e: QueryProgressEvent): Unit = ()
                override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
                  if (e.id == qid) {
                    keptStable.unpersist()
                    spark.streams.removeListener(this)
                  }
              })
          }
          q
      }
  }

  /** Semantic-store lifecycle: the REBUILD the staleness warning above
    * prescribes, packaged — the [[compactFrontierStore]] /
    * [[graft.operators.Dedup.compactSignatureStore]] discipline
    * applied to the third store. Unions the frozen index's kept
    * vectors with every `batch=*` shard the sink landed under
    * `storeDir`, re-derives the codebook through
    * [[graft.operators.SimilaritySearch.buildSemanticIndex]]'s AUTO
    * front door (two-level when the grown corpus wants it) and
    * re-drops near-dups under the NEW codebook — pairs that the stale
    * codebook kept apart can now co-cluster and collapse, which is
    * exactly what a retrain is FOR — then writes the fresh index at
    * `outIndexDir` (kept partitioned by cluster group,
    * [[graft.operators.SimilaritySearch.SemanticStoreGroups]] files —
    * the group count is the file-granularity knob at scale) and
    * returns it READ BACK from disk, so `kept` is the
    * partition-prunable parquet layout.
    *
    * Restart the sink on the returned index with a FRESH `outDir` and
    * checkpoint: every previously landed keeper that survived the
    * retrain is now IN the index, so the new store starts empty and a
    * re-sent duplicate is dropped against the compacted kept set
    * (StreamingSpec pins this restart behavior, and that the compacted
    * index equals a fresh buildSemanticIndex over the union). */
  def compactSemanticStore(spark: SparkSession, indexDir: String,
                           storeDir: String, outIndexDir: String,
                           idCol: String, vecCol: String,
                           threshold: Double = 0.99)
      : graft.operators.SimilaritySearch.SemanticIndex = {
    import graft.operators.SimilaritySearch
    val old = SimilaritySearch.readSemanticIndex(spark, indexDir)
    val base = old.kept.select(col(idCol), col(vecCol))
    val corpus =
      if (!hasBatchShards(spark, storeDir)) base
      else base.unionByName(
        spark.read.option("basePath", storeDir).parquet(storeDir)
          .select(col(idCol), col(vecCol)))
    val fresh = SimilaritySearch.buildSemanticIndex(corpus, idCol, vecCol,
      threshold = threshold)
    SimilaritySearch.writeSemanticIndex(fresh, outIndexDir)
    SimilaritySearch.readSemanticIndex(spark, outIndexDir)
  }

  /** Streaming retrieval sink — the online face of
    * [[graft.operators.SimilaritySearch.topKCosineIvf]]: each
    * micro-batch of probe vectors is ANN-searched against the STATIC
    * corpus (probes broadcast, corpus scanned once per batch, never
    * shuffled — cost scales with the batch) and the per-probe top-k
    * lands as a batchId-keyed parquet shard, idempotently (a replayed
    * batch overwrites its own shard). foreachBatch for the
    * [[nearDupSink]] reason: the search needs batch-only operators and
    * per-batch semantics ARE the meaning. The IVF index — the flat
    * (1, 16) shape searched at nprobe 4 — is rebuilt per batch here; a production deployment freezes the codebook and coded
    * corpus once (the ann_ivf_pq store shape) and only the probe side
    * streams. StreamingSpec pins shard parity with the batch operator
    * run on the same probes. */
  /** Streaming crawl-frontier sink — the arriving-crawl face of the
    * batch `crawl_frontier` chain's url stages: each micro-batch of
    * (id, url) rows is canonicalized
    * ([[graft.functions.UrlFunctions.canonicalizeUrl]]), deduped
    * within the batch (keep the MIN id per canonical key — one keyed
    * aggregate, no window), then anti-joined against every canonical
    * key already ACCEPTED (the store = batchId-keyed parquet shards,
    * the dedup_signature_store discipline: restart-safe, compactable,
    * and per-batch cost scales with increment × store lookup, never
    * frontier²). Accepted (id, canonical_url) rows land as the batch's
    * own shard, idempotently — a replay recomputes identically because
    * the store read EXCLUDES the replaying batch's shard. Kept-set
    * semantics are keep-FIRST in ARRIVAL order with min-id as the
    * intra-batch tiebreak; they intentionally depend on batch order
    * (a frontier accepts the url it crawls first), unlike the
    * batch query's global min-id rule. */
  def frontierSink(newPages: DataFrame, storeDir: String,
                   checkpointDir: String, idCol: String, urlCol: String) =
    newPages.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val firstPer = batch
          .withColumn("canonical_url",
            graft.functions.UrlFunctions.canonicalizeUrl(col(urlCol)))
          .groupBy(col("canonical_url"))
          .agg(min(col(idCol)).as(idCol))
        val hasPrior = hasBatchShards(spark, storeDir)
        val accepted =
          if (!hasPrior) firstPer
          else firstPer.join(
            spark.read.option("basePath", storeDir).parquet(storeDir)
              .filter(col("batch") =!= batchId)
              .select(col("canonical_url")),
            Seq("canonical_url"), "left_anti")
        accepted.select(col(idCol), col("canonical_url"))
          .write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
      }
      .start()

  /** Every (id, canonical_url, batch) the frontier has accepted. */
  def readFrontier(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("basePath", storeDir).parquet(storeDir)

  /** Frontier-store lifecycle: COMPACTION + GC (the
    * [[graft.operators.Dedup.compactSignatureStore]] discipline). The
    * sink appends one shard per micro-batch, so a long-running
    * frontier shatters into thousands of small files and every
    * per-batch anti-join pays the listing. This rewrites the store to
    * one size-targeted base shard under `batch=-1`:
    *   - keys keep-first by (batch, id) — the sink's own acceptance
    *     order — with a defensive whole-row distinct, so the surviving
    *     (id, canonical_url) set is exactly the accepted set;
    *   - optional `liveKeys` GC: canonical keys absent from it are
    *     dropped, RE-OPENING those urls for crawl — the eviction
    *     semantics a frontier wants (blocklisted domains, expired
    *     pages);
    *   - `batch=-1` because streaming batchIds are never negative: the
    *     sink's replay-exclusion filter can never exclude the
    *     compacted base, even for a FRESH checkpoint whose first batch
    *     is 0 (a base under batch=0 would be invisible to that batch
    *     and every previously accepted url would re-enter).
    * Compact offline (sink stopped), then point the restarted sink —
    * any checkpoint — at `outDir`. Returns (filesBefore, filesAfter).
    * StreamingSpec pins set equality, the post-compaction rejection of
    * previously accepted urls under a fresh checkpoint, and GC
    * re-opening. */
  def compactFrontierStore(spark: SparkSession, storeDir: String,
                           outDir: String,
                           liveKeys: Option[DataFrame] = None,
                           targetBytes: Long = 128L << 20): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(storeDir).getFileSystem(conf)
    def parquetFiles(dir: String): Int = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    def dirBytes(dir: String): Long = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var b = 0L
      while (it.hasNext) { val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getLen }
      b
    }
    val before = parquetFiles(storeDir)
    require(before > 0, s"compactFrontierStore: no parquet files under $storeDir")
    val nOut = math.max(1,
      math.ceil(dirBytes(storeDir).toDouble / targetBytes).toInt)
    val all = readFrontier(spark, storeDir)
    val idCol = all.columns.filterNot(Set("canonical_url", "batch")).head
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canonical_url")).orderBy(col("batch"), col(idCol))
    val kept = all.distinct()
      .withColumn("rc", row_number().over(w)).filter(col("rc") === 1)
      .select(col(idCol), col("canonical_url"))
    val live = liveKeys match {
      case Some(lk) => kept.join(lk.select(col("canonical_url")).distinct(),
        Seq("canonical_url"), "left_semi")
      case None => kept
    }
    live.repartition(nOut, col("canonical_url"))
      .write.mode("overwrite").parquet(s"$outDir/batch=-1")
    (before, parquetFiles(outDir))
  }

  def retrievalSink(probes: DataFrame, corpus: DataFrame, outDir: String,
                    checkpointDir: String, probeIdCol: String, idCol: String,
                    vecCol: String, k: Int = 3) =
    probes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.SimilaritySearch
          .topKCosineIvf(batch, probeIdCol, corpus, idCol, vecCol, k,
            coarseK = 1, subK = 16, nprobeCells = 1, nprobeLeaves = 4)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** NDV estimates per key over every batch `sketchPartialSink` has
    * landed so far. */
  def readSketchProfile(spark: SparkSession, outDir: String,
                        keyCols: Seq[String], cols: Seq[String]): DataFrame =
    graft.operators.SketchProfile.merge(
      spark.read.parquet(outDir), keyCols, cols)

  /** Latest materialized state written by `upsertSink`. */
  def readState(spark: SparkSession, stateDir: String): DataFrame = {
    val vs = Option(new java.io.File(stateDir).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .sortBy(-_.getName.drop(1).toLong)
    require(vs.nonEmpty, s"no state snapshots under $stateDir")
    spark.read.parquet(vs.head.getPath)
  }

  /** Wire a streaming frame to an exactly-once parquet file sink: the
    * production path (the file-sink commit log makes restarts replay
    * nothing and readers never see partial files). Append-mode only, by
    * Spark's file-sink contract. */
  def toFileSink(df: DataFrame, outDir: String, checkpointDir: String) =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()

  /** Trending top-k sink: per finalized window, the k event types with
    * the highest counts ("what spiked in the last 10 minutes") — the
    * cross-KEY ranking append-mode aggregation cannot express, done in
    * foreachBatch over finalized rows.
    *
    * Why ranking per batch is sound: append mode emits a window's rows
    * exactly when the watermark passes its end, so ALL of a window's
    * per-type rows surface in the SAME micro-batch — the rank window in
    * the batch always sees complete windows. Exactly-once by
    * idempotence: each batch writes (overwrite) its own b<batchId>
    * subdirectory, so a replayed batch rewrites the same files instead
    * of double-appending.
    *
    * State stays bounded exactly as windowedCounts' does; the rank work
    * per batch is over finalized aggregate rows (one per window×type),
    * orders of magnitude smaller than the event stream. */
  def trendingSink(events: DataFrame, outDir: String, checkpointDir: String,
                   k: Int = 3, windowLen: String = "10 minutes",
                   watermark: String = "20 minutes") = {
    val counts = windowedCounts(events, windowLen, watermark)
    counts.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w_start")).orderBy(col("n").desc, col("event_type"))
        batch.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .write.mode("overwrite").parquet(s"$outDir/b$batchId")
      }
      .start()
  }

  /** All trending rows written by `trendingSink`. */
  def readTrending(spark: SparkSession, outDir: String): DataFrame = {
    val dirs = Option(new java.io.File(outDir).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
      .map(_.getPath)
    require(dirs.nonEmpty, s"no trending batches under $outDir")
    spark.read.parquet(dirs: _*)
  }
}
