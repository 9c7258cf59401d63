package graft.tools

import graft.GraftSession
import graft.operators.SimilaritySearch
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Drive the STREAMING semantic-dedup sink at the auto two-level tier
  * — the round-13 verdict's #6 item: the sink inherits
  * buildSemanticIndex's front door, but the streaming path had no
  * volume measurement at the tier where the flat quantizer would
  * refuse (explicit pin) or grind past its row budget (auto dispatch
  * fires instead). FrontierScale is the model: measure per-batch cost,
  * then ASSERT the lifecycle contract as a hard require.
  *
  * Shape: a corpus of `nCorpus` vectors (>= ~1M makes the AutoNlist
  * front door dispatch TWO-LEVEL — the tool requires it did) frozen
  * into a SemanticIndex, then `batches` micro-batches of
  * `rowsPerBatch` increment vectors replayed through
  * [[StreamOps.semanticDedupSink]] with crossBatch = true. Increment
  * mix by id % 4: scaled twins of corpus vectors (must drop vs
  * STORE), two novel classes (must keep), and cross-batch twins of the
  * PREVIOUS batch's novel rows (must drop vs the landed keepers —
  * the crossBatch contract at volume).
  *
  * Contract asserted at volume: because increments arrive in id
  * order, the streamed crossBatch kept set must equal the one-shot
  * batch operator's kept set on the SAME frozen index
  * (semanticDedupAgainstIndex over all increments as one batch) —
  * exceptAll both ways, zero rows.
  *
  * Usage: runMain graft.tools.SemanticSinkScale <nCorpus> <rowsPerBatch> <batches> [narrow]
  * (e.g. 1000000 20000 10). `narrow` switches the increments to mild
  * perturbations of one base direction — the bursty near-topic traffic
  * shape whose cluster-group footprint is a handful of the store's 64
  * groups, so the group-pruned comparison read shows per-batch cost
  * tracking the FOOTPRINT, not the store size (run the same
  * rowsPerBatch with and without the flag and compare p50).
  */
object SemanticSinkScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: SemanticSinkScale <nCorpus> <rowsPerBatch> <batches> [narrow]")
    val (nCorpus, rowsPerBatch, batches) =
      (args(0).toLong, args(1).toInt, args(2).toInt)
    // narrow mode: every increment is a mild perturbation of ONE base
    // direction, so the whole batch lands in a handful of leaves — the
    // bursty near-topic traffic shape. This is the footprint-scaling
    // measurement: the group-pruned store read should make per-batch
    // cost track the batch's CLUSTER FOOTPRINT (~1/64 of the store),
    // not the store size, where the uniform mix (footprint = all 64
    // groups) pays the full pruned-scan floor.
    val narrow = args.length == 4 && args(3) == "narrow"
    require(narrow || rowsPerBatch % 4 == 0, "rowsPerBatch must be divisible " +
      "by 4 (the cross-batch pair seeds assume class alignment)")
    val dim = 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, None).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    // corpus: deterministic random directions (no internal near-dups)
    val corpus = spark.range(nCorpus).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), i -> " +
          "cast((xxhash64(id, i) % 1000000) / 500000.0 - 1.0 as float))")
          .as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[semsink-scale] corpus n=${corpus.count()} dim=$dim")

    val tmp0 = java.nio.file.Files.createTempDirectory("graft_semsink_idx").toString
    val t0 = System.nanoTime()
    val built = SimilaritySearch.buildSemanticIndex(corpus, "vec_id", "embedding")
    println(f"[semsink-scale] index built in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"(cells=${built.codebook.coarse.size}, builtN=${built.builtN}, " +
      s"leaves=${built.codebook.leafCount})")
    require(built.codebook.coarse.size > 1,
      s"AutoNlist did not dispatch two-level at $nCorpus vectors — " +
        "raise nCorpus past the FlatAssignRowBudget threshold (~1M)")
    // the PRODUCTION store shape: freeze to parquet and drive the sink
    // (and the one-shot parity arm) from the read-back index, so the
    // kept store is the group-partitioned layout the per-batch
    // comparison read partition-prunes — measuring the in-memory DAG
    // instead would re-execute the whole build per micro-batch
    val tw = System.nanoTime()
    SimilaritySearch.writeSemanticIndex(built, tmp0)
    val index = SimilaritySearch.readSemanticIndex(spark, tmp0)
    println(f"[semsink-scale] index frozen to parquet in " +
      f"${(System.nanoTime() - tw) / 1e9}%.1f s (group-partitioned kept)")

    // increment vector by id class:
    //   id%4==0 -> scaled twin of corpus vec (id div 4) % nCorpus  [drop vs store]
    //   id%4==1, 2 -> novel direction (salt 99)                    [keep]
    //   id%4==3 -> twin of the PREVIOUS batch's class-1 novel row  [drop vs landed]
    //              (batch 0 has no previous batch: novel, keep)
    def incVec(idExpr: String) =
      if (narrow)
        // base direction (salt 777, id-independent) + 0.3 × per-row
        // noise: pairwise cos concentrates near 0.92 — ~7σ below the
        // 0.99 threshold, so the batch is chain-free (every row keeps;
        // the stream/one-shot parity rule is exact without dedup
        // chains through dropped rows) — while every row still routes
        // into the base direction's few leaves
        expr(s"""transform(sequence(0, ${dim - 1}), i -> cast(
          ((xxhash64(777L, i) % 1000000) / 500000.0 - 1.0)
          + 0.3 * ((xxhash64($idExpr, i, 55L) % 1000000) / 500000.0 - 1.0)
          as float))""")
      else
        expr(s"""transform(sequence(0, ${dim - 1}), i -> cast(
        CASE WHEN $idExpr % 4 = 0
               THEN ((xxhash64(($idExpr div 4) % $nCorpus, i) % 1000000) / 500000.0 - 1.0) * 1.01
             WHEN $idExpr % 4 = 3 AND $idExpr >= $rowsPerBatch
               THEN ((xxhash64($idExpr - $rowsPerBatch - 2, i, 99L) % 1000000) / 500000.0 - 1.0) * 1.01
             ELSE (xxhash64($idExpr, i, 99L) % 1000000) / 500000.0 - 1.0
        END as float))""")
    def incBatch(b: Int): Seq[(Long, Seq[Float])] = {
      val base = b.toLong * rowsPerBatch
      spark.range(base, base + rowsPerBatch)
        .select(col("id"), incVec("id").as("v"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft_semsink_scale").toString
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.semanticDedupSink(ms.toDF().toDF("vec_id", "embedding"),
      index, s"$tmp/store", s"$tmp/ckpt", "vec_id", "embedding",
      threshold = 0.99, crossBatch = true)
    val batchSecs = new scala.collection.mutable.ArrayBuffer[Double]
    val t1 = System.nanoTime()
    (0 until batches).foreach { b =>
      ms.addData(incBatch(b))
      val tb = System.nanoTime()
      q.processAllAvailable()
      batchSecs += (System.nanoTime() - tb) / 1e9
    }
    q.stop()
    val streamSecs = (System.nanoTime() - t1) / 1e9
    val streamed = spark.read.option("basePath", s"$tmp/store")
      .parquet(s"$tmp/store")
      .select(col("vec_id"), col("cluster_id")).cache()
    val nKept = streamed.count()
    println(f"[semsink-scale] ${rowsPerBatch.toLong * batches} increments / " +
      f"$batches batches -> $nKept kept in $streamSecs%.1f s " +
      f"(batch p50=${batchSecs.sorted.apply(batches / 2)}%.2f s " +
      f"first=${batchSecs.head}%.2f s last=${batchSecs.last}%.2f s)")

    // the lifecycle contract: streamed crossBatch kept set == one-shot
    // batch operator kept set on the same frozen index (id-order
    // arrival makes keep-first == drop-higher-id)
    val allInc = spark.range(0, rowsPerBatch.toLong * batches)
      .select(col("id").as("vec_id"), incVec("id").as("embedding"))
    val t2 = System.nanoTime()
    val oneShot = SimilaritySearch
      .semanticDedupAgainstIndex(allInc, "vec_id", "embedding", index,
        threshold = 0.99)
      .filter(!col("is_dropped"))
      .select(col("vec_id"), col("cluster_id")).cache()
    val nOneShot = oneShot.count()
    println(f"[semsink-scale] one-shot batch arm: $nOneShot kept in " +
      f"${(System.nanoTime() - t2) / 1e9}%.1f s")
    val diff = streamed.exceptAll(oneShot).count() +
      oneShot.exceptAll(streamed).count()
    require(diff == 0,
      s"streamed store diverges from the one-shot batch dedup by $diff rows")
    println(s"[semsink-scale] store == batch dedup VERIFIED at $nKept rows")

    // verdict-class accounting (loud, human-checkable)
    val total = rowsPerBatch.toLong * batches
    if (narrow) {
      // chain-free by construction: every narrow row keeps, and the
      // point of the mode is the FOOTPRINT — how many of the store's
      // cluster groups the batches actually touched (the group-pruned
      // comparison read scales with this, not the store)
      require(nKept == total,
        s"narrow mode expected all $total rows kept, got $nKept — " +
          "the perturbation spread drifted into the dup threshold")
      val grps = SimilaritySearch
        .assignWithIndex(allInc, "vec_id", "embedding", index)
        .select(SimilaritySearch.clusterGroup(col("cluster_id")).as("g"))
        .distinct().count()
      println(s"[semsink-scale] narrow-mode cluster-group footprint: " +
        s"$grps of ${SimilaritySearch.SemanticStoreGroups} groups")
    } else {
      val expTwinDrops = total / 4          // class 0
      val expCrossDrops = (batches - 1).toLong * (rowsPerBatch / 4) // class 3, b>=1
      val expKept = total - expTwinDrops - expCrossDrops
      println(s"[semsink-scale] expected kept=$expKept " +
        s"(twin-drops=$expTwinDrops cross-batch-drops=$expCrossDrops) got=$nKept")
      require(nKept == expKept,
        s"kept count $nKept != expected $expKept — a verdict class leaked")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp0))
    GraftSession.stop(spark)
  }
}
