package graft.tools

import graft.GraftSession
import graft.operators.SimilaritySearch
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Measure [[StreamOps.compactSemanticStore]] at VOLUME — the round-15
  * verdict's #6 item: the spec pins compaction semantics at 48
  * vectors, but the operator's whole point is the 1M+ regime (union
  * the frozen index with the landed shards, retrain through the AUTO
  * front door, rewrite the group-partitioned store). SemanticSinkScale
  * is the model; this adds the compact + restart phases and reports
  * compaction wall time against the original index build.
  *
  * Phases (all timed, all asserted):
  *   1. build + freeze an index over `nCorpus` deterministic vectors
  *      (must dispatch two-level — the 1M+ tier);
  *   2. land `batches` x `rowsPerBatch` increments through the
  *      crossBatch [[StreamOps.semanticDedupSink]] (uniform mix: 1/4
  *      twins of corpus rows drop vs store, the rest novel keep);
  *   3. compact (old index ∪ landed shards → fresh AUTO-trained,
  *      group-partitioned store) — the measurement;
  *   4. parity: compacted kept set == a fresh
  *      [[SimilaritySearch.buildSemanticIndex]] over the same union
  *      corpus (exceptAll both ways, zero rows; builtN equal);
  *   5. restart a crossBatch sink on the compacted store and re-send
  *      scaled twins of previously-landed keepers — every one must
  *      drop against the compacted kept set (the clean-restart
  *      contract at volume).
  *
  * Usage: runMain graft.tools.CompactScale <nCorpus> <rowsPerBatch> <batches>
  * (e.g. 1000000 20000 10 — the SemanticSinkScale shape).
  */
object CompactScale {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("restart-check")) return restartCheck(args)
    require(args.length == 3,
      "usage: CompactScale <nCorpus> <rowsPerBatch> <batches> | " +
        "CompactScale restart-check <compactedIndexDir> <landedStoreDir> <nTwins>")
    val (nCorpus, rowsPerBatch, batches) =
      (args(0).toLong, args(1).toInt, args(2).toInt)
    require(rowsPerBatch % 4 == 0, "rowsPerBatch must be divisible by 4")
    val dim = 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, None).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarnings()
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    val corpus = spark.range(nCorpus).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), i -> " +
          "cast((xxhash64(id, i) % 1000000) / 500000.0 - 1.0 as float))")
          .as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[compact-scale] corpus n=${corpus.count()} dim=$dim")

    val idxDir = java.nio.file.Files.createTempDirectory("graft_compact_idx").toString
    val t0 = System.nanoTime()
    val built = SimilaritySearch.buildSemanticIndex(corpus, "vec_id", "embedding")
    SimilaritySearch.writeSemanticIndex(built, idxDir)
    val buildSecs = (System.nanoTime() - t0) / 1e9
    require(built.codebook.coarse.size > 1,
      s"AutoNlist did not dispatch two-level at $nCorpus vectors")
    val index = SimilaritySearch.readSemanticIndex(spark, idxDir)
    println(f"[compact-scale] index built+frozen in $buildSecs%.1f s " +
      s"(builtN=${built.builtN}, leaves=${built.codebook.leafCount}, " +
      s"groups=${index.groups})")

    // land increments: id%4==0 -> scaled twin of corpus row (drop vs
    // store), else novel (keep) — the SemanticSinkScale uniform mix
    // minus its cross-batch class (landing mass is what compaction
    // cares about, not chain shapes)
    def incVec(idExpr: String) =
      expr(s"""transform(sequence(0, ${dim - 1}), i -> cast(
        CASE WHEN $idExpr % 4 = 0
               THEN ((xxhash64(($idExpr div 4) % $nCorpus, i) % 1000000) / 500000.0 - 1.0) * 1.01
             ELSE (xxhash64($idExpr, i, 99L) % 1000000) / 500000.0 - 1.0
        END as float))""")
    def incBatch(b: Int): Seq[(Long, Seq[Float])] = {
      val base = nCorpus + b.toLong * rowsPerBatch
      spark.range(base, base + rowsPerBatch)
        .select(col("id"), incVec("id").as("v"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_store").toString
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.semanticDedupSink(ms.toDF().toDF("vec_id", "embedding"),
      index, s"$tmp/store", s"$tmp/ckpt", "vec_id", "embedding",
      threshold = 0.99, crossBatch = true)
    val t1 = System.nanoTime()
    (0 until batches).foreach { b => ms.addData(incBatch(b)); q.processAllAvailable() }
    q.stop()
    val landed = spark.read.option("basePath", s"$tmp/store").parquet(s"$tmp/store")
    val nLanded = landed.count()
    println(f"[compact-scale] ${rowsPerBatch.toLong * batches} increments " +
      f"streamed in ${(System.nanoTime() - t1) / 1e9}%.1f s -> $nLanded landed")

    // phase 3: the measurement
    val outDir = java.nio.file.Files.createTempDirectory("graft_compact_out").toString
    val t2 = System.nanoTime()
    val compacted = StreamOps.compactSemanticStore(spark, idxDir, s"$tmp/store",
      outDir, "vec_id", "embedding", threshold = 0.99)
    val compactSecs = (System.nanoTime() - t2) / 1e9
    val nCompact = compacted.kept.count()
    println(f"[compact-scale] COMPACTED in $compactSecs%.1f s " +
      f"(vs $buildSecs%.1f s original build+freeze): kept=$nCompact, " +
      s"builtN=${compacted.builtN}, groups=${compacted.groups}")

    // phase 4: parity vs a fresh build over the same union corpus
    val union = index.kept.select(col("vec_id"), col("embedding"))
      .unionByName(landed.select(col("vec_id"), col("embedding")))
    val t3 = System.nanoTime()
    val fresh = SimilaritySearch.buildSemanticIndex(union, "vec_id", "embedding",
      threshold = 0.99)
    val freshSecs = (System.nanoTime() - t3) / 1e9
    val cKept = compacted.kept.select(col("vec_id"), col("cluster_id"))
    val fKept = fresh.kept.select(col("vec_id"), col("cluster_id"))
    val diff = cKept.exceptAll(fKept).count() + fKept.exceptAll(cKept).count()
    require(diff == 0, s"compacted kept diverges from fresh build by $diff rows")
    require(compacted.builtN == fresh.builtN,
      s"builtN ${compacted.builtN} != fresh ${fresh.builtN}")
    println(f"[compact-scale] parity VERIFIED: compacted == fresh build " +
      f"($nCompact kept; fresh arm itself took $freshSecs%.1f s un-frozen)")

    // phase 5: clean restart on the compacted store — re-sent twins of
    // landed keepers must ALL drop against the compacted kept set
    runRestartPhase(spark, compacted, landed, rowsPerBatch, dim)

    for (d <- Seq(tmp, idxDir, outDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    GraftSession.stop(spark)
  }

  /** Phase 5, also runnable standalone against a surviving compacted
    * store (`restart-check <compactedIndexDir> <landedStoreDir>
    * <nTwins>`) — the first full run's restart phase FAILED because the
    * tool's twin formula hashed `src − nCorpus` where the landed
    * vectors hash the ABSOLUTE id (xxhash64(src, i, 99)): the "twins"
    * were genuinely novel directions and the sink CORRECTLY kept all
    * 20000 of them. Tool bug, not a restart leak; fixed formula below. */
  private def runRestartPhase(spark: org.apache.spark.sql.SparkSession,
      compacted: SimilaritySearch.SemanticIndex,
      landed: org.apache.spark.sql.DataFrame,
      nTwins: Int, dim: Int): Unit = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val keepers = landed.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(nTwins).collect().map(_.getLong(0))
    // landed keepers are the novel class: vec[i] = (xxhash64(src, i, 99)
    // % 1e6)/5e5 − 1 on the ABSOLUTE id; the twin scales that by 1.01
    val twinRows = spark.createDataset(keepers.toSeq).toDF("src")
      .select((col("src") + 100000000L).as("id"),
        expr(s"""transform(sequence(0, ${dim - 1}), i -> cast(
          ((xxhash64(src, i, 99L) % 1000000) / 500000.0 - 1.0) * 1.01
          as float))""").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_compact_restart").toString
    val ms2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamOps.semanticDedupSink(ms2.toDF().toDF("vec_id", "embedding"),
      compacted, s"$tmp2/store", s"$tmp2/ckpt", "vec_id", "embedding",
      threshold = 0.99, crossBatch = true)
    val t4 = System.nanoTime()
    ms2.addData(twinRows); q2.processAllAvailable(); q2.stop()
    // an all-dropped batch leaves a shard dir with NO data files (the
    // exact state the sink fix handles); read it as zero kept
    val reKept =
      try spark.read.option("basePath", s"$tmp2/store")
        .parquet(s"$tmp2/store").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    println(f"[compact-scale] restart batch (${twinRows.size} re-sent twins) " +
      f"in ${(System.nanoTime() - t4) / 1e9}%.1f s -> $reKept kept (want 0)")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp2))
    require(reKept == 0L,
      s"$reKept re-sent twins survived the compacted store — restart leak")
    println("[compact-scale] clean-restart contract VERIFIED at volume")
  }

  private def restartCheck(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: CompactScale restart-check <compactedIndexDir> <landedStoreDir> <nTwins>")
    val (outDir, storeDir, nTwins) = (args(1), args(2), args(3).toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, None).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarnings()
    val compacted = SimilaritySearch.readSemanticIndex(spark, outDir)
    val landed = spark.read.option("basePath", storeDir).parquet(storeDir)
    runRestartPhase(spark, compacted, landed, nTwins, dim = 64)
    GraftSession.stop(spark)
  }
}
