package graft.tools

import graft.GraftSession
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Drive the streaming crawl-frontier store at scale: replay
  * `batches` micro-batches of `rowsPerBatch` url arrivals with a
  * crawl-shaped duplication mix (~50% recrawls of already-seen pages,
  * every third arrival decorated with tracking params the
  * canonicalizer strips), then measure what a long-running frontier
  * actually pays — per-batch anti-join cost as the store grows, shard
  * shatter, compaction win — and ASSERT the lifecycle contracts at
  * this volume:
  *   - compacted store answers readFrontier with the identical
  *     (id, canonical_url) set as the uncompacted one;
  *   - after compaction + a FRESH checkpoint, a batch of previously
  *     accepted urls is fully rejected (the batch=-1 base is visible
  *     to batchId 0);
  *   - liveKeys GC re-opens exactly the evicted urls.
  *
  * Usage: runMain graft.tools.FrontierScale <rowsPerBatch> <batches>
  * (e.g. 50000 30 ≈ the 30× replay of sf0.1's crawl volume).
  */
object FrontierScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: FrontierScale <rowsPerBatch> <batches>")
    val (rowsPerBatch, batches) = (args(0).toInt, args(1).toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, None).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("graft_frontier_scale").toString
    val store = s"$tmp/store"
    // page universe ~half the arrival volume -> ~50% recrawl rate at
    // the tail, the steady-state shape of a frontier under revisits
    val nPages = (rowsPerBatch.toLong * batches) / 2
    val nDomains = 1000L
    def urlOf(id: Long): String = {
      val page = (id * 2654435761L % nPages + nPages) % nPages
      val dom = page % nDomains
      val deco = if (id % 3 == 0) s"?utm_source=s${id % 7}&utm_campaign=c" else ""
      s"https://d$dom.example.com/p$page$deco"
    }

    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.frontierSink(ms.toDF().toDF("page_id", "url"),
      store, s"$tmp/ckpt", "page_id", "url")
    val batchSecs = new scala.collection.mutable.ArrayBuffer[Double]
    val t0 = System.nanoTime()
    (0 until batches).foreach { b =>
      val base = b.toLong * rowsPerBatch
      ms.addData((0 until rowsPerBatch).map(i => (base + i, urlOf(base + i))))
      val tb = System.nanoTime()
      q.processAllAvailable()
      batchSecs += (System.nanoTime() - tb) / 1e9
    }
    q.stop()
    val totalSecs = (System.nanoTime() - t0) / 1e9
    val accepted = StreamOps.readFrontier(spark, store)
      .select(col("page_id"), col("canonical_url")).cache()
    val nAccepted = accepted.count()
    println(f"[frontier-scale] ${rowsPerBatch.toLong * batches} arrivals / " +
      f"$batches batches -> $nAccepted accepted in $totalSecs%.1f s " +
      f"(batch p50=${batchSecs.sorted.apply(batches / 2)}%.2f s " +
      f"first=${batchSecs.head}%.2f s last=${batchSecs.last}%.2f s)")

    // compaction: files + bytes before/after, identity at this volume
    def du(dir: String): (Int, Long) = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var (n, b) = (0, 0L)
      while (it.hasNext) { val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { n += 1; b += f.getLen } }
      (n, b)
    }
    val (fb, bb) = du(store)
    val tc = System.nanoTime()
    val (_, fa) = StreamOps.compactFrontierStore(spark, store, s"$tmp/store2")
    val compactSecs = (System.nanoTime() - tc) / 1e9
    val (_, ba) = du(s"$tmp/store2")
    println(f"[frontier-scale] compaction: $fb files / ${bb / 1048576.0}%.1f MiB " +
      f"-> $fa files / ${ba / 1048576.0}%.1f MiB in $compactSecs%.1f s")
    val compacted = StreamOps.readFrontier(spark, s"$tmp/store2")
      .select(col("page_id"), col("canonical_url"))
    val diff = compacted.exceptAll(accepted).count() +
      accepted.exceptAll(compacted).count()
    require(diff == 0,
      s"compacted store diverges from the live store by $diff rows")
    println(s"[frontier-scale] compacted==uncompacted VERIFIED at $nAccepted rows")

    // fresh-checkpoint rejection probe: re-offer 10k ACCEPTED urls
    val ms2 = MemoryStream[(Long, String)]
    val q2 = StreamOps.frontierSink(ms2.toDF().toDF("page_id", "url"),
      s"$tmp/store2", s"$tmp/ckpt2", "page_id", "url")
    val reoffer = accepted.limit(10000).collect()
      .map(r => (r.getLong(0) + 1000000000L, r.getString(1)))
    ms2.addData(reoffer.toSeq)
    q2.processAllAvailable()
    q2.stop()
    val after = StreamOps.readFrontier(spark, s"$tmp/store2").count()
    require(after == nAccepted,
      s"fresh-checkpoint replay re-accepted ${after - nAccepted} known urls")
    println(s"[frontier-scale] fresh-checkpoint rejection VERIFIED (10000 re-offers, 0 accepted)")

    // GC: evict odd domains, verify exactly those re-open
    val live = accepted.filter(expr("canonical_url rlike 'd[0-9]*[02468]\\\\.'"))
      .select(col("canonical_url"))
    val nLive = live.count()
    StreamOps.compactFrontierStore(spark, store, s"$tmp/store3", Some(live))
    val kept3 = StreamOps.readFrontier(spark, s"$tmp/store3").count()
    require(kept3 == nLive, s"GC kept $kept3, expected $nLive")
    println(s"[frontier-scale] GC VERIFIED: $nAccepted -> $kept3 " +
      s"(${nAccepted - kept3} urls re-opened)")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    GraftSession.stop(spark)
  }
}
