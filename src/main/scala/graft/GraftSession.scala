package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session tuning, used by Verify/Bench and
  * recommended for users. Values are chosen for the 100 TB deployment
  * story and are all safe at laptop scale:
  *
  *  - AQE + skew-join splitting stay explicitly on (runtime re-plans,
  *    post-shuffle coalescing, skewed-partition splitting);
  *  - shuffle-partition sizing is AUTOMATIC in both directions and
  *    DATA-DERIVED: when the caller names its data directory, every
  *    shuffle STARTS at ~one partition per 4 MiB of on-disk input
  *    (floored at `shufflePartitions`, capped one order above it) and
  *    AQE coalesces down to the runtime data size — so a 100x input
  *    gets 100x-appropriate reduce parallelism with NO env knob, and
  *    a laptop-scale input keeps core-count partitions. This replaced
  *    the manual SPARK_GRAFT_SHUFFLE_PARTITIONS escalation the
  *    round-11 100x sweep needed for sql_q5-class queries (8.4x
  *    super-linear at 32 fixed partitions, linear at 128). A STATIC
  *    wide start was measured and rejected: initialPartitionNum=512
  *    cost +30% on the sf0.1 small-query surface (tiny shuffles pay
  *    512-bucket overhead for nothing) while bytes-derived sizing
  *    keeps both ends of the scale on their measured best plans.
  *    `shufflePartitions` stays the non-AQE fallback (streaming,
  *    plans AQE cannot touch);
  *  - 128 MiB file split size keeps scan tasks balanced;
  *  - UTC session time zone (cross-engine timestamp determinism);
  *  - nanos-as-long parquet handling for TIMESTAMP(NANOS) inputs;
  *  - the graft SQL extension (native sketch expressions);
  *  - a codegen cache sized to the engine's working set
  *    ([[CodegenCacheEntries]]), so a warm session compiles nothing.
  *
  * LIFETIME RULE for materialized frames. Spark's `CacheManager`
  * matches canonicalized plans, so a `persist` that a returned plan
  * reads lets the NEXT invocation of the same query silently plan over
  * this invocation's data: cross-run result caching, which the bench
  * bans, and session state that outlives the call. Hence:
  *  - a frame that a function returns never reads a `persist`/`cache`;
  *  - reuse that must outlive the function is an eager
  *    `localCheckpoint(true)` (invocation-scoped: every call recomputes
  *    from its inputs), or `localCheckpoint(true, StorageLevel.DISK_ONLY)`
  *    where the frame should not compete for executor memory;
  *  - `persist` appears only where the same function unpersists it
  *    before it returns.
  * PlanAuditSpec's full-surface sweep enforces it: after constructing
  * each registered query, `CacheManager` must be empty and no stream
  * may be active.
  *
  * SHUTDOWN: every main ends through [[stop]], never a bare
  * `spark.stop()`.
  */
object GraftSession {

  /** ~bytes of COMPRESSED input per initial shuffle partition: 4 MiB
    * parquet ≈ 12-20 MiB of in-memory rows — sized so per-partition
    * sort/hash state stays well inside executor memory at any scale
    * (the round-11 sweep's spill boundary was ~6M fact rows per
    * partition-set; this targets well under it). Calibrated on the
    * 100× fixture: sql_q5 22.9 s at the fixed 32-partition floor,
    * 7.6 s at 8 MiB/partition (195 initial), 4.8 s at 4 MiB (390) —
    * while sf-scale directories still derive to the floor, so the
    * small-query surface pays nothing. */
  val BytesPerInitialPartition: Long = 4L << 20

  /** Cap the derived width one-plus order above the floor: a derived
    * 100k-partition start on a 32-core laptop is pure scheduling
    * overhead, and a real cluster raises the FLOOR (cores) instead. */
  def maxInitialPartitions(floor: Int): Long = math.max(16L * floor, 4096L)

  /** Capacity of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * Spark's default 100). The cache is LRU: a pass that needs more
    * distinct classes than it holds evicts each class before its next
    * use, so every repeat recompiled everything (~20 ms a class) although
    * the generated code is identical from run to run. Working sets,
    * measured as distinct classes compiled cold:
    *  - one `ann_eval_twolevel` run at sf0.001–sf0.01: 154–163;
    *  - the benchmark's curation pass (`ann_ivf_pq`, `paraphrase_dedup`): 142;
    *  - a tpch pass at sf0.1 (`q1_agg`, `sql_q2`…`sql_q22`): ~338;
    *  - the eight-operator curation set at sf0.1: ~526;
    *  - every registered query except `io_*`, at sf0.001: 3096, and 3201
    *    after a second pass (at 2000 entries that second pass still
    *    recompiled 2808 classes).
    * At the default, a warm curation pass recompiled 136 classes and a
    * warm `ann_eval_twolevel` run 151–156; here both compile 0. An entry
    * retains ~30 KiB of heap (29.5–31.1 KiB, measured by invalidating
    * caches of 129, 2000 and 3201 entries) and ~8–10 KiB of metaspace,
    * so a full cache holds ~160 MB; a session only fills it by running
    * that many distinct plans. The cache is JVM-wide, and Spark reads
    * its size once, at the JVM's first codegen: the first session built
    * in a JVM sets it for every later session in that JVM. */
  val CodegenCacheEntries: Int = 4096

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    builder(master, shufflePartitions, None)

  /** `dataDir`: the directory whose tables this session will read
    * (the sf dir for Verify/Bench); its on-disk size derives the
    * initial shuffle width. None = the plain floor (unit tests,
    * sessions with no single home directory). */
  def builder(master: String, shufflePartitions: Int,
              dataDir: Option[String]): SparkSession.Builder = {
    quietBoundedWindowWarnings()
    val initial = dataDir.map { d =>
      val bytes = dirBytes(d)
      val derived = math.min(maxInitialPartitions(shufflePartitions),
        math.max(shufflePartitions.toLong, bytes / BytesPerInitialPartition))
      if (derived > shufflePartitions)
        System.err.println(s"[graft-session] $d: ${bytes >> 20} MiB input -> " +
          s"initial shuffle partitions $derived (floor $shufflePartitions)")
      derived
    }.getOrElse(shufflePartitions.toLong)
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", initial)
      // Without this, persist()/cache() pins the UNCOALESCED
      // initialPartitionNum layout (AQE refuses to change cached-plan
      // output partitioning by default), and every re-read schedules a
      // task per micro-partition. It serves the lineage persists read
      // once per round: PageRank's distributed path and
      // ConnectedComponents (measured on a 512-partition cache since
      // removed: 2.8 -> 7.4 s).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
  }

  /** [[stop]]'s whole deadline (s), inside Hadoop's 60 s hook timeout. */
  val StopDeadlineSeconds: Long = 45L

  /** The part of it that stopping leftover streams may use (s). */
  val StreamStopSeconds: Long = 30L

  /** Quiesce-then-stop. A bare `SparkContext.stop()` while work is still
    * in flight lets a stopped-but-zombie task's statusUpdate race the
    * terminated TaskResultGetter pool inside stop(), and the run's tail
    * ends with `RejectedExecutionException` ERROR lines (a lifecycle
    * race, not a failure, but it buries the real tail). So: stop every
    * leftover streaming query, cancel and DRAIN in-flight tasks (poll
    * the status tracker until no executor reports a running task), then
    * stop the context cleanly. Every step is best-effort and the whole
    * call shares one [[StopDeadlineSeconds]] deadline; a session that is
    * already stopped is left alone. */
  def stop(s: SparkSession): Unit = try {
    val sc = s.sparkContext
    if (!sc.isStopped) {
      val start = System.nanoTime()
      val deadline = start + StopDeadlineSeconds * 1000 * 1000 * 1000
      val streamsDeadline = start + StreamStopSeconds * 1000 * 1000 * 1000
      def msLeft(until: Long): Long = math.max(1L, (until - System.nanoTime()) / 1000000)
      s.streams.active.foreach { q =>
        try { q.stop(); q.awaitTermination(msLeft(streamsDeadline)) }
        catch { case _: Throwable => () }
      }
      sc.cancelAllJobs()
      def busy(): Boolean =
        sc.statusTracker.getActiveJobIds().nonEmpty ||
          sc.statusTracker.getExecutorInfos.exists(_.numRunningTasks() > 0)
      while (busy() && System.nanoTime() < deadline) Thread.sleep(50)
      // grace for the last statusUpdate RPCs to land
      Thread.sleep(250)
      s.stop()
    }
  } catch { case _: Throwable => () }

  /** The engine's deliberately-unpartitioned windows (limit-100 rank
    * prefixes, decile cuts over group-level frames — each plan-audited
    * BOUNDED per the Ranks.scala doctrine) fire WindowExec's
    * "No Partition Defined" warning on every task. Round 15's driver
    * bench tail was THOUSANDS of those lines — the rc=124 timeout
    * diagnosis was buried under them — and the warning carries no
    * information here, so the window-exec logger runs at ERROR.
    * Best-effort: a classpath without log4j2 just keeps the warnings.
    *
    * ORDERING IS LOAD-BEARING (the round-16 bench tail proved it): a
    * builder-time call alone did NOT survive to the bench loop — Spark
    * re-applies its default log4j2 configuration when the session's
    * logging initializes, and `sparkContext.setLogLevel` resets levels
    * again. So this is public, and every driver entry point calls it
    * AFTER session creation + setLogLevel. Both the package and the
    * concrete class logger are set (a package-level LoggerConfig only
    * wins if no closer config exists). */
  def quietBoundedWindowWarnings(): Unit =
    try
      for (name <- Seq("org.apache.spark.sql.execution.window",
          "org.apache.spark.sql.execution.window.WindowExec"))
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          name, org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Total bytes under `dir` (driver-side walk; 0 if unreadable —
    * sizing degrades to the floor, never fails the session). */
  private def dirBytes(dir: String): Long =
    try {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    } catch { case _: Throwable => 0L }
}
