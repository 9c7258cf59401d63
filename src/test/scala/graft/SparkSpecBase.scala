package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the test run fast; suites must not mutate session state). */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // Quiesce-then-stop shutdown hook (round 17; VERIFY_r16 tests_ok
    // red gate). The shared session is never stopped by a suite, so the
    // JVM-exit path was Spark's OWN shutdown hook calling
    // SparkContext.stop() while work could still be in flight — a
    // stopped-but-zombie streaming task's statusUpdate then races the
    // terminated TaskResultGetter pool inside stop() and the run's tail
    // ends with RejectedExecutionException ERROR lines (a lifecycle
    // race, not a test failure, but a red artifact). Registering at
    // Hadoop-hook priority 80 runs BEFORE Spark's hook batch
    // (FileSystem.SHUTDOWN_HOOK_PRIORITY + 30 = 40): stop every
    // leftover streaming query, cancel and DRAIN in-flight tasks
    // (poll the status tracker until no executor reports a running
    // task), then stop the context cleanly — Spark's later hook finds
    // it already stopped and no status update can race the stop.
    // The whole hook shares one 45 s deadline, well inside Hadoop's 60 s
    // hook timeout: the stream stops may use up to 30 s of it, and the
    // drain gets whatever they leave (at least 15 s).
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit = try {
          val sc = s.sparkContext
          if (!sc.isStopped) {
            val start = System.nanoTime()
            val deadline = start + 45L * 1000 * 1000 * 1000
            val streamsDeadline = start + 30L * 1000 * 1000 * 1000
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
      }, 80, 60, java.util.concurrent.TimeUnit.SECONDS)
    s
  }
}

trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  /** The canonical 3x3 fixture used by all 27 reference operator tests
    * (reference: src/dataframe/dataframe.rs:1031-1063). */
  def abc: DataFrame = Graft.fromValues(spark,
    Seq("ID", "Name", "Score"),
    Seq(Seq(1L, "Alice", 3.5), Seq(2L, "Bob", 4.0), Seq(3L, "Charlie", 2.5)))

  /** Fixture with nulls, mirroring dataframe.rs:1595-1619. */
  def abcWithNulls: DataFrame = Graft.fromValues(spark,
    Seq("ID", "Name", "Score"),
    Seq(Seq(1L, "Alice", 3.5), Seq(2L, null, 4.0), Seq(3L, "Charlie", null)))

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
  def singleValue(df: DataFrame): Any = {
    val r = df.collect()
    assert(r.length == 1 && r(0).length == 1, s"expected 1x1 result, got ${r.toSeq}")
    r(0).get(0)
  }
}
