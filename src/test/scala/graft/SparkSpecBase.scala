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
    // No suite stops the shared session. Priority 80 runs this BEFORE
    // Spark's own hook batch (FileSystem.SHUTDOWN_HOOK_PRIORITY + 30 =
    // 40), which then finds the context already stopped.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => GraftSession.stop(s), 80, 60, java.util.concurrent.TimeUnit.SECONDS)
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
