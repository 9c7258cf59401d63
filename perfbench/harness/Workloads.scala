package perfbench

import java.io.File
import java.sql.{DriverManager, SQLException}

import graft.SparkEntry
import graft.sources.{AvroSource, CsvSource, ExcelSource, JsonSource, ParquetSource, SqlSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One operation of a pass. `write` is eager output work (only the io
  * workload has any); `construct` returns the plan, doing whatever eager
  * driver work the engine does before it can; the harness then runs the
  * plan through the noop sink. `prepare` and `release` run untimed
  * around each pass's operation in `out`. */
trait Op {
  def name: String
  /** Returns the bytes already in `out` for this operation. */
  def prepare(spark: SparkSession, out: File): Long = 0L
  def write(spark: SparkSession, out: File): Unit = ()
  def construct(spark: SparkSession, out: File): DataFrame
  def release(out: File): Unit = ()
}

/** A query registered in `SparkEntry.queries`, run as a user would run it. */
final case class QueryOp(name: String, dataDir: String) extends Op {
  def construct(spark: SparkSession, out: File): DataFrame =
    SparkEntry.queries(name)(spark, dataDir)
}

/** Write one input table through a `graft.sources` writer, then read it
  * back through the matching reader. */
final case class IoOp(fmt: String, table: String, dataDir: String) extends Op {
  def name: String = s"${fmt}_$table"

  private def path(out: File): String = new File(out, name).getAbsolutePath

  private def derbyUrl(out: File): String = s"jdbc:derby:${path(out)}"

  // the input table, loaded in `prepare`: Parquet schema inference runs
  // a Spark job of its own, which is not the writer's or the reader's
  private var source: DataFrame = _

  override def write(spark: SparkSession, out: File): Unit = fmt match {
    case "csv"     => CsvSource.write(source, path(out))
    case "parquet" => ParquetSource.save(source, path(out))
    case "json"    => JsonSource.write(source, path(out))
    case "avro"    => AvroSource.write(source, path(out))
    case "xlsx"    => ExcelSource.write(source, path(out))
    case "sql"     => SqlSource.write(source, derbyUrl(out), table, "replace")
  }

  /** Loads the input table and creates an empty Derby database before
    * the timed write, so the write measures the table, not database
    * creation. Returns the bytes already on disk, which the table's size
    * does not include. */
  override def prepare(spark: SparkSession, out: File): Long = {
    source = ParquetSource.load(spark, s"$dataDir/$table.parquet")
    if (fmt == "sql") DriverManager.getConnection(derbyUrl(out) + ";create=true").close()
    writtenBytes(out)
  }

  /** Shuts this pass's Derby database down so its directory can go. */
  override def release(out: File): Unit =
    if (fmt == "sql")
      try DriverManager.getConnection(derbyUrl(out) + ";shutdown=true").close()
      catch { case _: SQLException => () } // Derby reports a clean shutdown as an exception

  def construct(spark: SparkSession, out: File): DataFrame = {
    val back = fmt match {
      case "csv"     => CsvSource.read(spark, path(out))
      case "parquet" => ParquetSource.load(spark, path(out))
      case "json"    => JsonSource.read(spark, path(out), multiLine = false)
      case "avro"    => AvroSource.read(spark, path(out))
      case "xlsx"    => ExcelSource.read(spark, path(out))
      case "sql"     => SqlSource.readTable(spark, derbyUrl(out), table)
    }
    // Inference widens or renames types (int -> bigint, timestamp ->
    // string); the round trip must give back the source's values, so the
    // read-back is cast to the source schema.
    back.select(source.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Bytes this format put on disk for the table. */
  def writtenBytes(out: File): Long = Disk.bytesUnder(new File(path(out)))

  def sourceBytes: Long = new File(s"$dataDir/$table.parquet").length
}

object IoOp {
  /** Stops the embedded Derby engine; Derby reports success as an exception. */
  def shutdownDerby(): Unit =
    try DriverManager.getConnection("jdbc:derby:;shutdown=true").close()
    catch { case _: SQLException => () }
}

object Workloads {
  def ops(workload: String, dataDir: String): Seq[Op] = workload match {
    case "curation" =>
      Seq("ann_ivf_pq", "paraphrase_dedup").map(QueryOp(_, dataDir))
    case "io" =>
      Seq("csv" -> "lineitem", "parquet" -> "lineitem", "json" -> "orders",
        "avro" -> "orders", "xlsx" -> "customer", "sql" -> "customer")
        .map { case (f, t) => IoOp(f, t, dataDir) }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
