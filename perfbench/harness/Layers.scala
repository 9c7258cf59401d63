package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters at one instant. Subtract two snapshots to get
  * the work done between them. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
  def +(o: Counters): Counters =
    Counters((values.keySet ++ o.values.keySet).map(k => k -> (apply(k) + o(k))).toMap)
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

object Codegen {
  /** Whole-stage and expression codegen compiles so far in this JVM
    * (driver and, under local[N], executors), read from Spark's static
    * `CodegenMetrics` histogram and `CodeGenerator`'s compile-time sum. */
  def snapshot(): Counters = Counters(Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.ms" -> CodeGenerator.compileTime / 1e6))
}

/** Scheduler-level counters for the traced run. Cumulative; the harness
  * drains the listener bus and snapshots between phases, so each delta
  * belongs to exactly one phase of one operation. */
final class LayerListener extends SparkListener {
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  private def add(k: String, v: Long): Unit =
    counts.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = jobStarts.remove(e.jobId)
    if (start != null) jobSpans.add((start.longValue, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("task_gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
    }
  }

  def snapshot(): Counters =
    Counters(counts.asScala.map { case (k, v) => k -> v.get.toDouble }.toMap)

  /** Seconds covered by at least one job among the jobs that ended since
    * the last call (the union of their [start, end] spans). */
  def takeJobCoveredSeconds(): Double = {
    val spans = Iterator.continually(jobSpans.poll()).takeWhile(_ != null).toSeq.sortBy(_._1)
    var covered = 0L
    var (curStart, curEnd) = (Long.MinValue, Long.MinValue)
    spans.foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered / 1000.0
  }
}

/** Records the on-disk files each query execution scanned, so read
  * amplification can be taken against the tables an operation read. */
final class ScanListener extends QueryExecutionListener {
  private val roots = ConcurrentHashMap.newKeySet[String]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.optimizedPlan.foreachWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.foreach(p => roots.add(p.toUri.getPath))
        case _ => ()
      }
      case r: DataSourceV2Relation =>
        Option(r.options.get("path")).foreach(p => roots.add(new File(p).getAbsolutePath))
      case _ => ()
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** On-disk bytes of the distinct roots scanned since the last call. */
  def takeScannedBytes(): Long = {
    val taken = roots.asScala.toSeq
    taken.foreach(roots.remove)
    taken.map(p => Disk.bytesUnder(new File(p))).sum
  }
}

object Disk {
  /** Bytes of the data files under `f`, leaving out checksum and marker
    * files (names starting with `.` or `_`). */
  def bytesUnder(f: File): Long =
    if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
