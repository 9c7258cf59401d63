package perfbench

import java.io.{File, FileWriter}
import java.lang.management.ManagementFactory

import scala.util.Random

import graft.{BenchMetrics, GraftSession}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. One process is one closed-loop client on a
  * fresh `local[cores]` session: it runs a workload's operations one
  * after another in passes (the first pass cold, the rest warm). Once
  * the cold pass has ended, the harness fingerprints every output it
  * returned, for the caller to check.
  *
  * Arguments are `--key value` pairs:
  *   mode      setup (start a session and stop) | run
  *   workload  curation | io
  *   seed      permutes the order of operations; every pass uses that order
  *   seconds   warm passes continue until this much time has run since
  *             the cold pass ended, and never stop before four (five when
  *             traced)
  *   trace     1 attaches the layer listeners to the cold and even passes
  *   cores, data, work, artifact
  *   dump      (optional) also write each cold-pass output as parquet there,
  *             with the operations' oracle SQL, for perfbench/make_expected.py
  *
  * Every pass and operation is appended to the artifact (JSON Lines) as
  * soon as it ends, so a killed run keeps what it finished. stdout
  * carries only the `@ready <cpu seconds>` line the caller times setup
  * by. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opt("cores").toInt
    val work = new File(opt("work"))
    val spark = GraftSession.builder(s"local[$cores]", cores, Some(opt("data")))
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // after setLogLevel, as GraftSession.quietBoundedWindowWarnings requires
    GraftSession.quietBoundedWindowWarnings()
    val startS = (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val cpuS = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    println(s"@ready $cpuS")
    System.out.flush()
    val code =
      try { if (opt("mode") == "setup") 0 else new Run(spark, opt, work, startS).apply() }
      finally shutdown(spark)
    System.exit(code)
  }

  /** Stops streams, lets running jobs finish, then stops Spark, so no
    * task reports back into a stopped scheduler. */
  def shutdown(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    val deadline = System.currentTimeMillis + 20000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
    spark.stop()
  }
}

/** JSON Lines, one row appended (and closed) per call; each row carries
  * `t`, seconds since JVM start, so the harness's own time shows too. */
final class Artifact(path: File) {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  def row(fields: (String, Any)*): Unit = synchronized {
    val t = (System.currentTimeMillis - jvmStart) / 1000.0
    val w = new FileWriter(path, true)
    try w.write(Json(fields.toMap + ("t" -> t)) + "\n") finally w.close()
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

final class Run(spark: SparkSession, opt: Map[String, String], work: File, startS: Double) {
  private val workload = opt("workload")
  private val seconds = opt("seconds").toDouble
  private val trace = opt("trace") == "1"
  private val cores = opt("cores").toInt
  private val out = new Artifact(new File(opt("artifact")))
  // SplittableRandom mixes the seed first: java.util.Random's first draws
  // from consecutive seeds are nearly equal, so they gave one order
  private val ops: Seq[Op] =
    new Random(new java.util.SplittableRandom(opt("seed").toLong).nextLong())
      .shuffle(Workloads.ops(workload, opt("data")))
  // The warm figures are medians over warm passes 2 to 4: in pass 1 the
  // JIT is still compiling, and it keeps compiling less in each later
  // pass, so the window is fixed rather than as long as --seconds. A
  // traced run traces the cold pass and the even warm passes and leaves
  // the odd ones untraced, to measure what tracing costs; past pass 1,
  // five passes give each set two.
  private val minWarmPasses = if (trace) 5 else 4
  private val layers = new LayerListener
  private val scans = new ScanListener
  private var failed = 0
  private var attempted = 0

  private def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9

  // CPU time of the whole process (task, driver, JIT and GC threads).
  // Unlike wall time, it leaves out time the hypervisor gives to other
  // guests, which on a shared host moves wall times by up to 2x between
  // runs.
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Fixed single-thread CPU work, outside Spark, timed (median of three)
    * at the start and end of each run as weather context: the same code
    * and sizes on every commit, so a slow run shows as a slow probe. */
  private def cpuProbe(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](64)
    Seq.fill(3) {
      val t0 = System.nanoTime
      var i = 0
      while (i < 300000) {
        buf(i & 63) = (i >>> 6).toByte
        md.update(buf)
        System.arraycopy(md.digest(), 0, buf, 0, 16)
        i += 1
      }
      secs(t0)
    }.sorted.apply(1)
  }

  def apply(): Int = {
    opt.get("dump").foreach { d =>
      new File(d).mkdirs()
      java.nio.file.Files.writeString(new File(d, "oracle.json").toPath,
        Json(graft.SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }))
    }
    out.row("row" -> "start", "workload" -> workload, "seed" -> opt("seed").toLong,
      "trace" -> trace, "cores" -> cores, "order" -> ops.map(_.name),
      "session_start_s" -> startS, "cpu_probe_s" -> cpuProbe())
    var pass = 0
    runPass(pass, traced = trace)
    val t0 = System.nanoTime
    while (pass < minWarmPasses || secs(t0) < seconds) {
      pass += 1
      runPass(pass, traced = trace && pass % 2 == 0)
    }
    out.row("row" -> "heap", "live_heap_mb" -> liveHeapMb())
    if (ops.exists(_.isInstanceOf[IoOp])) IoOp.shutdownDerby()
    out.row("row" -> "end", "attempted" -> attempted, "failed" -> failed,
      "cpu_probe_s" -> cpuProbe())
    if (failed > 0) 1 else 0
  }

  /** One timed pass over every operation, in the run's order. */
  private def runPass(pass: Int, traced: Boolean): Unit = {
    val dir = new File(work, s"out-$pass")
    dir.mkdirs()
    if (traced) {
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(scans)
    }
    // every pass figure is a sum over timed parts (the cold pass's first
    // job, each operation's write, construct and execute), so work between
    // them (prepare, release, checks) falls in none
    var (passS, constructS, executeS) = (0.0, 0.0, 0.0)
    var passCpuNs = 0L
    // The cold pass opens with a fixed trivial job. Spark's first job pays
    // one-off start-up (SQL planning, codegen, the task pool), and this
    // way it is the same job whichever operation the seed puts first.
    val firstJobS = if (pass > 0) 0.0 else {
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime
      spark.range(1).selectExpr("id + 1 AS x").write.format("noop").mode("overwrite").save()
      passCpuNs += os.getProcessCpuTime - cpu0
      secs(t0)
    }
    passS += firstJobS
    var constructJobs = 0.0
    var (scannedBytes, coveredS) = (0L, 0.0)
    var (codegen, l) = (Counters(Map.empty), Counters(Map.empty))
    val sources = Map.newBuilder[String, Double]
    val outputs = Seq.newBuilder[(Op, DataFrame)]
    ops.foreach { op =>
      attempted += 1
      try {
        val bytesBefore = op.prepare(spark, dir)
        if (traced) {
          BenchMetrics.flush(spark)
          layers.takeJobCoveredSeconds()
          scans.takeScannedBytes()
        }
        val c0 = Codegen.snapshot()
        val l0 = layers.snapshot()
        val cpu0 = os.getProcessCpuTime
        val t0 = System.nanoTime
        op.write(spark, dir)
        val writeS = secs(t0)
        val df = op.construct(spark, dir)
        val opConstructS = secs(t0)
        val lMid = if (traced) { BenchMetrics.flush(spark); layers.snapshot() } else l0
        val t1 = System.nanoTime
        df.write.format("noop").mode("overwrite").save()
        val opExecuteS = secs(t1)
        passCpuNs += os.getProcessCpuTime - cpu0
        if (traced) BenchMetrics.flush(spark)
        val l1 = layers.snapshot()
        val c1 = Codegen.snapshot()
        codegen = codegen + (c1 - c0)
        l = l + (l1 - l0)
        passS += opConstructS + opExecuteS
        constructS += opConstructS
        executeS += opExecuteS
        constructJobs += (lMid - l0)("jobs")
        if (traced) {
          scannedBytes += scans.takeScannedBytes()
          coveredS += layers.takeJobCoveredSeconds()
        }
        op match {
          case io: IoOp if traced =>
            sources += s"sources.${io.fmt}.write_s" -> writeS
            sources += s"sources.${io.fmt}.read_s" -> (opConstructS - writeS + opExecuteS)
            sources += s"sources.${io.fmt}.bytes_ratio" -> (io.writtenBytes(dir) - bytesBefore).toDouble / io.sourceBytes
          case _ => ()
        }
        if (pass == 0) outputs += op -> df
        out.row("row" -> "op", "pass" -> pass, "op" -> op.name, "traced" -> traced,
          "write_s" -> writeS, "construct_s" -> opConstructS, "execute_s" -> opExecuteS,
          "compiles" -> (c1 - c0)("codegen.compiles"),
          "jobs" -> (if (traced) Some((l1 - l0)("jobs")) else None),
          "construct_jobs" -> (if (traced) Some((lMid - l0)("jobs")) else None))
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] ${op.name} failed in pass $pass:")
        e.printStackTrace()
        out.row("row" -> "op", "pass" -> pass, "op" -> op.name, "error" -> e.toString)
      }
    }
    val row = Map[String, Any]("row" -> "pass", "pass" -> pass,
      "kind" -> (if (pass == 0) "cold" else "warm"), "traced" -> traced,
      "pass_s" -> passS, "first_job_s" -> firstJobS, "pass_cpu_s" -> passCpuNs / 1e9,
      "construct.s" -> constructS, "execute.s" -> executeS,
      "codegen.compiles" -> codegen("codegen.compiles"),
      "codegen.mean_ms" -> (if (codegen("codegen.compiles") > 0)
        codegen("codegen.ms") / codegen("codegen.compiles") else 0.0)) ++
      storage() ++ (if (!traced) Map.empty else {
        val taskRunS = l("task_run_ms") / 1000.0
        Map("construct.jobs" -> constructJobs, "jobs" -> l("jobs"), "stages" -> l("stages"),
          "tasks" -> l("tasks"), "task_run_s" -> taskRunS,
          "task_cpu_s" -> l("task_cpu_ns") / 1e9, "task_gc_s" -> l("task_gc_ms") / 1000.0,
          "job_covered_s" -> coveredS, "driver_gap_s" -> (passS - coveredS),
          "parallelism" -> (if (coveredS > 0) taskRunS / coveredS else 0.0),
          "shuffle_write_mb" -> l("shuffle_write_bytes") / 1048576.0,
          "shuffle_fetch_wait_s" -> l("shuffle_fetch_wait_ms") / 1000.0,
          "spill_mb" -> l("spill_bytes") / 1048576.0,
          "input_mb" -> l("input_bytes") / 1048576.0,
          "read_amplification" -> (if (scannedBytes > 0) l("input_bytes") / scannedBytes else 0.0)) ++
          sources.result()
      })
    out.row(row.toSeq: _*)
    if (traced) {
      spark.sparkContext.removeSparkListener(layers)
      spark.listenerManager.unregister(scans)
    }
    // the cold pass's outputs are checked once the pass has ended, so
    // the checks' jobs and compiles fall in no timed or counted region
    outputs.result().foreach { case (op, df) =>
      try {
        out.row("row" -> "verify", "op" -> op.name, "fingerprint" -> Fingerprint(df))
        opt.get("dump").foreach(d => df.coalesce(1).write.parquet(s"$d/${op.name}"))
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] checking ${op.name} failed:")
        e.printStackTrace()
      }
    }
    ops.foreach(_.release(dir))
    Disk.deleteTree(dir)
  }

  private def storage(): Map[String, Any] = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Map("storage.persisted_rdds_left" -> spark.sparkContext.getPersistentRDDs.size,
      "storage.mb_left" -> infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** Heap in use once garbage is gone: full collections, with pauses for
    * Spark's ContextCleaner to release what the collections enqueued,
    * until two readings agree within 1 MB. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var prev = Double.MaxValue
    var cur = 0.0
    var rounds = 0
    while (rounds < 3 || (math.abs(cur - prev) > 1.0 && rounds < 12)) {
      System.gc()
      Thread.sleep(100)
      prev = cur
      cur = mem.getHeapMemoryUsage.getUsed / 1048576.0
      rounds += 1
    }
    cur
  }
}

/** Row count plus, per column, an order-independent hash of its values:
  * the sum of each value's 32 low xxhash64 bits. Two results with the same
  * rows in any order give the same fingerprint. */
object Fingerprint {
  def apply(df: DataFrame): Map[String, Any] = {
    val names = df.columns.toSeq
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    val hashes = names.indices.map(i => sum(xxhash64(col(s"c$i")).bitwiseAND(0xFFFFFFFFL)))
    val r = renamed.agg(count(lit(1)), hashes: _*).head()
    // a repeated column name is keyed by name#position
    val keys = names.zipWithIndex.map { case (n, i) =>
      if (names.count(_ == n) > 1) s"$n#$i" else n }
    Map("rows" -> r.getLong(0), "columns" -> keys.indices.map(i =>
      keys(i) -> Option(r.get(i + 1)).map(_.toString).getOrElse("0")).toMap)
  }
}
