package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Deterministic cost profile for a registered query:
  * `runMain graft.tools.JobProfile <sfDir> <iters> <name...>` runs each
  * query through the noop sink and reports, per iteration, the wall
  * time AND the driver-action footprint — Spark job count, stage
  * count, task count — which is machine-weather-independent. The
  * round-16 optimization loop ranks targets by jobs/tasks because the
  * sandbox measured up to 8.7x intra-run CPU drift (probe pair), so a
  * per-run wall delta under ~2x proves nothing there, while a job or
  * task count delta is exact. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession
      .builder(s"local[$cpus]", cpus.toInt, Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong
    // per-stage wall + name, for the "which stage eats the row" view
    // (stage wall includes scheduling; executorRunTime sums task time)
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Double, Int, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1e3).getOrElse(0.0)
        val run = si.taskMetrics.executorRunTime / 1e3
        stageLog.add((si.stageId, wall, run, si.numTasks,
          si.name.split(" at ").lastOption.getOrElse(si.name)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    // warmup: session init + codegen for the flagship
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => e.printStackTrace() }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (i <- 1 to iters) {
        graft.BenchMetrics.flush(spark)
        stageLog.clear()
        val (j0, s0, t0) = (jobs.get(), stages.get(), tasks.get())
        val w0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - w0) / 1e9
        graft.BenchMetrics.flush(spark)
        println(f"[profile] $name iter=$i wall=$wall%.2fs " +
          s"jobs=${jobs.get() - j0} stages=${stages.get() - s0} " +
          s"tasks=${tasks.get() - t0}")
        if (sys.env.get("GRAFT_PROFILE_STAGES").exists(_ == "1")) {
          import scala.jdk.CollectionConverters._
          val topN = sys.env.getOrElse("GRAFT_PROFILE_STAGES_TOP", "8").toInt
          for ((sid, sw, run, nt, nm) <-
              stageLog.asScala.toSeq.sortBy(-_._2).take(topN))
            println(f"[stage] $name iter=$i id=$sid wall=$sw%.2fs " +
              f"run=$run%.2fs tasks=$nt $nm")
        }
      }
    }
    graft.GraftSession.stop(spark)
  }
}
