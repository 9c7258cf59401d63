package graft.tools

/** Commit-able plan snapshots for the optimization rounds:
  * `runMain graft.tools.PlanSnap <outDir> <suffix> <sfDir> <name...>`
  * writes `<outDir>/<name>_<suffix>.txt` with the FORMATTED plan of
  * each named query (plus the executed AQE plan's exchange/scan/codegen
  * summary line), so before/after plan claims in OPTIMIZATION_r*.md are
  * checkable without running Spark. The `[plan]` line it prints per
  * query is the one plan-shape summary: exchanges (not reused), reused
  * (ReusedExchange and AQE-reused stages), parquet scans and codegen
  * spans of the AQE final plan. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession
      .builder(s"local[$cpus]", cpus.toInt, Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // Execute THROUGH the df's own QueryExecution (collect on the
      // noop-equivalent: foreach no-op) so the AQE FINAL plan (reused
      // stages, coalesced reads, runtime join strategy) is what the
      // summary counts. A `df.write` action plans a FRESH
      // QueryExecution — the r16 before-snapshots taken that way
      // carried isFinalPlan=false and reused=0 everywhere, an
      // artifact, not a measurement.
      df.queryExecution.toRdd.foreach(_ => ())
      val fin = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val lines = fin.split("\n")
      val summary = s"[plan] $name: " +
        s"exchanges=${lines.count(l => l.contains("Exchange") && !l.contains("Reused"))} " +
        s"reused=${lines.count(l => l.contains("ReusedExchange") || l.contains("reused"))} " +
        s"scans=${lines.count(_.contains("Scan parquet"))} " +
        s"codegenSpans=${"\\*\\((\\d+)\\)".r.findAllMatchIn(fin).map(_.group(1)).toSet.size}"
      println(summary)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        (summary + "\n\n== Formatted (pre-execution) ==\n" + formatted +
          "\n== Executed (AQE final) ==\n" + fin).getBytes("UTF-8"))
    }
    graft.GraftSession.stop(spark)
  }
}
