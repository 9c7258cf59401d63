package graft.tools

/** Ad-hoc plan inspector: `runMain graft.tools.ExplainQuery <name> <sfDir>`
  * prints exchange/scan counts and the formatted plan head — the
  * .explain discipline as a repeatable command. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val s = graft.GraftSession.builder("local[4]", 8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(s, dir)
    df.collect()
    // AQE toString prints the final plan AND the initial plan — count
    // only the final section, and codegen spans show as "*(n)" markers
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val lines = plan.split("\n")
    println(s"[explain] $name: " +
      s"exchanges=${lines.count(l => l.contains("Exchange") && !l.contains("Reused"))} " +
      s"reused=${lines.count(_.contains("ReusedExchange"))} " +
      s"scans=${lines.count(_.contains("Scan parquet"))} " +
      s"codegenSpans=${"\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size}")
    if (args.length > 2 && args(2) == "full") println(plan)
    graft.GraftSession.stop(s)
  }
}
