package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.operators.PlanAudit

/** Plan-hygiene sweep: audit named registered queries (or, with no
  * names, every query) and print non-ok findings — the "explain and
  * iterate" loop as a batch tool.
  *
  * Usage: runMain graft.tools.AuditRun <sfDir> [name,name,...]
  */
object AuditRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only: Option[Set[String]] = args.lift(1).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, args.headOption).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val findings = PlanAudit.audit(fn(spark, sfDir)).collect()
            .filter(r => r.getString(1) != "ok" && r.getString(1) != "info")
          if (findings.isEmpty) println(s"[audit] $name clean")
          else findings.foreach { r =>
            println(s"[audit] $name ${r.getString(1).toUpperCase}: " +
              s"${r.getString(0)}=${r.getLong(2)} (${r.getString(3)})")
          }
        } catch {
          case e: Throwable => println(s"[audit] $name ERROR: ${e.getMessage}")
        }
      }
    GraftSession.stop(spark)
  }
}
