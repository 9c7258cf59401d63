package graft.tools

import graft.{GraftSession, SparkEntry}

/** Interleaved A/B of session-config deltas on named queries — the
  * round-12 verdict's root-cause harness for bench regressions that
  * survive probe correction.
  *
  * Motivation: `rolling_features` and `dedup_attrition` regressed
  * ~1.75x at sf0.1 between rounds with non-overlapping median-of-3
  * spreads on untouched query code; the one change that could reach
  * them is the session config. At sf0.1 the bytes-derived AQE start
  * equals the floor (17 MiB / 4 MiB < 32), so the ONLY live delta is
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
  * (false in r11, true since r12) — a runtime-settable SQL conf,
  * which makes the A/B a single-knob, single-JVM experiment:
  * interleave A,B,A,B,... per query so machine drift (the probe
  * instrumentation's 1.5x swings) hits both arms equally.
  *
  * Usage: runMain graft.tools.AbConfig <sfDir> <name,name,...> [iters]
  * Env:   SPARK_GRAFT_CPUS (default 32)
  * Prints per-query per-arm sorted timings + median; the verdict rule
  * is the significance rule bench_diff uses: arms differ only if one
  * arm's MIN exceeds the other's MAX.
  */
object AbConfig {
  private val Knob = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("rolling_features", "dedup_attrition", "io_avro_roundtrip"))
    val iters = args.lift(2).map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, Some(sfDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    names.foreach { name =>
      run(name) // untimed warmup (codegen, footers) outside both arms
      val a = collection.mutable.ArrayBuffer.empty[Double] // r11: knob false
      val b = collection.mutable.ArrayBuffer.empty[Double] // r12: knob true
      (1 to iters).foreach { _ =>
        spark.conf.set(Knob, "false"); a += run(name)
        spark.conf.set(Knob, "true");  b += run(name)
      }
      def show(xs: Seq[Double]): String = {
        val s = xs.sorted
        f"med=${s(s.length / 2)}%.3f [${s.head}%.3f..${s.last}%.3f]"
      }
      val sigA = a.min > b.max; val sigB = b.min > a.max
      val verdict =
        if (sigB) "B(r12-config) SLOWER — knob is the mechanism"
        else if (sigA) "A(r11-config) SLOWER"
        else "no significant difference — weather, not the knob"
      println(s"[ab] $name  A(knob=false) ${show(a.toSeq)}  " +
        s"B(knob=true) ${show(b.toSeq)}  => $verdict")
    }
    GraftSession.stop(spark)
  }
}
