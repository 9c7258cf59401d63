package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Time the datasheet's three forms on an sf dir: the exact card
  * (`corpus_datasheet` — triple exact countDistinct, plans an Expand),
  * the GATE-BOUND sketch variant (`corpus_datasheet_sketch` — sketch
  * card PLUS the exact payloads and the rank audit, because the
  * DuckDB hash gate needs exact values to pin the sketch against; by
  * construction it can never be cheaper than exact), and the
  * SKETCH-ONLY card — the single partial-agg scan a 100 TB release
  * pipeline actually ships (HLL++ NDVs + KLL median, no distinct
  * shuffles, no second scan).
  *
  * Usage: runMain graft.tools.DatasheetScale <sfDir>
  */
object DatasheetScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: DatasheetScale <sfDir>")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, args.headOption).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[datasheet-scale] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // sketch-ONLY: the one-scan production card
    import org.apache.spark.sql.graft.KllFunctions
    val docs = Tables(spark, args.head, "documents")
      .select(col("lang"), col("source"), col("n_chars"),
        tokens(col("text")).as("toks"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
    // untimed warmup: footer cache + codegen, so ordering is fair
    docs.agg(count(lit(1))).write.format("noop").mode("overwrite").save()
    SparkEntry.queries("corpus_datasheet")(spark, args.head)
      .write.format("noop").mode("overwrite").save()
    time("sketch-only card (one partial-agg scan)") {
      docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(col("toks"))).as("total_tokens"),
        sum(when(size(col("toks")) >= 64, 1L).otherwise(0L)).as("n_ge"),
        approx_count_distinct(col("lang"), 0.01).as("hl_lang"),
        approx_count_distinct(col("source"), 0.01).as("hl_source"),
        approx_count_distinct(col("fp"), 0.01).as("hl_fp"),
        element_at(KllFunctions.kllQuantiles(
          KllFunctions.kllSketchAgg(col("n_chars").cast("double")),
          Seq(0.5)), 1).as("p50"))
        .write.format("noop").mode("overwrite").save()
    }
    time("exact card (corpus_datasheet)") {
      SparkEntry.queries("corpus_datasheet")(spark, args.head)
        .write.format("noop").mode("overwrite").save()
    }
    time("gate-bound sketch variant (corpus_datasheet_sketch = sketch + exact payloads)") {
      SparkEntry.queries("corpus_datasheet_sketch")(spark, args.head)
        .write.format("noop").mode("overwrite").save()
    }
    GraftSession.stop(spark)
  }
}
