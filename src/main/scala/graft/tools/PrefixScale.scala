package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Dedup

/** Scale comparison harness for the prefix-filtered near-dup join
  * (SCALING.md round-9 evidence): times `nearDupPairsPrefix` vs
  * `nearDupPairsExact` at a threshold on any sf/fixture dir and prints
  * the index-mass reduction the prefix bound buys.
  * Usage: runMain graft.tools.PrefixScale <sfDir> <threshold> [exact|prefix|both]
  */
object PrefixScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PrefixScale <sfDir> <threshold> [exact|prefix|both]")
    val (sfDir, t) = (args(0), args(1).toDouble)
    val mode = args.lift(2).getOrElse("both")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, args.headOption).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables(spark, sfDir, "documents")

    val (full, pfx) = Dedup.prefixIndexSizes(docs, "doc_id", "text", 3, t)
    println(f"[prefix-scale] t=$t index entries: full=$full prefix=$pfx (${pfx.toDouble / full}%.3f)")

    def timed(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[prefix-scale] $label t=$t pairs=$n time=${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    if (mode == "prefix" || mode == "both")
      timed("prefix")(Dedup.nearDupPairsPrefix(docs, "doc_id", "text",
        threshold = t, maxDocFreq = Dedup.HotShingleCutoff))
    if (mode == "exact" || mode == "both")
      timed("exact ")(Dedup.nearDupPairsExact(docs, "doc_id", "text",
        threshold = t, maxDocFreq = Dedup.HotShingleCutoff))
    GraftSession.stop(spark)
  }
}
