package graft.tools

import graft.GraftSession
import graft.operators.SimilaritySearch

/** Measure [[SimilaritySearch.semanticDedup]]'s nlist scale knob on any
  * sf dir (the PrefixScale pattern): the pair stage costs ~N²/nlist
  * cosines, so the same corpus at a larger nlist should drop
  * near-proportionally in wall time while the drop verdicts for true
  * twins stay identical (identical direction ⇒ same cluster at any
  * nlist). Each nlist runs as the flat shape (1, nlist). Usage: runMain graft.tools.SemDedupScale <sfDir> <nlist>...
  * where an nlist of `auto` exercises the AutoNlist front door
  * (deriveNlist from the corpus count).
  */
object SemDedupScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SemDedupScale <sfDir> <nlist>...")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, args.headOption).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"${args.head}/embeddings.parquet")
      .select("vec_id", "embedding")
    val n = emb.count()
    args.tail.map {
      case "auto" => SimilaritySearch.deriveNlist(n)
      case x => x.toInt
    }.foreach { nlist =>
      import org.apache.spark.sql.functions.{col, desc}
      // stage A: centroid training + assignment alone
      val ta = System.nanoTime()
      SimilaritySearch.assignClusters(emb, "vec_id", "embedding", 1, nlist)
        .write.format("noop").mode("overwrite").save()
      val assignSecs = (System.nanoTime() - ta) / 1e9
      println(f"[semdedup-scale] nlist=$nlist assign-only $assignSecs%.1f s")
      val t0 = System.nanoTime()
      val out = SimilaritySearch.semanticDedup(emb, "vec_id", "embedding", 1, nlist)
        .filter(col("is_dropped"))
      val dropped = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      if (sys.env.contains("SEMDEDUP_PLAN"))
        println(s"[semdedup-plan] nlist=$nlist\n" +
          out.queryExecution.executedPlan.toString
            .replaceAll("""\[[-0-9.,]{60,}\]""", "[...]").take(20000))
      // pair cost is sum(size^2)/2, not n^2/nlist — show the skew
      val sizes = SimilaritySearch.assignClusters(emb, "vec_id", "embedding", 1, nlist)
        .groupBy(col("cluster_id")).count()
        .collect().map(_.getLong(1)).sortBy(-_)
      val pairMass = sizes.map(s => s.toDouble * (s - 1) / 2).sum
      println(f"[semdedup-scale] n=$n nlist=$nlist dropped=$dropped $secs%.1f s " +
        f"pairs=$pairMass%.3g top5=${sizes.take(5).mkString(",")} " +
        f"live=${sizes.length}")
    }
    GraftSession.stop(spark)
  }
}
