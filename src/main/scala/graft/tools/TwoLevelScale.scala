package graft.tools

import graft.GraftSession
import graft.operators.SimilaritySearch
import org.apache.spark.sql.functions._

/** Measure the hierarchical-quantizer tier against the flat codebook
  * at the scale where the flat one grinds: assignment cost is N·nlist
  * for flat vs N·(coarseK + subK) for two-level, so at nlist = 4096
  * (the AutoNlist flat ceiling) a 64×64 two-level codebook does the
  * same leaf-granularity clustering with 32× fewer cosines per vector.
  *
  * The corpus is generated in-plan (deterministic xxhash64 directions,
  * the ScaleFixture embeddings recipe — no planted near-dups), so the
  * tool needs no fixture on disk and scales to any N.
  *
  * Usage: runMain graft.tools.TwoLevelScale <nVecs> [skip-flat|flat-only] [auto]
  *   - times assignClusters at shape (64, 64) (4096 leaves)
  *   - times the flat shape (1, 4096) unless `skip-flat`
  *     (`flat-only` runs JUST that arm — it grinds for ~an hour at
  *     1M vectors, which is the point being measured)
  *   - with `auto`, also runs the AutoNlist front door end to end
  *     (semanticDedup with no knob) to show the dispatch decision
  *   - cross-checks: a planted exact twin pair must share a leaf
  */
object TwoLevelScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TwoLevelScale <nVecs> [skip-flat] [auto]")
    val n = args.head.toLong
    val skipFlat = args.contains("skip-flat")
    val flatOnly = args.contains("flat-only")
    val runAuto = args.contains("auto")
    val dim = 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, None).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic synthetic corpus + one planted exact twin of vec 0
    // (id n) — the recall canary: identical direction must share a leaf
    val corpus = spark.range(n).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), i -> " +
          "cast((xxhash64(vec_id, i) % 1000000) / 500000.0 - 1.0 as float))")
          .as("embedding"))
      .unionByName(spark.range(1).select(lit(n).as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), i -> " +
          "cast((xxhash64(0L, i) % 1000000) / 500000.0 - 1.0 as float))")
          .as("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[twolevel-scale] corpus n=${corpus.count()} dim=$dim")

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[twolevel-scale] $tag ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    if (!flatOnly) {
    val two = time("two-level assign (64x64 = 4096 leaves)") {
      val df = SimilaritySearch
        .assignClusters(corpus, "vec_id", "embedding", 64, 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.write.format("noop").mode("overwrite").save()
      df
    }
    val twinLeaves = two.filter(col("vec_id").isin(0L, n))
      .select(col("cluster_id")).collect().map(_.getLong(0)).toSet
    println(s"[twolevel-scale] twin-pair leaves: $twinLeaves " +
      s"(co-located=${twinLeaves.size == 1})")
    val leafStats = two.groupBy(col("cluster_id")).count()
      .agg(count(lit(1)).as("live"), max(col("count")).as("maxsz"),
        expr("percentile_approx(count, 0.5)").as("medsz"))
      .collect().head
    println(s"[twolevel-scale] live leaves=${leafStats.getLong(0)} " +
      s"max=${leafStats.getLong(1)} median=${leafStats.get(2)}")
    two.unpersist()
    }

    if (runAuto) {
      // the front door, no knob: shows which tier AutoNlist dispatches
      time("auto semanticDedup (front-door dispatch)") {
        SimilaritySearch.semanticDedup(corpus, "vec_id", "embedding")
          .filter(col("is_dropped"))
          .write.format("noop").mode("overwrite").save()
      }
    }

    if (!skipFlat) {
      // round 13's dead arm (ENOSPC mid-sort): the nearest-centroid scan
      // materializes no (vector, centroid) rows, so it runs at N·4096
      // cosines against the two-level arm's N·(coarseK + subK)
      time("flat assign (nlist = 4096)") {
        SimilaritySearch.assignClusters(corpus, "vec_id", "embedding", 1, 4096)
          .write.format("noop").mode("overwrite").save()
      }
    }
    GraftSession.stop(spark)
  }
}
