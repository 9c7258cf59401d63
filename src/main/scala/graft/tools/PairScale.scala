package graft.tools

import graft.GraftSession
import graft.operators.SimilaritySearch
import org.apache.spark.sql.functions._

/** Measure the embedding near-dup PAIR sources at the scale where the
  * fixed-bucket sign-LSH path grinds and the leaf-bounded two-level
  * join does not — the round-13 verdict's #1 item.
  *
  * The corpus is CLUSTERED on purpose (real embedding corpora are):
  * `nClusters` deterministic base directions, each vector = its
  * cluster's direction + small per-vector noise (cos to cluster-mates
  * ~0.92), plus `nTwins` planted exact-direction twins (the only true
  * pairs). The pair threshold is 0.999: at 0.99 the fixture's ~5e9
  * intra-cluster pair mass puts a handful of natural tail pairs over
  * the line (measured: 4 at 1M), and at the 0.99 BOUNDARY sign-LSH is
  * probabilistically lossy (miss-both-tables ~27% per boundary pair)
  * while the leaf join is not — 0.999 is the regime where both
  * sources are deterministically lossless, so planted-set equality is
  * an exact contract. Clustered mass is what collapses fixed 16-bit sign-LSH
  * buckets: cluster-mates agree on most hyperplane signs, so whole
  * clusters pile into a handful of buckets and the candidate
  * (i, j) set — which the LSH path MATERIALIZES (distinct + two
  * joins back to the vectors) — goes quadratic in the cluster size.
  * The two-level leaf join's shuffle carries only the corpus (N fat
  * rows): k-means SPLITS big clusters across leaves to hold the
  * TargetClusterSize invariant, and pair rows stream through the
  * leaf-keyed join's iterator without ever being materialized.
  *
  * Usage: runMain graft.tools.PairScale <nVecs> [skip-lsh|lsh-only]
  *   - times nearDupPairsAuto (MEASURED dispatch: exact LSH candidate
  *     mass from the bucket histogram vs LshCandidateRowBudget — on
  *     this clustered fixture it routes two-level from ~100k vectors,
  *     long before the count rule would)
  *   - times nearDupPairsLsh unless `skip-lsh` (`lsh-only` runs JUST
  *     that arm — it is expected to grind/refuse at 1M clustered
  *     vectors, which is the point being measured)
  *   - cross-checks: both completed arms must emit exactly the
  *     planted twin pairs
  */
object PairScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PairScale <nVecs> [skip-lsh|lsh-only]")
    val n = args.head.toLong
    val skipLsh = args.contains("skip-lsh")
    val lshOnly = args.contains("lsh-only")
    val dim = 64
    val nClusters = 100L
    val nTwins = 100L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, None).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // clustered corpus: base direction per (id % nClusters) + per-vector
    // noise at 0.3x the direction scale -> intra-cluster cos ~0.92
    // (safely under the 0.99 pair threshold, high enough that
    // cluster-mates still pile into shared sign-LSH buckets)
    def vec(idCol: String, noiseSeedCol: String) =
      expr(s"transform(sequence(0, ${dim - 1}), i -> cast(" +
        s"(xxhash64($idCol % $nClusters, i) % 1000000) / 500000.0 - 1.0 + " +
        s"((xxhash64($noiseSeedCol, i, 7L) % 1000000) / 500000.0 - 1.0) * 0.3 " +
        "as float))")
    val base = spark.range(n).select(col("id").as("vec_id"),
      vec("vec_id", "vec_id").as("embedding"))
    // exact-direction twins of ids 0..nTwins-1 (same id%nClusters AND
    // same noise seed -> identical direction, cos ~1)
    val twins = spark.range(nTwins).select((col("id") + n).as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), i -> cast(" +
        s"((xxhash64(id % $nClusters, i) % 1000000) / 500000.0 - 1.0 + " +
        s"((xxhash64(id, i, 7L) % 1000000) / 500000.0 - 1.0) * 0.3) * 1.01 " +
        "as float))").as("embedding"))
    val corpus = base.unionByName(twins)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[pair-scale] corpus n=${corpus.count()} dim=$dim " +
      s"clusters=$nClusters twins=$nTwins")

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[pair-scale] $tag ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    def checkPairs(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.select(col("i"), col("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (0L until nTwins).map(i => (i, i + n)).toSet
      println(s"[pair-scale] $tag pairs=${got.size} " +
        s"(exact-planted=${got == want})")
      require(got == want,
        s"$tag pair set != planted twins (missing ${(want -- got).size}, " +
          s"extra ${(got -- want).size})")
    }

    if (!lshOnly) {
      time("auto front door (measured-mass dispatch)") {
        checkPairs("auto",
          SimilaritySearch.nearDupPairsAuto(corpus, "vec_id", "embedding",
            threshold = 0.999))
      }
    }
    if (!skipLsh) {
      // expected to grind at >= 1M clustered vectors: cluster-mates
      // collapse the 16-bit buckets and the materialized candidate set
      // goes quadratic in the cluster size
      time("fixed-bucket sign-LSH (the pre-round-14 pair source)") {
        try checkPairs("lsh",
          SimilaritySearch.nearDupPairsLsh(corpus, "vec_id", "embedding",
            threshold = 0.999))
        catch {
          case e: Throwable =>
            println(s"[pair-scale] lsh arm DIED/declined: ${e.getMessage}")
        }
      }
    }
    GraftSession.stop(spark)
  }
}
