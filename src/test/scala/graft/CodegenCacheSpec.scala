package graft

import graft.operators.SimilaritySearch
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** A warm session reuses its generated code. Spark's codegen cache is
  * JVM-wide and LRU; at Spark's default capacity (100 classes) one
  * `ann_eval_twolevel` run (~160 distinct classes) evicts every class
  * before its next use, so a repeat run recompiled all of them even
  * though the generated code is identical. `TestSpark` sizes the cache
  * from `GraftSession.CodegenCacheEntries`, as production sessions do. */
class CodegenCacheSpec extends SparkSpecBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated ann_eval_twolevel run compiles no classes") {
    val dir = "/root/testdata/sf0.001"
    def run(): Array[_] = SparkEntry.queries("ann_eval_twolevel")(spark, dir).collect()
    val first = run()
    val before = compiles
    val second = run()
    val warm = compiles - before
    assert(warm == 0, s"warm run compiled $warm classes")
    assert(second.toSeq == first.toSeq)
  }

  test("buildPqIndex on a second corpus of the same schema compiles no classes") {
    // Codebooks travel as data (NearestCentroidExpr's reference
    // objects), so a new corpus — new centroid values, new ids — runs
    // the generated code the first corpus compiled. Literal-fold
    // codebooks inlined ids and c·c as Java literals and recompiled.
    import spark.implicits._
    val emb = AnnSpec.clusteredRows.toDF("vec_id", "embedding")
    val a = emb.localCheckpoint(true)
    val b = emb.filter(col("vec_id") % 2 === 0).localCheckpoint(true)
    def build(df: DataFrame): Array[_] =
      SimilaritySearch.buildPqIndex(df, "vec_id", "embedding").coded.collect()
    build(a)
    val before = compiles
    build(b)
    val warm = compiles - before
    assert(warm == 0, s"second corpus compiled $warm classes")
  }

  test("IVF-PQ and two-level search on a second corpus of the same schema compile no classes") {
    // Search ranks centroids through the same kernel as training: the
    // probe side's top-n lists and two-level routing are
    // NearestCentroidExpr projections, so a new codebook reuses the
    // generated code of the first.
    import spark.implicits._
    val emb = AnnSpec.clusteredRows.toDF("vec_id", "embedding")
    val a = emb.localCheckpoint(true)
    val b = emb.filter(col("vec_id") % 2 === 0).localCheckpoint(true)
    def search(df: DataFrame): Unit = {
      val probes = df.filter(col("vec_id").isin(0L, 1000L, 2000L))
        .select(col("vec_id").as("probe_id"), col("embedding"))
      SimilaritySearch.topKCosineIvfPq(probes, "probe_id", df, "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 4).collect()
      SimilaritySearch.topKCosineIvf(probes, "probe_id", df, "vec_id", "embedding",
        k = 3, coarseK = 4, subK = 4, nprobeCells = 2, nprobeLeaves = 4).collect()
    }
    search(a)
    val before = compiles
    search(b)
    val warm = compiles - before
    assert(warm == 0, s"second corpus compiled $warm classes")
  }
}
