package graft

import org.apache.spark.metrics.source.CodegenMetrics

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
}
