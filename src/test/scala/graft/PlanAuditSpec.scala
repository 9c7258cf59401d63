package graft

import graft.operators.PlanAudit
import org.apache.spark.sql.functions._

/** PlanAudit reads the physical plan, so every fixture here goes
  * through real parquet scans (in-memory DataFrames have no
  * FileSourceScan to audit). */
class PlanAuditSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def find(df: org.apache.spark.sql.DataFrame, check: String) =
    PlanAudit.audit(df).collect()
      .find(_.getString(0) == check).get

  test("broadcast-joined star query audits clean") {
    val q = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name")).agg(sum(col("l_quantity")).as("q"))
    val cart = find(q, "cartesian_products")
    assert(cart.getString(1) == "ok" && cart.getLong(2) == 0L)
    assert(find(q, "broadcast_joins").getLong(2) >= 1L)
    assert(PlanAudit.clean(q))
  }

  test("a deliberate cross join fails the audit") {
    // force the genuinely two-sided-streamed form: with auto-broadcast
    // off, a no-condition inner join plans CartesianProductExec
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val q = Tables(spark, dir, "region").crossJoin(Tables(spark, dir, "nation"))
      val cart = find(q, "cartesian_products")
      assert(cart.getString(1) == "fail" && cart.getLong(2) >= 1L)
      assert(!PlanAudit.clean(q))
    } finally spark.conf.set(key, prev)
  }

  test("a bounded corpus x broadcast-probe product warns, not fails") {
    // the brute-force k-NN shape: every row against a small broadcast
    // probe set — linear with a small constant, legitimate by design
    val emb = Tables(spark, dir, "embeddings")
    val probes = broadcast(emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("p"), col("embedding").as("pv")))
    val q = emb.crossJoin(probes).filter(col("vec_id") =!= col("p"))
    val b = find(q, "broadcast_nested_loops")
    assert(b.getString(1) == "warn" && b.getLong(2) >= 1L)
    assert(find(q, "cartesian_products").getLong(2) == 0L)
    assert(PlanAudit.clean(q)) // warn does not fail the gate
  }

  test("column pruning is visible: narrow projection vs select-star scan") {
    val narrow = Tables(spark, dir, "documents").select(col("doc_id"))
    assert(find(narrow, "unpruned_scans").getLong(2) == 0L)
    val wide = Tables(spark, dir, "documents")
    val w = find(wide, "unpruned_scans")
    assert(w.getLong(2) >= 1L && w.getString(3).contains("documents"))
  }

  test("pushed filters clear the unfiltered-scan count") {
    val filtered = Tables(spark, dir, "orders")
      .filter(col("o_totalprice") > 100000.0).select(col("o_orderkey"))
    assert(find(filtered, "unfiltered_wide_scans").getLong(2) == 0L)
  }

  test("scalar cross-joins (global-aggregate broadcast side) are not flagged as cartesian") {
    // the deliberate "cross-join a total in" pattern: output cardinality
    // equals the streamed side, so it must audit clean
    val docs = Tables(spark, dir, "documents")
    val total = docs.agg(count(lit(1)).as("n"))
    val q = docs.crossJoin(broadcast(total))
      .select(col("doc_id"), (col("doc_id") / col("n")).as("f"))
    val cart = find(q, "cartesian_products")
    assert(cart.getString(1) == "ok" && cart.getLong(2) == 0L, cart.toString)
  }

  test("unpartitioned corpus-scale windows are flagged; bounded shapes are not") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
    // the scale-killer shape: a global rank over unbounded input
    val bad = docs.select(col("doc_id"))
      .withColumn("rk", row_number().over(Window.orderBy(col("doc_id"))))
    val flagged = find(bad, "single_partition_windows")
    assert(flagged.getString(1) == "warn" && flagged.getLong(2) >= 1L)
    // rank-the-survivors: a limit below the window bounds it
    val limited = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(100)
      .withColumn("rk", row_number().over(Window.orderBy(col("doc_id"))))
    assert(find(limited, "single_partition_windows").getLong(2) == 0L)
    // the distributed-rank construction: its one unpartitioned window
    // sits over the __pid-grouped offsets frame — recognized as bounded
    val ranked = graft.operators.Ranks.globalRowNumber(
      docs.select(col("doc_id")), Seq(col("doc_id")))
    assert(find(ranked, "single_partition_windows").getLong(2) == 0L)
    // an aggregate on an ARBITRARY key does not bound anything — this is
    // exactly the pre-fix record_linkage shape (rank over a groupBy of a
    // vocabulary-sized key) and must stay flagged
    val aggBad = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.orderBy(col("source"))))
    assert(find(aggBad, "single_partition_windows").getLong(2) >= 1L)
  }

  /** One construction per registered query at sf0.001, shared by the
    * three full-surface gates below: each query's audit rows and
    * whether building it left a cache or a stream behind. */
  private case class Swept(name: String, checks: Array[org.apache.spark.sql.Row],
                           cached: Boolean, streams: Seq[String])

  private lazy val sweep: Seq[Swept] = {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    try SparkEntry.queries.keys.toSeq.sorted.map { n =>
      spark.catalog.clearCache()
      val df = SparkEntry.queries(n)(spark, dir)
      val (cached, streams) = (!cacheManager.isEmpty, spark.streams.active.toSeq.map(_.name))
      Swept(n, PlanAudit.audit(df).collect(), cached, streams)
    } finally spark.catalog.clearCache()
  }

  test("the FULL query surface sweeps clean of cartesian products") {
    // Every registered query: none may plan a genuine row-product join
    // at sf0.001 (scalar/one-row cross joins are already excluded by
    // the check itself; corpus x broadcast-set products surface as
    // `warn`, not `fail`). PlanSpec pins chosen shapes in detail; this
    // is the breadth gate.
    val dirty = sweep.filter(_.checks.exists(_.getString(1) == "fail")).map(_.name)
    assert(dirty.isEmpty, s"cartesian-product plans: $dirty")
  }

  test("the full query surface is free of unproven single-partition windows") {
    // Bounded in fact but not provable in the plan — each whitelisted
    // window runs over an aggregate of a SMALL-DOMAIN key:
    //  - vocab_growth: cumsum over 10 decile rows (floor(x*10/n) in 0..10)
    //  - mix_temperature / curation_pipeline_v2: temperatureMix's
    //    deterministic prefix-sum fold over the per-SOURCE frame (the
    //    source column's domain is the handful of corpus sources; the
    //    ordered fold is deliberate — float summation order pins rates)
    val whitelist = Set("vocab_growth", "mix_temperature", "curation_pipeline_v2")
    val dirty = sweep.flatMap { q =>
      val w = q.checks.find(_.getString(0) == "single_partition_windows").get
      if (w.getLong(2) > 0 && !whitelist.contains(q.name)) Some(s"${q.name}${w.getString(3)}")
      else None
    }
    assert(dirty.isEmpty, s"unbounded single-partition windows: $dirty")
  }

  test("no registered query leaves a cache or a stream behind after construction") {
    // GraftSession's lifetime rule. `persist` registers in the
    // CacheManager when it is called, so construction alone shows a
    // cache the returned plan would carry into the next run; a stream
    // left running is the same leak.
    val leaks = sweep.filter(q => q.cached || q.streams.nonEmpty)
      .map(q => s"${q.name}(cached=${q.cached}, streams=${q.streams.mkString(",")})")
    assert(leaks.isEmpty, s"queries that leave state behind: $leaks")
  }

  test("shuffle and join counters reflect the plan shape") {
    // big-big equi-join: at least one shuffled join or (under AQE
    // stats) a broadcast join; either way no cartesian and >= 1
    // exchange feeding the aggregation
    val q = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val joins = find(q, "shuffled_joins").getLong(2) +
      find(q, "broadcast_joins").getLong(2)
    assert(joins >= 1L)
    assert(find(q, "shuffle_exchanges").getLong(2) >= 1L)
    assert(find(q, "cartesian_products").getLong(2) == 0L)
  }
}
