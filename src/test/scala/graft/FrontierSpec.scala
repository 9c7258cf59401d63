package graft

import org.apache.spark.sql.functions._

/** Behavioral pins for the round-12 composition queries: the
  * crawl-frontier stage chain (canonicalize → url-dedup → domain cap →
  * content-dedup) and the trained-classifier calibration diagram. The
  * registered oracles cover the cross-engine value replay; these pin
  * the stage CONTRACTS on the small fixture.
  */
class FrontierSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  test("crawl_frontier: canonical urls are normalized, unique, and capped per domain") {
    val out = SparkEntry.queries("crawl_frontier")(spark, dir).cache()
    try {
      val n = out.count()
      assert(n > 0)

      // stage-1 contract: every surviving url is canonical — lowercase
      // https authority, no default port, no utm_ param, no fragment
      val bad = out.filter(
        !col("canonical_url").rlike("^https://site-[0-9]+\\.example\\.com/p/[0-9]+\\?x=1$"))
        .count()
      assert(bad == 0, s"$bad non-canonical survivors")

      // stage-2 contract: canonical keys are unique among survivors
      assert(out.select("canonical_url").distinct().count() == n)

      // stage-3 contract: at most 40 survivors per domain and every rank
      // within the cap (gaps allowed: stage 4 removes AFTER the cap)
      val overCap = out.groupBy(col("domain")).count().filter(col("count") > 40).count()
      assert(overCap == 0)
      assert(out.filter(col("rn") > 40 || col("rn") < 1).count() == 0)
    } finally out.unpersist()
  }

  test("crawl_frontier: content dedup removes recrawl mirrors the url stage cannot see") {
    val out = SparkEntry.queries("crawl_frontier")(spark, dir).cache()
    try {
      // survivors' normalized fingerprints are unique — a mirror
      // (doc_id>=10000) and its original never both survive
      val fp = md5(lower(trim(regexp_replace(
        // recover text by joining survivors back to the planted corpus
        col("text"), "\\s+", " "))))
      val base = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      val mirror = base.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("   ")).as("text"))
      val joined = out.join(base.unionByName(mirror), Seq("doc_id"))
      assert(joined.count() == out.count(), "every survivor maps back to a planted row")
      val nFp = joined.select(fp.as("fp")).distinct().count()
      assert(nFp == out.count(), "normalized fingerprints must be unique among survivors")
    } finally out.unpersist()
  }

  test("crawl_frontier is deterministic") {
    val a = SparkEntry.queries("crawl_frontier")(spark, dir).collect().toSeq
    val b = SparkEntry.queries("crawl_frontier")(spark, dir).collect().toSeq
    assert(a == b)
  }

  test("domain_blocklist flags exactly the planted content farms") {
    val out = SparkEntry.queries("domain_blocklist")(spark, dir).collect().toSeq
    assert(out.size == 17)
    val blocked = out.filter(_.getAs[Boolean]("blocked"))
      .map(_.getAs[String]("domain")).toSet
    assert(blocked == Set("site-3.example.com", "site-11.example.com"))
    // the per-domain doc counts partition the tokenized corpus
    val scored = Tables(spark, dir, "documents")
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) > 0).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == scored)
    // every mean is a genuine ratio
    assert(out.forall(r => r.getAs[Double]("avg_ttr") > 0.0 &&
      r.getAs[Double]("avg_ttr") <= 1.0))
  }

  test("curation_pipeline_v4: recrawls die at the frontier, gate floor holds") {
    val out = SparkEntry.queries("curation_pipeline_v4")(spark, dir).collect().toSeq
    assert(out.nonEmpty)
    // stage-1 contract: no re-keyed recrawl (doc_id >= 1000000) ever
    // survives to the rollup — the original always wins its canonical
    assert(out.forall(_.getAs[Long]("min_doc") < 1000000L))
    // stage-4 contract: every rolled-up doc carried >= 10 kept tokens
    assert(out.forall(r =>
      r.getAs[Long]("n_tokens") >= 10L * r.getAs[Long]("n_docs")))
    // split x domain keys are unique and splits are the md5 trio
    assert(out.map(r => (r.getAs[String]("split"), r.getAs[String]("domain")))
      .distinct.size == out.size)
    assert(out.map(_.getAs[String]("split")).toSet.subsetOf(
      Set("train", "val", "test")))
  }

  test("epoch_shuffle: per-epoch permutation, balanced shards, epochs differ") {
    val out = SparkEntry.queries("epoch_shuffle")(spark, dir).collect().toSeq
    val byEpoch = out.groupBy(_.getAs[Int]("epoch"))
    assert(byEpoch.keySet == Set(1, 2))
    for ((_, rows) <- byEpoch) {
      val n = rows.size
      // rk is a 1..n permutation
      assert(rows.map(_.getAs[Long]("rk")).sorted == (1L to n).toSeq)
      // round-robin shards balance to within one row
      val counts = rows.groupBy(_.getAs[Int]("shard")).values.map(_.size)
      assert(counts.max - counts.min <= 1)
      // pos/shard reconstruct rk exactly
      assert(rows.forall(r => r.getAs[Long]("pos") * 8 +
        r.getAs[Int]("shard") + 1 == r.getAs[Long]("rk")))
    }
    // the seed key reshuffles: the two epochs order the corpus differently
    val order1 = byEpoch(1).sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("doc_id"))
    val order2 = byEpoch(2).sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("doc_id"))
    assert(order1 != order2)
    // ... and re-running an epoch lands the identical order
    val again = SparkEntry.queries("epoch_shuffle")(spark, dir).collect().toSeq
      .filter(_.getAs[Int]("epoch") == 1)
      .sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("doc_id"))
    assert(again == order1)
  }

  test("corpus_datasheet: one row, internal identities hold") {
    val r = SparkEntry.queries("corpus_datasheet")(spark, dir).collect().toSeq match {
      case Seq(only) => only
      case other => fail(s"expected exactly one datasheet row, got ${other.size}")
    }
    val round6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    val nDocs = r.getAs[Long]("n_docs")
    assert(nDocs > 0 && r.getAs[Long]("n_unique_fp") <= nDocs)
    assert(r.getAs[Double]("mean_doc_tokens") ==
      round6(r.getAs[Long]("total_tokens").toDouble / nDocs))
    val pct = r.getAs[Double]("pct_ge_64_toks")
    assert(pct > 0.0 && pct < 1.0, s"long-doc fraction must discriminate: $pct")
    val ent = r.getAs[Double]("lang_entropy")
    assert(ent >= 0.0 && ent <= math.log(r.getAs[Long]("n_langs").toDouble) + 1e-6)
  }

  test("corpus_datasheet_merged: shard-merged card == the exact card on every shared field") {
    // Counts must merge EXACTLY (associativity of sums), the sketch
    // bounds must hold for real, and the shard count must equal the
    // source cardinality — the release card assembled from partials
    // can never drift from the card a full rescan would publish.
    val m = SparkEntry.queries("corpus_datasheet_merged")(spark, dir)
      .collect().toSeq match {
      case Seq(only) => only
      case other => fail(s"expected one merged card, got ${other.size}")
    }
    val e = SparkEntry.queries("corpus_datasheet")(spark, dir).collect().head
    Seq("n_docs", "n_langs", "total_chars", "total_tokens").foreach { f =>
      assert(m.getAs[Long](f) == e.getAs[Long](f), f)
    }
    assert(m.getAs[Long]("n_unique_fp") == e.getAs[Long]("n_unique_fp"))
    val nSources = Tables(spark, dir, "documents")
      .select(col("source")).distinct().count()
    assert(m.getAs[Long]("n_shards") == nSources)
    Seq("lang_ndv_ok", "fp_ndv_ok", "kll_p50_ok").foreach { f =>
      assert(m.getAs[Boolean](f), f)
    }
  }

  test("datasheet NDV fields exclude NULLs (the oracle's count(DISTINCT) contract) on a NULL-bearing fixture") {
    // The round-13 ADVICE scenario: a regenerated fixture with NULL
    // lang/source rows. The DuckDB oracle's count(DISTINCT ...)
    // excludes NULLs, so every exact NDV arm (countDistinct) and the
    // merged card's n_shards (count(col), not count(*)) must too —
    // and the three datasheet forms must still agree with each other.
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_nulldocs").toString
    val nullLang = src.limit(3)
      .withColumn("doc_id", col("doc_id") + 900000L)
      .withColumn("lang", lit(null).cast("string"))
    val nullSource = src.limit(1)
      .withColumn("doc_id", col("doc_id") + 910000L)
      .withColumn("source", lit(null).cast("string"))
    src.unionByName(nullLang).unionByName(nullSource)
      .write.parquet(s"$tmp/documents.parquet")
    val nBase = src.count()
    val langsNonNull = src.agg(countDistinct(col("lang"))).collect().head.getLong(0)
    val sourcesNonNull = src.agg(countDistinct(col("source"))).collect().head.getLong(0)
    val exact = SparkEntry.queries("corpus_datasheet")(spark, tmp).collect().head
    val merged = SparkEntry.queries("corpus_datasheet_merged")(spark, tmp).collect().head
    val sketch = SparkEntry.queries("corpus_datasheet_sketch")(spark, tmp).collect().head
    // all docs counted, NULL keys never counted as distinct values
    assert(merged.getAs[Long]("n_docs") == nBase + 4)
    Seq(exact, merged, sketch).foreach { r =>
      assert(r.getAs[Long]("n_langs") == langsNonNull, "n_langs must exclude NULL")
    }
    Seq(exact, sketch).foreach { r =>
      assert(r.getAs[Long]("n_sources") == sourcesNonNull, "n_sources must exclude NULL")
    }
    // the NULL-source group must not count as a shard
    assert(merged.getAs[Long]("n_shards") == sourcesNonNull)
    // and the merged card still equals the exact card on shared fields
    Seq("n_docs", "n_langs", "total_chars", "total_tokens").foreach { f =>
      assert(merged.getAs[Long](f) == exact.getAs[Long](f), f)
    }
    assert(merged.getAs[Long]("n_unique_fp") == exact.getAs[Long]("n_unique_fp"))
    Seq("lang_ndv_ok", "fp_ndv_ok", "kll_p50_ok").foreach { f =>
      assert(merged.getAs[Boolean](f), f)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("quality_calibration: bin identities and monotone mean prediction") {
    val out = SparkEntry.queries("quality_calibration")(spark, dir)
      .orderBy(col("bucket")).collect().toSeq
    assert(out.nonEmpty)
    val round6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6

    // bins partition the scored corpus
    val scored = Tables(spark, dir, "documents")
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) > 0).count()
    assert(out.map(_.getAs[Long]("n")).sum == scored)

    var lastMean = -1.0
    for (r <- out) {
      val bucket = r.getAs[Int]("bucket")
      val n = r.getAs[Long]("n"); val nPos = r.getAs[Long]("n_pos")
      val meanP = r.getAs[Double]("mean_p"); val fracPos = r.getAs[Double]("frac_pos")
      assert(bucket >= 0 && bucket <= 49)
      assert(nPos >= 0 && nPos <= n)
      // frac_pos and gap are exact derivations of the counts/means
      assert(fracPos == round6(nPos.toDouble / n))
      assert(r.getAs[Double]("gap") == round6(meanP - fracPos) + 0.0)
      // mean prediction sits inside its own 0.02 bin (6-dp slack at the
      // edges from the per-row anchor; top bucket is open-ended)
      assert(meanP >= bucket * 0.02 - 1e-6)
      if (bucket < 49) assert(meanP <= (bucket + 1) * 0.02 + 1e-6)
      // value-binned means are monotone across buckets by construction
      assert(meanP > lastMean, s"mean_p not monotone at bucket $bucket")
      lastMean = meanP
      val brier = r.getAs[Double]("brier")
      assert(brier >= 0.0 && brier <= 1.0)
    }
  }
}
