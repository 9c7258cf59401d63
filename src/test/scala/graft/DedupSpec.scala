package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Behavioral coverage for the dedup operator family on controlled
  * corpora (the driver's oracle gate covers the registered queries on
  * the synthetic tables; these specs pin edge semantics). */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy cat and runs far away home"), // 1 token off 1
    (3L, "completely different text about spark partitions shuffles and big joins"),
    (4L, "THE  quick   brown fox jumps over the lazy dog and runs far away home"), // = 1 modulo case/ws
    (5L, "tiny doc")
  ).toDF("doc_id", "text")

  test("exactDupGroups collapses case/whitespace variants only") {
    val g = Dedup.exactDupGroups(corpus, "doc_id", "text").collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n_copies") == 2L)
    assert(g(0).getAs[Long]("keep_id") == 1L)
  }

  test("nearDupPairsExact finds the one-token-edit pair and the exact pair") {
    val pairs = Dedup.nearDupPairsExact(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    // (1,2): 1 token of 14 differs; (1,4)/(2,4): 4 is identical to 1
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val j14 = pairs.find(p => (p._1, p._2) == (1L, 4L)).get._3
    assert(j14 == 1.0) // identical after normalization
  }

  test("minhash pairs equal the exact pairs on this corpus") {
    val exact = Dedup.nearDupPairsExact(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.nearDupPairsMinhash(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == exact)
  }

  test("simhash pairs are a subset of exact pairs and catch tiny edits") {
    val sh = Dedup.nearDupPairsSimhash(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs must always be found (hamming 0)
    assert(sh.contains((1L, 4L)))
    val exact = Dedup.nearDupPairsExact(corpus, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.subsetOf(exact))
  }

  test("prefix-filtered pairs equal the exact pairs (lossless at the threshold)") {
    for (t <- Seq(0.5, 0.8)) {
      val exact = Dedup.nearDupPairsExact(corpus, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pfx = Dedup.nearDupPairsPrefix(corpus, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pfx == exact, s"threshold $t")
    }
  }

  test("prefix index carries a fraction of the full index mass") {
    val (full, pfx) = Dedup.prefixIndexSizes(corpus, "doc_id", "text", 3, 0.8)
    // t=0.8 prefix bound: |x| - ceil(0.8|x|) + 1 ≈ 20% of |x| + 1
    assert(pfx < full / 2, s"prefix=$pfx full=$full")
    assert(pfx > 0)
  }

  test("maxDocFreq cutoff drops hot shingles but keeps true near-dups") {
    val pairs = Dedup.nearDupPairsExact(corpus, "doc_id", "text", maxDocFreq = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("autoDocFreqCutoff picks the largest df prefix within the pair budget") {
    // hist: df -> n_shingles. masses: df=2 -> 100*1=100 pairs,
    // df=10 -> 10*45=450, df=100 -> 2*4950=9900, df=1000 -> 1*499500.
    val hist = Seq((2L, 100L), (10L, 10L), (100L, 2L), (1000L, 1L))
    // budget 200/doc * 60 docs = 12000: fits through df=100 (10450),
    // not df=1000 -> cutoff 100
    assert(Dedup.autoDocFreqCutoff(hist, nDocs = 60) == 100L)
    // budget 200*2=400: fits only df=2 (100); df=10 would reach 550.
    // The FLOOR (8) overrides the too-tight budget answer of 2.
    assert(Dedup.autoDocFreqCutoff(hist, nDocs = 2) == Dedup.AutoCutoffFloor)
    // huge budget: nothing cut — cutoff is the max df present
    assert(Dedup.autoDocFreqCutoff(hist, nDocs = 1000000) == 1000L)
  }

  test("auto cutoff engaged above the gate leaves fixture pairs unchanged") {
    // Force the auto path (gate=1): on this corpus every df is far
    // below the floor, so cut == uncut must hold bit-for-bit — the
    // contract that keeps the registered oracles exact at fixture scale.
    val uncut = Dedup.nearDupPairsExact(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val auto = Dedup.nearDupPairsExact(corpus, "doc_id", "text",
        maxDocFreq = Dedup.HotShingleCutoff, autoGateDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == uncut)
    val autoPfx = Dedup.nearDupPairsPrefix(corpus, "doc_id", "text",
        maxDocFreq = Dedup.HotShingleCutoff, autoGateDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(autoPfx == uncut)
  }

  test("auto cutoff drops a separable boilerplate head but keeps rare-shingle recall") {
    // Zipf-like shape: every doc carries the same boilerplate sentence
    // (hot head, df = 60) plus unique content (df = 1); docs 100/101
    // additionally share a long RARE passage (df = 2) that makes them
    // a true near-dup pair. The pair-mass budget at 60 docs cannot
    // afford the boilerplate band, so the auto cutoff drops exactly
    // that head — and must still find (100, 101) through the rare
    // shingles.
    val boiler = "this document is provided under the standard public license agreement of the corporation"
    val rare = (1 to 30).map(i => s"rareword$i").mkString(" ")
    val docs = ((1 to 58).map(i =>
        (i.toLong, s"$boiler unique${i}a unique${i}b unique${i}c unique${i}d")) ++
      Seq((100L, s"$boiler $rare edit one"), (101L, s"$boiler $rare edit two")))
      .toDF("doc_id", "text")
    val auto = Dedup.nearDupPairsExact(docs, "doc_id", "text",
        threshold = 0.4, autoGateDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == Set((100L, 101L)), auto.toString)
  }

  test("auto cutoff refuses a degenerate distribution instead of emptying the output") {
    // every doc identical: ALL pair mass lives in the bulk (every
    // shingle df = 30, far over budget at 30 docs) — the 30x scale run
    // showed the budget cutoff takes such corpora to ZERO output
    // pairs. The guard must refuse to engage and return the caller's
    // (uncut) result.
    val text = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    // 28 shingles x C(60,2) pair mass >> the 12k budget, and every
    // shingle is in the "head" -> the guard must refuse, not cut
    val auto = Dedup.nearDupPairsExact(docs, "doc_id", "text",
        autoGateDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncut = Dedup.nearDupPairsExact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == uncut && auto.size == 60 * 59 / 2, s"${auto.size} pairs")
  }

  test("nearDupPairs reroutes a refused corpus to MinHash-LSH; strictExact keeps the grind") {
    // The degenerate corpus from the refusal test: every doc identical,
    // all pair mass in the bulk — the cutoff analysis must refuse, and
    // the front door must route to minhash + exact rerank instead of
    // grinding. At J=1 banded LSH recall is exactly 1 (identical
    // signatures share every band), so the reroute must reproduce the
    // exact pair set bit-for-bit, jac included.
    val text = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val exact = Dedup.nearDupPairsExact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rerouted = Dedup.nearDupPairs(docs, "doc_id", "text", autoGateDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rerouted == exact && rerouted.size == 60 * 59 / 2, s"${rerouted.size} pairs")
    // strictExact forces tier 3 under the same refusal
    val strict = Dedup.nearDupPairs(docs, "doc_id", "text", autoGateDocs = 1L,
        strictExact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(strict == exact)
  }

  test("disk-budget refusal: pinned-exact paths fail fast, naming the MinHash reroute") {
    // Round-12 failure shape: the pinned-exact contracts ground ~1.1e9
    // candidates into ~250 GB of spill and died at ENOSPC, killing the
    // JVM. The cutoff analysis already knows the surviving pair mass;
    // with a mocked low scratch budget the refusal must fire BEFORE the
    // pair join, and the error must hand the operator the way out.
    val text = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    Dedup.scratchBytesOverride = Some(1L << 20) // 1 MiB "free disk"
    try {
      val e = intercept[IllegalStateException] {
        Dedup.nearDupPairsExact(docs, "doc_id", "text", autoGateDocs = 1L)
          .collect()
      }
      assert(e.getMessage.contains("nearDupPairsMinhash"),
        s"refusal must name the banded reroute: ${e.getMessage}")
      assert(e.getMessage.contains("REFUSED"))
      val ep = intercept[IllegalStateException] {
        Dedup.nearDupPairsPrefix(docs, "doc_id", "text",
          threshold = 0.5, autoGateDocs = 1L).collect()
      }
      assert(ep.getMessage.contains("nearDupPairsMinhash"))
    } finally Dedup.scratchBytesOverride = None
  }

  test("disk-budget reroute: the front door degrades to banded LSH, not an error") {
    // Same mocked budget, but through nearDupPairs: production traffic
    // must keep flowing on the flat-scaling path instead of failing.
    // At J=1 banded recall is exact, so the rerouted answer is still
    // bit-identical to the grind it replaced.
    val text = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val exact = Dedup.nearDupPairsExact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Dedup.scratchBytesOverride = Some(1L << 20)
    try {
      val (pairs, route) = Dedup.nearDupPairsRouted(docs, "doc_id", "text",
        autoGateDocs = 1L)
      assert(route == Dedup.RouteLshReroute)
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == exact)
    } finally Dedup.scratchBytesOverride = None
  }

  test("disk-budget guard stays quiet when the budget fits (and below the gate)") {
    // Ample budget: the same corpus grinds through the exact path
    // unchanged. Below the corpus gate no histogram runs, so even a
    // zero budget cannot refuse — fixture-scale runs never see it.
    val text = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    Dedup.scratchBytesOverride = Some(Long.MaxValue)
    try assert(Dedup.nearDupPairsExact(docs, "doc_id", "text",
      autoGateDocs = 1L).count() == 60L * 59 / 2)
    finally Dedup.scratchBytesOverride = None
    Dedup.scratchBytesOverride = Some(0L)
    try assert(Dedup.nearDupPairsExact(docs, "doc_id", "text").count() ==
      60L * 59 / 2) // default gate 50k docs: analysis pass never runs
    finally Dedup.scratchBytesOverride = None
  }

  test("LSH reroute recall holds at a realistic threshold (J≈0.9, not just J=1)") {
    // Ten true near-dup pairs at J≈0.90 (60-token docs, one token
    // swapped mid-document kills 3 trigrams: |A∩B|=55, |A∪B|=61,
    // J=0.902) buried in a refusal-shaped corpus (everything else
    // identical boilerplate so the analysis refuses). Banded LSH at
    // k=64/r=4 misses a J=0.9 pair with probability (1-0.9^4)^16 ≈
    // 4e-8 — the reroute must find all ten AND agree with the exact
    // join on the whole output.
    // 10 bulk GROUPS of 50 identical docs each: the hot head is 280 of
    // ~890 distinct keys (31% would drop) with pair mass ~343k over a
    // ~104k budget at 520 docs — the analysis must REFUSE, not engage.
    val bulkDocs = (0 until 10).flatMap { g =>
      val text = (1 to 30).map(i => s"g${g}word$i").mkString(" ")
      (1 to 50).map(i => (g * 100L + i, text))
    }
    val pairDocs = (0 until 10).flatMap { p =>
      val toks = (1 to 60).map(i => s"p${p}t$i")
      val mutated = toks.updated(30, s"p${p}CHANGED")
      Seq((100000L + 2 * p, toks.mkString(" ")),
        (100001L + 2 * p, mutated.mkString(" ")))
    }
    val docs = (bulkDocs ++ pairDocs).toDF("doc_id", "text")
    val exact = Dedup.nearDupPairsExact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rerouted = Dedup.nearDupPairs(docs, "doc_id", "text", autoGateDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rerouted == exact, s"reroute=${rerouted.size} exact=${exact.size}")
    assert(rerouted.size == 10 * 50 * 49 / 2 + 10, s"${rerouted.size} pairs")
    val planted = (0 until 10).map(p => (100000L + 2 * p, 100001L + 2 * p)).toSet
    val found = rerouted.map(t => (t._1, t._2)).filter(planted)
    assert(found == planted, s"missed: ${planted -- found}")
    // and the planted pairs carry the designed Jaccard
    rerouted.filter(t => planted((t._1, t._2))).foreach { t =>
      assert(math.abs(t._3 - 55.0 / 61.0) < 1e-4, t.toString)
    }
  }

  test("nearDupPairs with an ENGAGED (not refused) cutoff still takes the exact path") {
    // The separable-head corpus from the auto-cutoff test: the analysis
    // ENGAGES (drops the boilerplate band), so the front door must run
    // the exact join with that cutoff — same answer the direct exact
    // call with autoGateDocs = 1 produces.
    val boiler = "this document is provided under the standard public license agreement of the corporation"
    val rare = (1 to 30).map(i => s"rareword$i").mkString(" ")
    val docs = ((1 to 58).map(i =>
        (i.toLong, s"$boiler unique${i}a unique${i}b unique${i}c unique${i}d")) ++
      Seq((100L, s"$boiler $rare edit one"), (101L, s"$boiler $rare edit two")))
      .toDF("doc_id", "text")
    val front = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.4,
        autoGateDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(front == Set((100L, 101L)), front.toString)
  }

  test("nearDupPairs dispatches by corpus size; both routes agree") {
    val viaExact = Dedup.nearDupPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = Dedup.nearDupPairs(corpus, "doc_id", "text",
        prefixGateDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaExact == viaPrefix)
    assert(viaExact.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("dedup_eval measures the banded-LSH S-curve: near-1 recall high, lossy low") {
    // the registered eval must reproduce the 1-(1-J^4)^16 shape: the
    // reroute is safe at the thresholds it fires at (J >= 0.7-0.8) and
    // measurably lossy near J ~ 0.2 — exactly what the route tag warns
    val rows = SparkEntry.queries("dedup_eval")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val high = rows.filter { case (b, (nt, _, _)) => b >= 7 && nt > 0 }
    assert(high.nonEmpty)
    high.foreach { case (b, (_, _, rec)) =>
      assert(rec >= 0.99, s"bucket $b recall $rec — the reroute regime must be near-lossless")
    }
    rows.filter { case (b, (nt, _, _)) => b <= 2 && nt >= 20 }.foreach {
      case (b, (_, _, rec)) =>
        assert(rec <= 0.3, s"bucket $b recall $rec — low-J recall should be visibly lossy")
    }
  }

  test("nearDupPairsRouted surfaces the engaged plan as a machine-readable tag") {
    // All four tiers, on the same fixtures the dispatch tests above
    // use; only the LSH tag marks a CONTRACT change (band recall).
    assert(Dedup.nearDupPairsRouted(corpus, "doc_id", "text")._2 == Dedup.RouteExact)
    assert(Dedup.nearDupPairsRouted(corpus, "doc_id", "text", threshold = 0.7,
      prefixGateDocs = 1L)._2 == Dedup.RoutePrefix)
    val text = (1 to 30).map(i => s"word$i").mkString(" ")
    val degenerate = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    assert(Dedup.nearDupPairsRouted(degenerate, "doc_id", "text",
      autoGateDocs = 1L)._2 == Dedup.RouteLshReroute)
    assert(Dedup.nearDupPairsRouted(degenerate, "doc_id", "text",
      autoGateDocs = 1L, strictExact = true)._2 == Dedup.RouteExact)
    val boiler = "this document is provided under the standard public license agreement of the corporation"
    val rare = (1 to 30).map(i => s"rareword$i").mkString(" ")
    val sep = ((1 to 58).map(i =>
        (i.toLong, s"$boiler unique${i}a unique${i}b unique${i}c unique${i}d")) ++
      Seq((100L, s"$boiler $rare edit one"), (101L, s"$boiler $rare edit two")))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupPairsRouted(sep, "doc_id", "text", threshold = 0.4,
      autoGateDocs = 1L)._2 == Dedup.RouteExactCutoff)
  }

  test("incremental dedup matches the increment against the corpus, never corpus x corpus") {
    val increment = Seq(
      (101L, "the quick brown fox jumps over the lazy dog and runs far away home again"), // ~= 1
      (102L, "entirely novel content no corpus document resembles in any way at all")
    ).toDF("doc_id", "text")
    val hits = Dedup.nearDupsAgainstCorpus(increment, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 101 hits both members of the 1~4 exact-dup group; 102 hits nothing.
    // Corpus-internal pairs (1,2)/(1,4)/(2,4) must NOT appear.
    assert(hits == Set((101L, 1L), (101L, 2L), (101L, 4L)) || hits == Set((101L, 1L), (101L, 4L)),
      hits.toString)
    assert(hits.forall(_._1 >= 101L))
  }

  test("stored-signature incremental dedup equals the recompute path") {
    val increment = Seq(
      (101L, "the quick brown fox jumps over the lazy dog and runs far away home again"),
      (102L, "entirely novel content no corpus document resembles in any way at all")
    ).toDF("doc_id", "text")
    val store = Dedup.bandSignatures(corpus, "doc_id", "text")
    val viaStore = Dedup.nearDupsAgainstStore(increment, "doc_id", "text",
        store, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val recompute = Dedup.nearDupsAgainstCorpus(increment, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStore == recompute, s"store=$viaStore recompute=$recompute")
    assert(viaStore.nonEmpty)
  }

  test("compactSignatureStore: the GC'd store equals a recompute from the live corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigstore_gc").toString
    try {
      // accrete the store the way production does: two shards appended,
      // the second one REPLAYED (duplicate rows), then doc 2 deleted
      val shard1 = corpus.filter(col("doc_id") <= 2)
      val shard2 = corpus.filter(col("doc_id") > 2)
      Dedup.bandSignatures(shard1, "doc_id", "text")
        .write.mode("append").parquet(s"$tmp/store")
      Dedup.bandSignatures(shard2, "doc_id", "text")
        .write.mode("append").parquet(s"$tmp/store")
      Dedup.bandSignatures(shard2, "doc_id", "text")
        .write.mode("append").parquet(s"$tmp/store")
      val live = corpus.filter(col("doc_id") =!= 2L)
      val (nBefore, nAfter) =
        Dedup.compactSignatureStore(spark, s"$tmp/store", s"$tmp/compacted",
          live.select(col("doc_id")), "doc_id")
      assert(nBefore > nAfter, s"$nBefore -> $nAfter")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      val compacted = rows(spark.read.parquet(s"$tmp/compacted"))
      val recomputed = rows(Dedup.bandSignatures(live, "doc_id", "text"))
      assert(compacted == recomputed,
        s"compacted=${compacted.map(_._1)} recomputed=${recomputed.map(_._1)}")
      // and the operational read path still works against the compacted
      // store: increment dedup equals the full-recompute contract on
      // the LIVE corpus
      val increment = Seq(
        (101L, "the quick brown fox jumps over the lazy dog and runs far away home again")
      ).toDF("doc_id", "text")
      val viaStore = Dedup.nearDupsAgainstStore(increment, "doc_id", "text",
          spark.read.parquet(s"$tmp/compacted"), live, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val recompute = Dedup.nearDupsAgainstCorpus(increment, live, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaStore == recompute && viaStore.nonEmpty,
        s"store=$viaStore recompute=$recompute")
      assert(viaStore.forall(_._2 != 2L), "a GC'd doc resurfaced as a pair")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("dupPassages finds chunk-aligned verbatim passages, ignores unique text") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa unique tail one"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa other ending two"),
      (3L, "completely different words that no other document shares at all here now"),
      (4L, "short doc")
    ).toDF("doc_id", "text")
    val dup = Dedup.dupPassages(docs, "doc_id", "text", chunkTokens = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(dup.length == 1)
    assert(dup(0) == ("alpha beta gamma delta epsilon zeta eta theta iota kappa", 2L, 1L))
  }

  test("benchmarkOverlap flags the near-copy, ignores clean docs, drops short docs") {
    val bench = Seq(
      (900L, "the quick brown fox jumps over the lazy dog and runs far away home")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words then the quick brown fox jumps over the lazy dog ends"), // shares 5-grams
      (3L, "completely different text about spark partitions shuffles and big joins"),
      (5L, "tiny doc") // < 5 tokens: no shingles, must not appear
    ).toDF("doc_id", "text")
    val rows = Dedup.benchmarkOverlap(train, bench, "doc_id", "text", n = 5, flagAt = 0.1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_matched"), r.getAs[Boolean]("contaminated"))).toMap
    assert(rows.keySet == Set(1L, 3L))
    assert(rows(1L)._1 > 0 && rows(1L)._2, "overlapping doc must be flagged")
    assert(rows(3L)._1 == 0 && !rows(3L)._2, "clean doc must not be flagged")
  }

  test("substringOverlap reports the longest exact shared token run") {
    val docs = Seq(
      // 1 and 2 share the 10-token run "a..j": 3 consecutive 8-windows
      (1L, "a b c d e f g h i j k l m"),
      (2L, "x y a b c d e f g h i j z"),
      // unrelated
      (3L, "p q r s t u v w"),
      // 4 and 5 share TWO disjoint 8-token runs: islands must not merge
      (4L, "a1 b1 c1 d1 e1 f1 g1 h1 qq k1 l1 m1 n1 o1 p1 q1 r1"),
      (5L, "a1 b1 c1 d1 e1 f1 g1 h1 zz k1 l1 m1 n1 o1 p1 q1 r1")
    ).toDF("doc_id", "text")
    val got = Dedup.substringOverlap(docs, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_shared_windows"), r.getAs[Long]("max_run_tokens"))).toMap
    assert(got.keySet == Set((1L, 2L), (4L, 5L)), got.toString)
    assert(got((1L, 2L)) == (3L, 10L), s"1-2: ${got((1L, 2L))}")
    assert(got((4L, 5L)) == (2L, 8L), s"4-5: ${got((4L, 5L))}")
  }

  test("rewriteDupSpans keeps first occurrences, tails, and short docs") {
    val docs = Seq(
      (1L, "a b c d e f g h"),       // chunks [a b c][d e f], tail "g h"
      (2L, "a b c x y z q"),         // [a b c] dup of doc1 pos0 -> dropped
      (3L, "d e f d e f"),           // both occurrences lose to doc1 pos1
      (4L, "zz yy"),                 // shorter than one span: kept whole
      (5L, "m n o m n o tail1")      // intra-doc dup: pos0 survives, pos1 drops
    ).toDF("doc_id", "text")
    val got = Dedup.rewriteDupSpans(docs, "doc_id", "text", chunkTokens = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dropped"),
         r.getAs[String]("kept_text"))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), got.toString)
    assert(got(1L) == (2L, 0L, "a b c d e f g h"), s"1: ${got(1L)}")
    assert(got(2L) == (2L, 1L, "x y z q"), s"2: ${got(2L)}")
    assert(got(3L) == (2L, 2L, ""), s"3: ${got(3L)}")
    assert(got(4L) == (0L, 0L, "zz yy"), s"4: ${got(4L)}")
    assert(got(5L) == (2L, 1L, "m n o tail1"), s"5: ${got(5L)}")
  }

  test("rewriteDupSpans leaves a duplicate-free corpus byte-identical") {
    val docs = Seq(
      (10L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))
      .toDF("doc_id", "text")
    val got = Dedup.rewriteDupSpans(docs, "doc_id", "text", chunkTokens = 10)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("kept_text")).toMap
    assert(got(10L) == "one two three four five six seven eight nine ten eleven twelve thirteen")
    assert(got(11L) == "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda")
  }
}
