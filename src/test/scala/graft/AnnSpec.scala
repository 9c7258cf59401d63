package graft

import graft.operators.SimilaritySearch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GramianFunctions

/** Recall contract for sign-LSH approximate similarity search. LSH
  * bucketing is a HIGH-similarity retrieval structure: recall is pinned
  * on a corpus with genuinely similar vectors (small perturbations,
  * cos >= ~0.97). On weak-similarity data (the synthetic embeddings'
  * nearest neighbors sit at cos ~0.3) no bucketing scheme can prune and
  * recall simultaneously — the exact knn_cosine scan is the right plan
  * there, which the similarity-equality test also exercises. */
class AnnSpec extends SparkSpecBase {
  import spark.implicits._
  import AnnSpec.dim

  private def clustered = AnnSpec.clusteredRows.toDF("vec_id", "embedding")

  /** md5 over a result's rows, each rendered to a string, sorted. */
  private def fingerprint(rows: Iterable[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** [[fingerprint]]s of the flat quantizer's results on the clustered
    * fixture, recorded from the flat code path (stable over three
    * captures) before that path became the one-cell shape (1, nlist):
    * the coarseK = 1 equivalence tests compare against these. */
  private object FlatFingerprints {
    /** trainIvf at nlist = 16 on the fixture ∪ its twins: "id:v1,...,vd" rows. */
    val codebook = "bdbd2888d5c1243d2248038594e03e5f"
    /** semanticDedup at nlist = 16, threshold 0.999, same corpus: "id,cluster,dropped". */
    val dedupRows = "193da2cade94d0838a77ddfe0ce1720b"
    /** buildSemanticIndex at nlist = 16 on the fixture: kept "id,cluster". */
    val keptSet = "d65b364fbb1f1d71b53ba373a47b72b2"
    /** That index's verdicts on the twin + reversed increment: "id,cluster,dropped". */
    val incVerdicts = "60449495e39f923cd8ec7a4d5354b4de"
    /** topKCosineIvf at nlist = 16, nprobe = 4, k = 5: "probe,vec,cos,rk". */
    val topKRows = "cda1d0c5e2c72f0999b0fbc016e3c74b"
    /** topKCosineIvfRerank at nlist = 16, nprobe = 4, coarseK = 12, k = 5,
      * probes 0, 1000, 2000, 9000: "probe,vec,cos,rk". */
    val rerankRows = "2acc4598a79be7b77688046fa0ac0d57"
    /** topKCosineIvfPq at the defaults (nlist = 16, nprobe = 4, m = 4,
      * ks = 8, coarseK = 12), k = 5, same probes: "probe,vec,cos,rk". */
    val pqRows = "d5bdf27c185fa6de7ddc718dd858d50f"
    /** buildPqIndex's coded rows at the defaults: "id,list,k0,k1,k2,k3". */
    val pqCoded = "92666918c4991f2849075c7ea5bb33fe"
  }

  /** The unfused L2 Lloyd ladder for ONE PQ subspace — hash seeds,
    * literal-fold argmin assignment, vecSumAgg means rounded to 6 dp —
    * the reference the fused [[SimilaritySearch.trainPq]] ladder is
    * pinned against. Returns the codebook sorted by cent_id. */
  private def lloydL2(corpus: DataFrame, idCol: String, vecCol: String,
                      ks: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    val d = corpus.select(size(col(vecCol))).first().getInt(0)
    var cents: Seq[(Long, Seq[Double])] =
      SimilaritySearch.hashCentroids(corpus, idCol, vecCol, ks)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val vecs = corpus.select(col(idCol).as("_vid"),
      expr(s"transform($vecCol, x -> cast(x as double))").as("_vv"))
    for (_ <- 1 to iters) {
      val sums = vecs
        .select(NativeExprSpec.argminCentL2(col("_vv"), cents)("cid").as("_cent_id"), col("_vv"))
        .groupBy(col("_cent_id"))
        .agg(GramianFunctions.vecSumAgg(col("_vv"), d).as("_s"))
        .select(col("_cent_id"),
          expr(s"transform(slice(_s, 2, $d), x -> round(x / _s[0], 6))").as("_nv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map { case (cid, prev) => (cid, sums.getOrElse(cid, prev)) }
    }
    cents.sortBy(_._1)
  }

  test("multi-table sign-LSH recall@10 >= 0.9 for high-similarity neighbors") {
    val df = clustered.cache()
    val exact = SimilaritySearch.topKCosine(df, "vec_id", "embedding", 1000L, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = SimilaritySearch.topKCosineLsh(df, "vec_id", "embedding", 1000L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("ANN similarities are exact cosines (only the candidate set is approximate)") {
    val dir = "/root/testdata/sf0.001"
    val exactMap = SparkEntry.queries("knn_cosine")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val approx = SparkEntry.queries("ann_cosine_lsh")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(approx.nonEmpty)
    approx.filter { case (id, _) => exactMap.contains(id) }.foreach { case (id, cos) =>
      assert(cos == exactMap(id), s"vec $id cosine mismatch")
    }
  }

  test("batch LSH retrieval finds each cluster-mate probe's true top hit (recall@1 >= 0.9)") {
    val df = clustered.cache()
    // one probe per member of cluster 1 (ids 1000-1019): its nearest
    // neighbor is another member of the same tight cluster.
    val probes = df.filter(col("vec_id") >= 1000 && col("vec_id") < 2000)
    val got = SimilaritySearch
      .topKCosineLshBatch(probes, "vec_id", df, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("id")).toMap
    // recall@1: the retrieved id is a member of the same cluster
    val hits = got.count { case (p, id) => id >= 1000L && id < 2000L }
    assert(got.size == 20, s"every probe must retrieve something, got ${got.size}")
    assert(hits >= 18, s"recall@1 ${hits / 20.0}")
  }

  test("batch LSH retrieval never hands a probe its own id") {
    val df = clustered.cache()
    val got = SimilaritySearch
      .topKCosineLshBatch(df.filter(col("vec_id") < 2000), "vec_id",
        df, "vec_id", "embedding", k = 3)
      .collect()
    assert(got.forall(r => r.getAs[Long]("probe_id") != r.getAs[Long]("id")))
  }

  test("IVF retrieval: an exact duplicate always lands in its twin's list and is found at rk=1") {
    val df = clustered.cache()
    // plant exact copies (identical vectors -> identical rounded cosines
    // to every centroid -> same argmax list by the id tiebreak)
    val twins = df.filter(col("vec_id") < 2000)
      .select((col("vec_id") + 50000).as("vec_id"), col("embedding"))
    val corpus = df.unionByName(twins)
    val got = SimilaritySearch
      .topKCosineIvf(twins, "vec_id", corpus, "vec_id", "embedding",
        k = 1, coarseK = 1, subK = 16, nprobeCells = 1, nprobeLeaves = 1)
      .collect().map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("vec_id")).toMap
    assert(got.size == twins.count(), "every twin probe retrieves something")
    assert(got.forall { case (p, id) => id == p - 50000 },
      "rk=1 hit must be the planted twin (cos = 1)")
  }

  test("IVF with nprobe = nlist degenerates to the exact brute-force ranking") {
    val df = clustered.cache()
    val probes = df.filter(col("vec_id") === 1000L)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val ivf = SimilaritySearch
      .topKCosineIvf(probes, "probe_id", df, "vec_id", "embedding",
        k = 10, coarseK = 1, subK = 8, nprobeCells = 1, nprobeLeaves = 8)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    val exact = SimilaritySearch.topKCosine(df, "vec_id", "embedding", 1000L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.toSeq == exact.toSeq, "full-probe IVF must equal the exact scan")
  }

  test("Lloyd rounds tighten the codebook: quantization cosine and recall@1 never degrade") {
    val df = clustered.cache()
    // quantization quality: mean best-centroid cosine over the corpus,
    // seed codebook vs the Lloyd-refined one. Lloyd's assign+mean
    // rounds climb exactly this objective (spherical k-means), so the
    // refined codebook must be at least as tight — on this clustered
    // corpus, strictly tighter.
    def meanBestCos(cents: org.apache.spark.sql.DataFrame): Double =
      df.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.cosine(col("embedding"), col("_cent_vec")), 6).as("c"))
        .groupBy(col("vec_id")).agg(max(col("c")).as("best"))
        .agg(avg(col("best"))).head().getDouble(0)
    val seed = SimilaritySearch.hashCentroids(df, "vec_id", "embedding", 16)
    val lloyd = SimilaritySearch.trainIvf(df, "vec_id", "embedding", 1, 16)
      .leaves.map(l => (l._2, l._3)).toDF("_cent_id", "_cent_vec")
    val (qSeed, qLloyd) = (meanBestCos(seed), meanBestCos(lloyd))
    assert(qLloyd > qSeed,
      f"Lloyd codebook no tighter than the seed: $qLloyd%.4f <= $qSeed%.4f")

    // recall@1 at equal nprobe: cluster members probe for their true
    // nearest neighbor (a cluster-mate); the refined codebook must not
    // lose any probe the seed codebook found
    val probes = df.filter(col("vec_id") < 3000)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val truth = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.vec_id") < 3000 && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("p"), col("b.vec_id").as("c"),
        round(graft.functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("p")).orderBy(col("cos").desc, col("c"))))
      .filter(col("rk") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SimilaritySearch
      .topKCosineIvf(probes, "probe_id", df, "vec_id", "embedding",
        k = 1, coarseK = 1, subK = 16, nprobeCells = 1, nprobeLeaves = 2)
      .collect().map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("vec_id")).toMap
    val recall = truth.count { case (p, t) => got.get(p).contains(t) }.toDouble / truth.size
    assert(recall >= 0.9, f"Lloyd-IVF recall@1 $recall%.2f below contract")
  }

  test("IVF-PQ: ADC keeps true cluster-mates in the rerank set") {
    val df = clustered.cache()
    // one probe per planted cluster; cluster-mates sit at cos ~0.999,
    // everything else at ~0.3 — ADC over 4x8 codebooks preserves that
    // separation easily, so all k results must be same-cluster ids
    val probes = df.filter(col("vec_id").isin(0L, 1000L, 2000L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val got = SimilaritySearch
      .topKCosineIvfPq(probes, "probe_id", df, "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos")))
    assert(got.length == 9, s"3 probes x k=3 expected, got ${got.length}")
    got.foreach { case (p, id, cos) =>
      assert(id / 1000 == p / 1000, s"probe $p retrieved cross-cluster $id")
      assert(cos > 0.95, s"probe $p -> $id cos $cos not a cluster-mate")
    }
  }

  test("IVF-PQ twin retrieval: identical vectors share codes and rerank to rk=1") {
    val df = clustered.cache()
    // exact copies share the coarse list AND every PQ code; a wide ADC
    // cut (coarseK >= cluster size) keeps the twin past the shared-code
    // ADC ties (identical ADC scores tiebreak by id, and the twins'
    // planted ids are larger than their cluster-mates'), and the exact
    // rerank must then place it at rk=1 with cos = 1
    val twins = df.filter(col("vec_id") < 2000)
      .select((col("vec_id") + 50000).as("vec_id"), col("embedding"))
    val corpus = df.unionByName(twins)
    val got = SimilaritySearch
      .topKCosineIvfPq(twins, "vec_id", corpus, "vec_id", "embedding",
        k = 1, nlist = 16, nprobe = 1, coarseK = 60)
      .collect().map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("vec_id")).toMap
    assert(got.size == twins.count(), "every twin probe retrieves something")
    assert(got.forall { case (p, id) => id == p - 50000 },
      "rk=1 hit must be the planted twin (cos = 1)")
  }

  test("fused PQ subspace training == m independent lloydL2 ladders, bit for bit") {
    // trainPq replaces m sequential lloydL2 ladders with one seed
    // collect + one exploded moment aggregate per round. The
    // fusion claims NUMERIC IDENTITY — same seeds, same per-group value
    // multisets, same 6-dp rounded means — which this pins on the
    // clustered fixture at buildPqIndex's exact working frame
    // (unit-normalized, 6-dp re-anchored), over MULTIPLE rounds so a
    // divergence would compound and surface.
    val df = clustered.cache()
    val (m, ks, iters) = (4, 8, 2)
    val sub = dim / m
    val corpusD = df.select(col("vec_id").as("_id0"),
      expr("transform(embedding, x -> cast(x as double))").as("_v0"))
    val ncorp = corpusD
      .withColumn("_nrm", sqrt(org.apache.spark.sql.graft.NativeExpressions
        .vecDot(col("_v0"), col("_v0"))))
      .select(col("_id0"),
        expr("transform(_v0, x -> round(x / _nrm, 6))").as("_nv"))
    val fused = SimilaritySearch.trainPq(ncorp, "_id0", "_nv", m, sub, ks, iters)
    val unfused = (0 until m).map { s =>
      lloydL2(ncorp.select(col("_id0"),
        slice(col("_nv"), s * sub + 1, sub).as("_sv")), "_id0", "_sv", ks, iters)
    }
    assert(fused.size == m)
    (0 until m).foreach { s =>
      assert(fused(s).map(_._1) == unfused(s).map(_._1),
        s"subspace $s centroid ids diverged")
      fused(s).zip(unfused(s)).foreach { case ((cid, fv), (_, uv)) =>
        assert(fv == uv, s"subspace $s cent $cid: fused $fv != unfused $uv")
      }
    }
  }

  test("PQ index survives a parquet round-trip: search-from-store == direct") {
    val df = clustered.cache()
    val probes = df.filter(col("vec_id").isin(0L, 1000L, 2000L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def asSet(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getAs[Long]("probe_id"), x.getAs[Long]("vec_id"),
        x.getAs[Double]("cos"), x.getAs[Int]("rk"))).toSet
    val direct = asSet(SimilaritySearch.topKCosineIvfPq(
      probes, "probe_id", df, "vec_id", "embedding", k = 3))
    val dir = java.nio.file.Files.createTempDirectory("pq-store").toString
    SimilaritySearch.writePqIndex(
      SimilaritySearch.buildPqIndex(df, "vec_id", "embedding"), dir)
    val loaded = SimilaritySearch.readPqIndex(spark, dir)
    val fromStore = asSet(SimilaritySearch.searchPqIndex(
      probes, "probe_id", df, "vec_id", "embedding", loaded, k = 3))
    assert(fromStore == direct, s"store path diverged:\n$fromStore\nvs\n$direct")
  }

  test("int8 and PQ searches and the PQ codes match the flat path's fingerprints") {
    val df = clustered.cache()
    val probes = df.filter(col("vec_id").isin(0L, 1000L, 2000L, 9000L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def rows(d: DataFrame) = fingerprint(d.collect().map(r =>
      s"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)},${r.getInt(3)}"))
    val rerank = rows(SimilaritySearch.topKCosineIvfRerank(probes, "probe_id",
      df, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4, coarseK = 12))
    val pq = rows(SimilaritySearch.topKCosineIvfPq(probes, "probe_id",
      df, "vec_id", "embedding", k = 5))
    val coded = fingerprint(SimilaritySearch.buildPqIndex(df, "vec_id", "embedding")
      .coded.collect().map(_.toSeq.mkString(",")))
    assert(rerank == FlatFingerprints.rerankRows, s"int8 rerank rows moved: $rerank")
    assert(pq == FlatFingerprints.pqRows, s"PQ rows moved: $pq")
    assert(coded == FlatFingerprints.pqCoded, s"PQ codes moved: $coded")
  }

  test("a PQ store in the flat layout (cents table, no leaves) loads and searches like the direct index") {
    import spark.implicits._
    val df = clustered.cache()
    val probes = df.filter(col("vec_id").isin(0L, 1000L, 2000L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def asSet(r: DataFrame) =
      r.collect().map(x => (x.getAs[Long]("probe_id"), x.getAs[Long]("vec_id"),
        x.getAs[Double]("cos"), x.getAs[Int]("rk"))).toSet
    val index = SimilaritySearch.buildPqIndex(df, "vec_id", "embedding")
    // the flat writer's layout: coarse lists as (_cent_id, _cent_vec)
    // rows, codebooks as (space, pos, cent_id, cv) rows, coded corpus
    val dir = java.nio.file.Files.createTempDirectory("pq-store-flat").toString
    index.codebook.leaves.map(l => (l._2, l._3)).toDF("_cent_id", "_cent_vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cents")
    index.codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case ((cid, v), i) => (s, i + 1, cid, v) }
    }.toDF("space", "pos", "cent_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    index.coded.write.mode("overwrite").parquet(s"$dir/coded")
    val fromStore = asSet(SimilaritySearch.searchPqIndex(probes, "probe_id",
      df, "vec_id", "embedding", SimilaritySearch.readPqIndex(spark, dir), k = 3))
    val direct = asSet(SimilaritySearch.searchPqIndex(probes, "probe_id",
      df, "vec_id", "embedding", index, k = 3))
    assert(fromStore == direct, s"flat-layout store diverged:\n$fromStore\nvs\n$direct")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("encodePq increments are searchable against the frozen index") {
    val df = clustered.cache()
    val index = SimilaritySearch.buildPqIndex(df, "vec_id", "embedding")
    // an increment of exact copies: frozen codebooks must assign the
    // same list and the same m codes as the originals got at build time
    val twins = df.filter(col("vec_id") < 2000)
      .select((col("vec_id") + 50000).as("vec_id"), col("embedding"))
    val inc = SimilaritySearch.encodePq(twins, "vec_id", "embedding", index)
    val orig = index.coded.collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    inc.collect().foreach { r =>
      assert(r.toSeq.tail == orig(r.getLong(0) - 50000),
        s"codes diverged for ${r.getLong(0)}")
    }
    // and the grown store finds each twin's original at rk=1 (cos = 1)
    val grown = index.copy(coded = index.coded.unionByName(inc))
    val corpus = df.unionByName(twins)
    val got = SimilaritySearch.searchPqIndex(twins, "vec_id",
        corpus, "vec_id", "embedding", grown, k = 1, nprobe = 1, coarseK = 60)
      .collect().map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("vec_id")).toMap
    assert(got.forall { case (p, id) => id == p - 50000 },
      "rk=1 from the grown store must be the planted twin")
  }

  test("wide-codebook assignment (nlist > 32) matches a brute-force argmax exactly") {
    // nlist = 40 is past the 32 centroids the literal-fold assignment
    // once ran; the pin is an independent test-side recompute: for
    // every vector, the max of (6-dp HALF_UP rounded cosine, -cent_id)
    // over the trained centroids — the nearest-centroid contract.
    val df = clustered.cache()
    val nlist = 40
    val cents = SimilaritySearch.trainIvf(df, "vec_id", "embedding", 1, nlist)
      .leaves.map { case (_, cid, cv) => (cid, cv.toArray) }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = df.collect().map { r =>
      val vid = r.getLong(0)
      val v = r.getSeq[Double](1).toArray
      val best = cents.map { case (cid, cv) => (round6(cos(v, cv)), -cid) }.max
      vid -> ((-best._2, best._1))
    }.toMap
    val got = SimilaritySearch.assignClusters(df, "vec_id", "embedding", 1, nlist)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.size == expected.size)
    expected.foreach { case (vid, e) =>
      assert(got(vid) == e, s"vec $vid: got ${got(vid)} want $e")
    }
  }

  test("autoNprobe terminates, meets the recall target, and is ladder-minimal") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val ((_, np), rec, _) = SimilaritySearch.autoNprobe(probes, "probe_id",
      emb, "vec_id", "embedding", k = 10, coarseK = 1, subK = 16, targetRecall = 0.9)
    val ladder = Seq(1, 2, 4, 8, 16)
    assert(ladder.contains(np), s"nprobe=$np off the ladder")
    assert(rec >= 0.9, s"tuned recall $rec below target")
    // minimality: the next ladder value DOWN must miss the target
    // (computed through the registered IVF plan, the search's arm)
    def recallAt(p: Int): Double = {
      val ivf = SimilaritySearch.topKCosineIvf(probes, "probe_id",
          emb, "vec_id", "embedding", k = 10, coarseK = 1, subK = 16,
          nprobeCells = 1, nprobeLeaves = p)
        .select(col("probe_id"), col("vec_id"))
      val pb = probes.select(col("probe_id"), col("embedding").as("pvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
      val exact = emb.crossJoin(broadcast(pb))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.cosine(
            col("embedding"), col("pvec")), 6).as("cos"))
        .withColumn("erk", row_number().over(w))
        .filter(col("erk") <= 10)
        .select(col("probe_id"), col("vec_id"))
      exact.join(ivf, Seq("probe_id", "vec_id"), "left_semi").count().toDouble / 50.0
    }
    if (np > 1) {
      val prev = ladder.takeWhile(_ < np).last
      assert(recallAt(prev) < 0.9, s"nprobe=$prev already meets the target")
    }
    // and the tuned recall the search reports is the plan's real recall
    assert(math.abs(recallAt(np) - rec) < 1e-12)
    // On a corpus WITH structure the tuner must exploit it: cluster
    // members find their true top-10 among cluster-mates, so a probe
    // per cluster needs only a few lists — the full-scan escalation
    // (nprobe = nlist) that the random fixture forces would be wrong
    // here.
    val cdf = clustered.cache()
    val cprobes = cdf.filter(col("vec_id").isin(0L, 1000L, 2000L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val ((_, cnp), crec, _) = SimilaritySearch.autoNprobe(cprobes, "probe_id",
      cdf, "vec_id", "embedding", k = 10, coarseK = 1, subK = 16, targetRecall = 0.9)
    assert(crec >= 0.9)
    assert(cnp < 16, s"tuner escalated to a full scan on a clustered corpus (nprobe=$cnp)")
  }

  test("semanticDedup finds exact twins at ANY nlist (the scale knob never costs recall on true dups)") {
    val df = clustered.cache()
    val twins = df.filter(col("vec_id") < 1100)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    val corpus = df.unionByName(twins)
    val expected = twins.collect().map(_.getLong(0)).toSet
    Seq(2, 8, 32).foreach { nlist =>
      val dropped = SimilaritySearch
        .semanticDedup(corpus, "vec_id", "embedding", 1, nlist, threshold = 0.999)
        .filter(col("is_dropped"))
        .collect().map(_.getLong(0)).toSet
      // every exact twin drops (same direction => same cluster at any
      // nlist, cos = 1); drops beyond the twins are allowed only if the
      // synthetic clusters contain genuine >= 0.999 pairs — they don't.
      assert(dropped == expected, s"nlist=$nlist: ${dropped.size} vs ${expected.size}")
    }
  }

  test("deriveNlist: 16 floor, power-of-two snap at the target cluster size, 4096 cap") {
    import SimilaritySearch.{deriveNlist, TargetClusterSize, MaxAutoNlist}
    assert(deriveNlist(0L) == 16)
    assert(deriveNlist(1000L) == 16)
    assert(deriveNlist(16L * TargetClusterSize) == 16)       // exactly at the floor
    assert(deriveNlist(16L * TargetClusterSize + 1) == 32)   // one past it snaps up
    assert(deriveNlist(200000L) == 256)  // the 100x fixture: the measured
                                         // flat region of the SCALING.md table
    assert(deriveNlist(100L * TargetClusterSize * MaxAutoNlist) == MaxAutoNlist)
    // every derivable value is a power of two inside [16, 4096]
    Seq(1L, 50000L, 200000L, 10000000L).foreach { n =>
      val d = deriveNlist(n)
      assert((d & (d - 1)) == 0 && d >= 16 && d <= MaxAutoNlist, s"n=$n -> $d")
    }
  }

  test("auto nlist == explicit nlist at the derived value (the front door changes no output)") {
    val df = clustered.cache()
    val twins = df.filter(col("vec_id") < 1100)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    val corpus = df.unionByName(twins)
    val derived = SimilaritySearch.deriveNlist(corpus.count())
    def rows(coarseK: Int, subK: Int) = SimilaritySearch
      .semanticDedup(corpus, "vec_id", "embedding", coarseK, subK, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(rows(SimilaritySearch.AutoNlist, SimilaritySearch.AutoNlist) == rows(1, derived))
    // and the index builder freezes the same derivation plus the
    // corpus size it trained at (the staleness denominator)
    val idx = SimilaritySearch.buildSemanticIndex(corpus, "vec_id", "embedding",
      threshold = 0.999)
    val idxExplicit = SimilaritySearch.buildSemanticIndex(corpus, "vec_id",
      "embedding", coarseK = 1, subK = derived, threshold = 0.999)
    assert(idx.codebook == idxExplicit.codebook)
    assert(idx.builtN == corpus.count())
  }

  test("semantic_dedup drops exactly the planted twins, keeps every natural vector") {
    // The registered query plants scaled copies (vec_id + 10000) of
    // every vec_id < 50; within-cluster cosine >= 0.99 must drop each
    // twin (higher id of its pair) and NOTHING else — the natural
    // corpus maxes at cos ~0.51, so a single extra drop means the
    // cluster-bounded pair stage leaked a false positive.
    val out = SparkEntry.queries("semantic_dedup")(spark, "/root/testdata/sf0.001")
      .collect()
    val totalVecs = out.map(_.getAs[Long]("n_vecs")).sum
    val totalDropped = out.map(_.getAs[Long]("n_dropped")).sum
    val nEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert(totalVecs == nEmb + 50, s"union size $totalVecs")
    assert(totalDropped == 50, s"dropped $totalDropped")
    // every cluster keeps at least its smallest member, and the kept
    // arithmetic reconciles
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_vecs") - r.getAs[Long]("n_dropped"))
      assert(!r.isNullAt(r.fieldIndex("min_kept_vec")))
    }
  }

  test("two-level quantizer at coarseK=1 is EXACTLY the flat quantizer (codebook and dedup rows)") {
    // With one coarse cell, the per-cell seed order is the global md5
    // order and the sub-Lloyd rounds are the flat Lloyd rounds — so
    // the leaves must equal the flat codebook entry-for-entry, and the
    // dedup verdicts (including cluster ids, which stay the seed ids)
    // must be row-identical. This pins the hierarchical tier to the
    // oracle-verified flat path at the overlap point.
    val df = clustered.cache()
    val twins = df.filter(col("vec_id") < 1100)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    val corpus = df.unionByName(twins)
    val cb = SimilaritySearch.trainIvf(corpus, "vec_id", "embedding",
      coarseK = 1, subK = 16)
    val flatCents = SimilaritySearch
      .assignClusters(corpus, "vec_id", "embedding", 1, 16)
    val twoRows = SimilaritySearch
      .semanticDedup(corpus, "vec_id", "embedding", 1, 16, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(cb.leafCount == 16)
    assert(cb.leaves.forall(_._1 == cb.coarse.head._1)) // one cell holds every leaf
    // the flat quantizer's codebook and dedup rows (FlatFingerprints)
    assert(fingerprint(cb.leaves.map { case (_, id, v) => s"$id:${v.mkString(",")}" }) ==
      FlatFingerprints.codebook)
    assert(fingerprint(twoRows.map { case (i, c, d) => s"$i,$c,$d" }) ==
      FlatFingerprints.dedupRows)
    // and the flat assignment's cluster-id set equals the leaf-id set
    val leafIds = cb.leaves.map(_._2).toSet
    val flatIds = flatCents.select("cluster_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(flatIds.subsetOf(leafIds))
  }

  test("two-level dedup drops exactly the planted twins (recall parity with flat on true dups)") {
    // Identical direction ⇒ identical argmax at BOTH levels, so a
    // scaled twin always lands in its original's leaf regardless of
    // codebook shape — recall on true duplicates is tier-independent.
    val df = clustered.cache()
    val twins = df.filter(col("vec_id") < 1100)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    val corpus = df.unionByName(twins)
    val expected = twins.collect().map(_.getLong(0)).toSet
    val dropped = SimilaritySearch
      .semanticDedup(corpus, "vec_id", "embedding",
        coarseK = 4, subK = 4, threshold = 0.999)
      .filter(col("is_dropped"))
      .collect().map(_.getLong(0)).toSet
    assert(dropped == expected, s"${dropped.size} vs ${expected.size}")
  }

  test("trainTwoLevel is deterministic (identical codebook across runs)") {
    val df = clustered.cache()
    val a = SimilaritySearch.trainIvf(df, "vec_id", "embedding", 4, 4)
    val b = SimilaritySearch.trainIvf(df, "vec_id", "embedding", 4, 4)
    assert(a.coarse == b.coarse)
    assert(a.leaves == b.leaves)
    // every leaf's cell is a real coarse cell, and no leaf id repeats
    val cellIds = a.coarse.map(_._1).toSet
    assert(a.leaves.forall(l => cellIds.contains(l._1)))
    assert(a.leaves.map(_._2).distinct.size == a.leaves.size)
  }

  test("two-level frozen index at coarseK=1 == flat index: kept set and increment verdicts") {
    val df = clustered.cache()
    val two = SimilaritySearch.buildSemanticIndex(df, "vec_id", "embedding",
      coarseK = 1, subK = 16, threshold = 0.999)
    assert(two.builtN == df.count())
    assert(two.codebook == SimilaritySearch.trainIvf(df, "vec_id", "embedding", 1, 16))
    def keptSet(i: SimilaritySearch.SemanticIndex) = i.kept
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the flat index's kept set and increment verdicts (FlatFingerprints)
    assert(fingerprint(keptSet(two).map { case (i, c) => s"$i,$c" }) == FlatFingerprints.keptSet)
    // an increment of twins (dups vs store) + reversed vectors (novel)
    // must get identical verdicts through either assignment path
    val inc = df.filter(col("vec_id") < 1010)
      .select((col("vec_id") + 70000).as("vec_id"), col("embedding"))
      .unionByName(df.filter(col("vec_id") < 1005)
        .select((col("vec_id") + 80000).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
    def verdicts(i: SimilaritySearch.SemanticIndex) = SimilaritySearch
      .semanticDedupAgainstIndex(inc, "vec_id", "embedding", i, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(fingerprint(verdicts(two).map { case (i, c, d) => s"$i,$c,$d" }) ==
      FlatFingerprints.incVerdicts)
  }

  test("paraphrase_dedup separates verbatim copies from paraphrases exactly") {
    // 20 planted verbatim copies (same text -> textual_dup), 20
    // planted paraphrases (token-shuffled text, same direction ->
    // semantic-only), nothing else at cos >= 0.99 — and each pair
    // links a base id to its own planted copy.
    val out = SparkEntry.queries("paraphrase_dedup")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 40, s"${out.length} pairs")
    val (textual, para) = out.partition(_.getBoolean(3))
    assert(textual.length == 20 && para.length == 20)
    textual.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 10000, r.toString)
      assert(r.getDouble(2) >= 0.99)
    }
    para.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 20000, r.toString)
      assert(r.getDouble(2) >= 0.99)
    }
  }

  test("SemanticIndex survives a parquet round-trip: verdicts-from-store == direct (both tiers)") {
    val df = clustered.cache()
    val inc = df.filter(col("vec_id") < 1010)
      .select((col("vec_id") + 70000).as("vec_id"), col("embedding"))
      .unionByName(df.filter(col("vec_id") < 1005)
        .select((col("vec_id") + 80000).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
    def verdicts(i: SimilaritySearch.SemanticIndex) = SimilaritySearch
      .semanticDedupAgainstIndex(inc, "vec_id", "embedding", i, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    Seq(
      SimilaritySearch.buildSemanticIndex(df, "vec_id", "embedding",
        coarseK = 1, subK = 8, threshold = 0.999),
      SimilaritySearch.buildSemanticIndex(df, "vec_id", "embedding",
        coarseK = 2, subK = 4, threshold = 0.999)
    ).foreach { idx =>
      val dir = java.nio.file.Files.createTempDirectory("graft_semidx").toString
      SimilaritySearch.writeSemanticIndex(idx, dir)
      val back = SimilaritySearch.readSemanticIndex(spark, dir)
      assert(back.builtN == idx.builtN)
      assert(back.codebook.leaves.toSet == idx.codebook.leaves.toSet)
      assert(back.codebook.coarse.toSet == idx.codebook.coarse.toSet)
      assert(verdicts(back) == verdicts(idx))
      // the persisted kept store is bucketed by cluster group (the
      // partition-prunable layout), the bucketing matches clusterGroup,
      // and pruning to a group set keeps exactly that set's rows
      assert(back.kept.columns.contains("cluster_grp"))
      assert(back.kept.filter(col("cluster_grp") =!=
        SimilaritySearch.clusterGroup(col("cluster_id"))).count() == 0)
      val grps = back.kept
        .select(SimilaritySearch.clusterGroup(col("cluster_id")).as("g"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val some = grps.take(1)
      val pruned = SimilaritySearch.pruneKeptToGroups(back.kept, some)
      assert(pruned.count() ==
        back.kept.filter(SimilaritySearch.clusterGroup(col("cluster_id"))
          .isin(some: _*)).count())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("two-level ANN at coarseK=1 == flat IVF (same lists, same ranks), twins at rk=1") {
    val df = clustered.cache()
    val probes = df.filter(col("vec_id").isin(1000L, 2000L, 9000L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // one coarse cell holding all 16 leaves routes exactly like the
    // flat 16-list codebook at nprobe=4
    val two = rows(SimilaritySearch.topKCosineIvf(probes, "probe_id",
      df, "vec_id", "embedding", k = 5, coarseK = 1, subK = 16,
      nprobeCells = 1, nprobeLeaves = 4))
    // the flat IVF's top-k rows (FlatFingerprints)
    assert(fingerprint(two.map { case (p, v, c, r) => s"$p,$v,$c,$r" }) ==
      FlatFingerprints.topKRows)
    // an exact duplicate shares both routing levels with its twin, so
    // it is always found at rk=1 at ANY codebook shape
    val twin = df.filter(col("vec_id") === 1000L)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    val corpus = df.unionByName(twin)
    val hit = SimilaritySearch.topKCosineIvf(
        corpus.filter(col("vec_id") === 91000L)
          .select(col("vec_id").as("probe_id"), col("embedding")), "probe_id",
        corpus, "vec_id", "embedding", k = 3, coarseK = 4, subK = 4,
        nprobeCells = 2, nprobeLeaves = 4)
      .filter(col("rk") === 1).collect().head
    assert(hit.getLong(1) == 1000L && hit.getDouble(2) == 1.0)
  }

  test("deriveTwoLevel: flat in the fold/budget regimes, covering factorization past either bound") {
    import SimilaritySearch.{deriveTwoLevel, deriveNlist, FlatAssignRowBudget,
      SmallFlatNlist, TargetClusterSize}
    // fold-regime and measured-good exploded sizes stay flat: the 100×
    // fixture (200k vectors, nlist=256, 5.1e7 candidate rows) is the
    // SCALING.md 19.8 s row and must keep its plan
    assert(deriveTwoLevel(0L).isEmpty)
    assert(deriveTwoLevel(200000L).isEmpty)
    assert(deriveTwoLevel(500000L).isEmpty) // 512 leaves, 2.6e8 rows: inside budget
    // the ROW budget dispatches before the leaf cap does: 1M vectors
    // would be flat nlist=1024 = 1.02e9 candidate rows — just past the
    // measured-safe mass (flat 4.1e9 at 1M×4096 ENOSPC-died; SCALING.md)
    assert(deriveTwoLevel(1048577L).nonEmpty)
    // and the leaf cap alone dispatches even if the budget were huge
    assert(deriveTwoLevel(100000000L).nonEmpty)
    // every dispatched shape: powers of two, coarseK² <= raw, coverage,
    // and a real assignment-mass win over the flat plan it replaces
    Seq(1500000L, 5000000L, 8L * 1024 * 1024, 100000000L, 1000000000L).foreach { n =>
      val raw = math.max(16L, (n + TargetClusterSize - 1) / TargetClusterSize)
      val Some((c, s)) = deriveTwoLevel(n)
      assert((c & (c - 1)) == 0 && (s & (s - 1)) == 0, s"n=$n -> ($c,$s)")
      assert(c.toLong * c <= raw && c >= 16, s"n=$n coarseK=$c")
      assert(c.toLong * s >= raw, s"n=$n ($c,$s) covers raw=$raw")
      // win vs the flat plan it replaces: the capped-4096 codebook in
      // the budget band, the TRUE (uncapped) leaf need past the cap
      assert(c.toLong + s < math.max(deriveNlist(n).toLong, raw) / 4,
        s"n=$n assignment win too small")
    }
    // never dispatched INTO the fold regime's replacement while the
    // fold itself is still the plan (nlist <= 32 materializes no rows)
    assert(deriveNlist(32L * TargetClusterSize) <= SmallFlatNlist &&
      deriveTwoLevel(32L * TargetClusterSize).isEmpty)
    // the 1B-row shape a 100 TB corpus would dispatch: ~1M leaves
    val Some((cBig, sBig)) = deriveTwoLevel(1000000000L)
    assert(cBig.toLong * sBig >= 976563L && cBig + sBig <= 3072,
      s"1B rows -> ($cBig,$sBig)")
    assert(FlatAssignRowBudget == 1000000000L)
  }

  test("explicit-nlist flat search completes under a tiny scratch budget") {
    import graft.operators.Dedup
    val df = clustered.cache()
    // ~200 vectors x nlist=64 x 560 B would exceed a mocked 1 KiB
    // budget, but the search ranks lists in the scan and materializes
    // no (vector, centroid) rows, so nothing refuses
    Dedup.scratchBytesOverride = Some(1L << 10)
    try {
      val perProbe = SimilaritySearch.topKCosineIvf(
          df.limit(3).select(col("vec_id").as("probe_id"), col("embedding")),
          "probe_id", df, "vec_id", "embedding", k = 3, coarseK = 1, subK = 64,
          nprobeCells = 1, nprobeLeaves = 4)
        .groupBy(col("probe_id")).count().collect().map(_.getLong(1))
      assert(perProbe.toSeq == Seq(3L, 3L, 3L), s"rows per probe: ${perProbe.toSeq}")
      // the flat assignment materializes no candidate rows — it never
      // counts, never refuses
      assert(SimilaritySearch.assignClusters(df, "vec_id", "embedding", 1, 16)
        .count() == df.count())
      // and the AUTO front door keeps dispatching itself, never throws
      // (small corpus -> flat; large corpus -> two-level)
      assert(SimilaritySearch.semanticDedup(df, "vec_id", "embedding")
        .count() == df.count())
    } finally Dedup.scratchBytesOverride = None
  }

  test("nearDupPairs: LSH and two-level pair sources emit the SAME pair set on planted twins") {
    // the paraphrase-triage regime: exact-direction twins (cos ~ 1)
    // must be caught by BOTH candidate sources — sign-LSH (identical
    // directions collide in every table) and the leaf join (identical
    // directions share the argmax at both quantizer levels) — and the
    // 0.999 threshold excludes the fixture's natural cluster-mates
    // (cos ~ 0.987), so the emitted set is exactly the planted pairs.
    val df = clustered.cache()
    val twins = df.filter(col("vec_id") < 20)
      .select((col("vec_id") + 90000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01)).as("embedding"))
    val corpus = df.unionByName(twins).cache()
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 20L).map(i => (i, i + 90000)).toSet
    val lsh = pairSet(SimilaritySearch.nearDupPairsLsh(
      corpus, "vec_id", "embedding", threshold = 0.999))
    val two = pairSet(SimilaritySearch.nearDupPairsTwoLevel(
      corpus, "vec_id", "embedding", threshold = 0.999, coarseK = 4, subK = 4))
    assert(lsh == expected, s"LSH pair set ${lsh.size}")
    assert(two == expected, s"two-level pair set ${two.size}")
    // the front door within the candidate budget IS the LSH path
    val auto = pairSet(SimilaritySearch.nearDupPairsAuto(
      corpus, "vec_id", "embedding", threshold = 0.999))
    assert(auto == lsh)
    // ... and a 1-row budget forces the TWO-LEVEL route through the
    // SAME front door, emitting the same planted set
    val forced = pairSet(SimilaritySearch.nearDupPairsAuto(
      corpus, "vec_id", "embedding", threshold = 0.999, candidateBudget = 1L))
    assert(forced == expected)
  }

  test("pair-source dispatch: exact candidate mass, spec-pinned route rule") {
    import SimilaritySearch.{lshBuckets, lshCandidateMass, pairSourceRoute, twoLevelShape,
      LshCandidateRowBudget}
    // 8 identical vectors share every bucket in both tables: mass is
    // exactly 2 * C(8,2); growing the group to 10 raises it to 2 * C(10,2).
    // The corpus count n rides the SAME histogram (Σ cnt over table 0) —
    // the routing pass is ONE scan, never a mass scan plus a count scan.
    val v = (0 until dim).map(i => math.sin(i + 1.0))
    def identical(n: Int) =
      (0 until n).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    def mass(n: Int) = lshCandidateMass(lshBuckets(identical(n), "vec_id", "embedding", 16, 2, dim))
    assert(mass(8) == ((56L, 8L)))
    assert(mass(10) == ((90L, 10L)))
    // the route rule is leftmost-cheap: lsh within budget, two-level past
    assert(pairSourceRoute(0L) == "lsh")
    assert(pairSourceRoute(LshCandidateRowBudget) == "lsh")
    assert(pairSourceRoute(LshCandidateRowBudget + 1) == "two-level")
    // the forced-tier shape matches deriveTwoLevel's Some branch where
    // both exist, and factors sanely below the count threshold
    assert(SimilaritySearch.deriveTwoLevel(5000000L)
      .contains(twoLevelShape(5000000L)))
    val (c, s) = twoLevelShape(200100L)
    assert((c & (c - 1)) == 0 && (s & (s - 1)) == 0 && c.toLong * s >= 196L)
  }

  test("paraphrase_dedup's dispatched pair source is lossless vs exact all-pairs (fixture-drift canary)") {
    // The registered query's hash gate encodes a data-dependent
    // losslessness assumption: every cos >= 0.99 pair must surface
    // from the dispatched candidate source. This spec asserts that
    // equality directly so a break points at FIXTURE DRIFT (a
    // naturally near-parallel pair missing both 16-bit hash tables
    // after a testdata regeneration), not at a dedup regression.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def scaledEmb = transform(col("embedding"),
      x => (x.cast("double") * lit(1.01)).cast("float")).as("embedding")
    val verbatim = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), scaledEmb)
    val para = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
      .select((col("vec_id") + 20000).as("vec_id"), scaledEmb)
    val corpus = emb.unionByName(verbatim).unionByName(para).cache()
    val dispatched = SimilaritySearch.nearDupPairsAuto(
        corpus, "vec_id", "embedding", threshold = 0.99)
      .select(col("i"), col("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = corpus.select(col("vec_id").as("i"),
      expr("transform(embedding, x -> cast(x as double))").as("va"))
    val b = corpus.select(col("vec_id").as("j"),
      expr("transform(embedding, x -> cast(x as double))").as("vb"))
    val exact = a.join(b, col("i") < col("j"))
      .filter(graft.functions.VectorFunctions.cosine(col("va"), col("vb")) >= 0.99)
      .select(col("i"), col("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dispatched == exact,
      s"candidate source lost ${(exact -- dispatched).size} / gained " +
        s"${(dispatched -- exact).size} pairs vs exact all-pairs — if this " +
        "fires after a testdata regeneration it is FIXTURE DRIFT (a natural " +
        "near-parallel pair missed both sign-LSH tables), not a dedup " +
        "regression: re-plant or reroute the pair source, don't debug the join")
  }

  test("twoLevelLadder: doubling leaves, tracking cells, terminal is the full scan") {
    import SimilaritySearch.twoLevelLadder
    assert(twoLevelLadder(4, 4) == Seq((1, 1), (1, 2), (2, 4), (4, 8), (4, 16)))
    // a leaf count that is not a power of two still ends on the full scan
    assert(twoLevelLadder(1, 12) == Seq((1, 1), (1, 2), (1, 4), (1, 8), (1, 12)))
    assert(twoLevelLadder(3, 4) == Seq((1, 1), (1, 2), (2, 4), (3, 8), (3, 12)))
    Seq((4, 4), (16, 16), (64, 128), (2, 8), (1, 12), (3, 4)).foreach { case (c, s) =>
      val l = twoLevelLadder(c, s)
      assert(l.last == (c, c * s), s"($c,$s) terminal ${l.last}")
      // leaves double before the terminal, which is at most one doubling on
      val doubling = l.init
      assert(doubling.map(_._2) == doubling.indices.map(1 << _), s"($c,$s) leaves not doubling")
      assert(doubling.forall(_._2 < c * s) && 2 * l.takeRight(2).head._2 >= c * s,
        s"($c,$s) doubling steps overshoot or stop short")
      l.foreach { case (cc, lv) =>
        assert(cc >= 1 && cc <= c, s"($c,$s) cells $cc off range")
      }
      // the doubling steps' cells are powers of two, or capped at coarseK
      doubling.foreach { case (cc, _) =>
        assert((cc & (cc - 1)) == 0 || cc == c, s"($c,$s) cells $cc not a power of two")
      }
      // cells are monotone non-decreasing along the ladder
      assert(l.map(_._1) == l.map(_._1).sorted)
    }
  }

  test("autoNprobeTwoLevel meets the target and reports the search plan's real recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val ((cells, leaves), rec, _) = SimilaritySearch.autoNprobe(
      probes, "probe_id", emb, "vec_id", "embedding",
      k = 10, coarseK = 4, subK = 4, targetRecall = 0.9)
    val ladder = SimilaritySearch.twoLevelLadder(4, 4)
    assert(ladder.contains((cells, leaves)), s"($cells,$leaves) off the ladder")
    assert(rec >= 0.9, s"tuned recall $rec below target")
    // leftmost: every EARLIER ladder step must miss the target, and the
    // reported recall must equal the registered search plan's recall at
    // the tuned knobs (the oracle replays exactly this)
    def recallAt(c: Int, l: Int): Double = {
      val ivf = SimilaritySearch.topKCosineIvf(probes, "probe_id",
          emb, "vec_id", "embedding", k = 10, coarseK = 4, subK = 4,
          nprobeCells = c, nprobeLeaves = l)
        .select(col("probe_id"), col("vec_id"))
      val pb = probes.select(col("probe_id"), col("embedding").as("pvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
      val exact = emb.crossJoin(broadcast(pb))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.cosine(
            col("embedding"), col("pvec")), 6).as("cos"))
        .withColumn("erk", row_number().over(w))
        .filter(col("erk") <= 10)
        .select(col("probe_id"), col("vec_id"))
      exact.join(ivf, Seq("probe_id", "vec_id"), "left_semi").count().toDouble / 50.0
    }
    ladder.takeWhile(_ != ((cells, leaves))).foreach { case (c, l) =>
      assert(recallAt(c, l) < 0.9, s"earlier step ($c,$l) already meets the target")
    }
    assert(math.abs(recallAt(cells, leaves) - rec) < 1e-12)
    // terminal sanity: the full scan is recall 1.0 (the walk always ends)
    assert(recallAt(4, 16) == 1.0)
  }

  test("ladderHits: every ladder step's per-probe hits are those of topKCosineIvf's top-k") {
    // exact copies under new ids have equal rounded cosines, so id
    // tie-breaks decide which of a pair sits on the top-k boundary
    val dups = clustered.filter(col("vec_id") < 10 || col("vec_id").between(1000, 1004))
      .select((col("vec_id") + 50000).as("vec_id"), col("embedding"))
    val corpus = clustered.unionByName(dups).cache()
    val probes = corpus.filter(col("vec_id").isin(0L, 15L, 1000L, 2000L, 9000L, 50001L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val k = 5
    val pb = probes.select(col("probe_id"), col("embedding").as("pvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val ranked = corpus.crossJoin(broadcast(pb))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(graft.functions.VectorFunctions.cosine(
          col("embedding"), col("pvec")), 6).as("cos"))
      .withColumn("erk", row_number().over(w))
    val ties = ranked.filter(col("erk").isin(k, k + 1))
      .groupBy(col("probe_id")).agg(countDistinct(col("cos")).as("n"))
      .filter(col("n") === 1).count()
    assert(ties > 0, "no probe has a tie across its top-k boundary")
    val exact = ranked.filter(col("erk") <= k).select(col("probe_id"), col("vec_id"))
    val pids = probes.select(col("probe_id")).collect().map(_.getLong(0)).toSeq.sorted
    for ((c, s) <- Seq((1, 8), (2, 4))) {
      val steps = SimilaritySearch.ladderHits(probes, "probe_id",
        corpus, "vec_id", "embedding", k, c, s)
      assert(steps.map(_._1) == SimilaritySearch.twoLevelLadder(c, s))
      assert(steps.map(_._2).distinct.size > 1, s"($c,$s): every step has the same hits")
      steps.foreach { case ((cells, leaves), hits) =>
        val ivf = SimilaritySearch.topKCosineIvf(probes, "probe_id",
            corpus, "vec_id", "embedding", k = k, coarseK = c, subK = s,
            nprobeCells = cells, nprobeLeaves = leaves)
          .select(col("probe_id"), col("vec_id"))
        val counted = exact.join(ivf, Seq("probe_id", "vec_id"), "left_semi")
          .groupBy(col("probe_id")).count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(hits == pids.map(p => p -> counted.getOrElse(p, 0L)),
          s"($c,$s) step ($cells,$leaves): $hits vs $counted")
      }
    }
  }

  test("sampleProbes: deterministic md5 pick, drives the autotune to target") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val s1 = ids(SimilaritySearch.sampleProbes(emb, "vec_id", "embedding", n = 8))
    val s2 = ids(SimilaritySearch.sampleProbes(emb, "vec_id", "embedding", n = 8))
    assert(s1 == s2 && s1.size == 8, s"sample not deterministic: $s1 vs $s2")
    // the n smallest md5(id) — verified against a driver-side replay
    val expect = emb.select(col("vec_id")).collect().map(_.getLong(0))
      .sortBy(id => java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
      .take(8).toSet
    assert(s1 == expect)
    // the documented production path: sampled probes tune the two-level
    // ladder to the target without anyone hand-picking probe ids
    val probes = SimilaritySearch.sampleProbes(emb, "vec_id", "embedding", n = 8)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val ((cells, leaves), rec, _) = SimilaritySearch.autoNprobe(
      probes, "probe_id", emb, "vec_id", "embedding",
      k = 10, coarseK = 4, subK = 4, targetRecall = 0.9)
    assert(SimilaritySearch.twoLevelLadder(4, 4).contains((cells, leaves)))
    assert(rec >= 0.9, s"sampled autotune recall $rec below target")
  }

  test("semanticDedupAgainstIndex on an EMPTY increment returns an empty frame (no throw)") {
    // the streaming sink calls this per micro-batch; a replay/no-data
    // batch is empty and used to crash in dimOf's .first()
    val df = clustered.cache()
    val idx = SimilaritySearch.buildSemanticIndex(df, "vec_id", "embedding",
      coarseK = 1, subK = 8, threshold = 0.999)
    val empty = df.filter(col("vec_id") < 0)
      .select(col("vec_id"), col("embedding"))
    val out = SimilaritySearch.semanticDedupAgainstIndex(
      empty, "vec_id", "embedding", idx, threshold = 0.999)
    assert(out.columns.toSeq == Seq("vec_id", "cluster_id", "is_dropped"))
    assert(out.count() == 0L)
  }

  test("deriveStoreGroups: 64 floor at fixture scale, size-derived power of two past it, capped") {
    import SimilaritySearch.{deriveStoreGroups, SemanticStoreGroups,
      MaxSemanticStoreGroups, TargetStoreFileBytes}
    // every fixture-scale store keeps the historical 64 layout
    assert(deriveStoreGroups(0L, 64) == SemanticStoreGroups)
    assert(deriveStoreGroups(-1L, 64) == SemanticStoreGroups)
    assert(deriveStoreGroups(1000000L, 64) == SemanticStoreGroups)
    // 100M rows at d=64 ≈ 28 GB → files under 128 MiB need 256 groups
    assert(deriveStoreGroups(100000000L, 64) == 256)
    // monotone in size, always a power of two, always in [64, cap]
    var prev = 0
    for (n <- Seq(1L, 1000000L, 30000000L, 100000000L, 1000000000L, 100000000000L)) {
      val g = deriveStoreGroups(n, 64)
      assert((g & (g - 1)) == 0 && g >= SemanticStoreGroups &&
        g <= MaxSemanticStoreGroups, s"n=$n -> $g")
      assert(g >= prev, s"not monotone at n=$n")
      prev = g
    }
    assert(deriveStoreGroups(100000000000L, 64) == MaxSemanticStoreGroups)
    // under the cap, the derived layout actually meets the file target
    val n = 100000000L
    assert(n * (4L * 64 + 24) / deriveStoreGroups(n, 64) <= TargetStoreFileBytes)
  }

  test("size-derived store layout: meta carries the group count; prune + verdicts use it") {
    val df = clustered.cache()
    val inc = df.filter(col("vec_id") < 1010)
      .select((col("vec_id") + 70000).as("vec_id"), col("embedding"))
    def verdicts(i: SimilaritySearch.SemanticIndex) = SimilaritySearch
      .semanticDedupAgainstIndex(inc, "vec_id", "embedding", i, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val idx = SimilaritySearch.buildSemanticIndex(df, "vec_id", "embedding",
      coarseK = 1, subK = 8, threshold = 0.999)
    // force the size-derived regime: a builtN past the 64-group band
    // derives 256 groups at d=64 (the kept rows are the same tiny set —
    // the layout knob is what's under test)
    val big = idx.copy(builtN = 100000000L)
    val dir = java.nio.file.Files.createTempDirectory("graft_semidx_big").toString
    SimilaritySearch.writeSemanticIndex(big, dir)
    val back = SimilaritySearch.readSemanticIndex(spark, dir)
    assert(back.groups == 256, s"meta groups ${back.groups}")
    // bucket values follow the LAYOUT's count, not the 64 constant
    assert(back.kept.filter(col("cluster_grp") =!=
      SimilaritySearch.clusterGroup(col("cluster_id"), back.groups)).count() == 0)
    // verdicts are layout-independent (same kept set, different buckets)
    assert(verdicts(back) == verdicts(idx))
    // prune-set exactness under the derived layout
    val grps = back.kept
      .select(SimilaritySearch.clusterGroup(col("cluster_id"), back.groups).as("g"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val some = grps.take(1)
    val pruned = SimilaritySearch.pruneKeptToGroups(back.kept, some, back.groups)
    assert(pruned.count() == back.kept.filter(
      SimilaritySearch.clusterGroup(col("cluster_id"), back.groups)
        .isin(some: _*)).count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("pre-r16 store layout (no meta groups column) reads back at the 64 it was written with") {
    import spark.implicits._
    val df = clustered.cache()
    val idx = SimilaritySearch.buildSemanticIndex(df, "vec_id", "embedding",
      coarseK = 1, subK = 8, threshold = 0.999)
    // land the store EXACTLY as the r15 writer did: kept partitioned at
    // the 64 constant, meta = (built_n, two_level) only
    val dir = java.nio.file.Files.createTempDirectory("graft_semidx_old").toString
    idx.kept
      .withColumn("cluster_grp", SimilaritySearch.clusterGroup(col("cluster_id")))
      .repartition(SimilaritySearch.SemanticStoreGroups, col("cluster_grp"))
      .write.partitionBy("cluster_grp").mode("overwrite").parquet(s"$dir/kept")
    idx.codebook.leaves.map(l => (l._2, l._3)).toDF("cent_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cents")
    Seq((idx.builtN, false)).toDF("built_n", "two_level")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val back = SimilaritySearch.readSemanticIndex(spark, dir)
    assert(back.groups == SimilaritySearch.SemanticStoreGroups)
    val inc = df.filter(col("vec_id") < 1010)
      .select((col("vec_id") + 70000).as("vec_id"), col("embedding"))
    def verdicts(i: SimilaritySearch.SemanticIndex) = SimilaritySearch
      .semanticDedupAgainstIndex(inc, "vec_id", "embedding", i, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(verdicts(back) == verdicts(idx))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

object AnnSpec {
  val dim = 64

  /** 3 clusters of 20 near-identical vectors + 140 random ones. */
  def clusteredRows: Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Seq.fill(3)(unit())
    centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 20).map { i =>
        val v = c.map(_ + rnd.nextGaussian() * 0.02)
        (ci * 1000L + i, v.toSeq)
      }
    } ++ (0 until 140).map(i => (9000L + i, unit().toSeq))
  }
}
