package graft


/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver's BENCH_r{N}.json.
  *
  * Each query is materialized through the `noop` sink, not `count()` —
  * under `count()` Catalyst prunes every unreferenced projection, so
  * projection-heavy queries would be benchmarked as bare scans. The noop
  * sink evaluates the full plan (every column, every expression) and
  * discards the rows, which is the honest cost of the query.
  *
  * Failures are NOT swallowed: a failing query prints its stack trace to
  * stderr and reports -1 so a regression is visible in the bench JSON.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle partitions default to the core count (laptop-scale), but
    // scale with DATA on a real cluster — the override lets scale runs
    // turn the same knob (AQE coalesces the other direction).
    val shuf = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus).toInt
    // the sf dir sizes the initial shuffle width (bytes-derived AQE
    // start — see GraftSession); the env override still moves the floor
    val spark = GraftSession.builder(s"local[$cpus]", shuf, Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // AFTER setLogLevel on purpose — see GraftSession.quietBoundedWindowWarnings
    GraftSession.quietBoundedWindowWarnings()

    // One untimed warmup at the smallest SF: absorbs session init, codegen
    // JIT and parquet-footer caching so per-query numbers measure the
    // query, not the JVM.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => e.printStackTrace() }

    // median-of-N timing (default 3): the first run of a query also pays
    // its codegen compilation and footer-cache misses; the median is
    // robust to both that first-run cost and a one-off slow outlier
    // (GC pause, page-cache eviction), which best-of-2 was not — two
    // queries looked 3-4x "regressed" across rounds purely from
    // run-context noise. Per-query min/max spread goes to
    // BENCH_FULL.json so cross-round comparisons can tell signal from
    // variance.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // Round-16 ADAPTIVE ITERATION POLICY (a declared methodology
    // change — see OPTIMIZATION_r16.md): BENCH_r15 timed out (rc=124)
    // because 3 timed iterations of all 251 queries is ~21 minutes of
    // timed work on a slow-weather machine, and the stable sub-1.5 s
    // tail (188 rows, ~450 s of wall across its 3 runs) contributes
    // nothing to cross-round signal that its single run doesn't. A row
    // whose FIRST run comes in under this cutoff records that one run
    // and moves on; everything slower keeps the full median-of-N (the
    // rows where variance actually matters). The cutoff is on the
    // first (cold, codegen-paying) run, so a borderline row errs
    // toward MORE samples, and 2.0 s cold ≈ the 1.5 s warm-median
    // boundary (measured hi/median ~1.66x on the r15 sub-1.5 s tail).
    // Caveat carried in the artifact: a single-iter row's value
    // includes its first-run codegen cost, so its cross-round
    // comparison envelope is the spread, not the point value.
    val fastCutoff =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FAST_CUTOFF", "2.0").toDouble
    // local-iteration filter (comma-separated names); the driver never sets it
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // resource counters per query (spill/shuffle/peak-memory): regime
    // effects measured alongside the wall-clock, summed over the
    // `iters` timed runs of each query
    val metrics = new BenchMetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // Fixed calibration probes, run first-and-last: a pure-CPU pass and
    // a pure-shuffle pass over synthetic ranges whose cost is CONSTANT
    // across rounds (no testdata dependency, no query-code dependency).
    // Cross-round per-query deltas can then self-diagnose: if the probe
    // pair shifted the same +10-20% as untouched queries, the drift is
    // run context (page cache, CPU contention, thermal state), not a
    // regression — the r9->r10 comparison needed exactly this and had
    // to argue it from zero-diff files instead. Median-of-3 like the
    // queries; ~1 s each, so the probes cost ~12 s of a ~170 s run.
    import org.apache.spark.sql.functions._
    def timedMedian(run: () => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    def probeCpuOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, cpus.toInt)
        // % before the sum: 8M values bounded by 2^20 cannot overflow
        // the long accumulator under ANSI mode
        .select(sum(xxhash64(md5(org.apache.spark.sql.functions.col("id").cast("string"))) % 1048576L).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def probeCpu(): Double = timedMedian(() => { probeCpuOnce(); () })
    def probeShuffle(): Double = timedMedian(() =>
      spark.range(0L, 20000000L, 1L, cpus.toInt)
        .repartition(2 * cpus.toInt, org.apache.spark.sql.functions.col("id"))
        .write.format("noop").mode("overwrite").save())
    val (cpuFirst, shufFirst) = (probeCpu(), probeShuffle())

    BenchMetrics.flush(spark) // drain warmup+probe events before the first row
    metrics.snapshotAndReset()
    // Intra-run probe TRACE (round 17, VERDICT r16 item 2): one cpu-probe
    // run after every `probeEvery`-th query, keyed by the query that just
    // finished. BENCH_r16's probes read 2.36 s first vs 44.65 s last — a
    // 19x monotone collapse — and the two endpoint samples could not say
    // WHERE it happened, so the slowest-40 map was unattributable. With
    // the trace a stamped stall is localizable from the artifact alone.
    // Single run per sample (the trace is context, not a gate); ~25
    // samples x ~0.6 s on a quiet machine ≈ 15 s of a ~600 s run.
    val probeEvery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE_EVERY", "10").toInt
    val probeTrace = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex
      .map { case ((name, fn), qIdx) =>
      // The codec family's per-row JDK work (ImageIO, javax.sound) is
      // the bench's noisiest surface — media_pcm swung 2.5..5.5 s
      // across rounds on unchanged code with a 3.9..14.2 s in-round
      // spread. Median-of-3 cannot reject an outlier regime that wide;
      // these rows run median-of-5 so their cross-round comparison has
      // a defensible center. Everything else keeps the configured
      // iteration count (the full surface is 244 queries; +2 runs
      // everywhere would cost minutes to fix a 3-query problem).
      // median_groups and text_clean joined the rule in round 14: the
      // r13 significance gate flagged both as regressed on untouched
      // code, and the round-14 cross-tree JVM-interleaved A/B (r12
      // tree f3c0b17 vs current, same testdata) showed BOTH trees
      // inside the same wide envelope (median_groups [1.33, 2.21] —
      // a 1.65x in-run swing) — environment drift their median-of-3
      // sampling could not reject.
      // curation_pipeline_v3 joined in round 15: the one flag that
      // survived r14's quiet re-run, then resolved by the same
      // cross-tree A/B (r13 tree 7.0 s vs current 6.0-6.4 s on the
      // round-15 machine — the old tree cannot reproduce its own
      // 3.92 s, and the current tree is the FASTER arm; SCALING.md
      // r15 §2).
      val NoisyRows = Set("median_groups", "text_clean", "curation_pipeline_v3")
      val qIters =
        if (name.startsWith("media_") || NoisyRows(name)) math.max(iters, 5)
        else iters
      def timeOnce(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED:")
          e.printStackTrace()
          -1.0
        }
      }
      val t1 = timeOnce()
      val times =
        if (t1 < 0) Seq(t1) // deterministic failure: don't re-run a red row
        // adaptive single-iter fast row — but never for the media/noisy
        // set, whose whole reason for 5 iters is that ONE sample of
        // them is indefensible
        else if (t1 < fastCutoff && qIters == iters) Seq(t1)
        else t1 +: (2 to qIters).map(_ => timeOnce())
      BenchMetrics.flush(spark)
      val res = metrics.snapshotAndReset()
      if (probeEvery > 0 && qIdx % probeEvery == probeEvery - 1) {
        probeTrace += ((name, probeCpuOnce()))
        // drain the probe's own listener events so they are not
        // attributed to the NEXT query's resource counters
        BenchMetrics.flush(spark)
        metrics.snapshotAndReset()
      }
      val sorted = times.sorted
      val median =
        if (sorted.exists(_ < 0)) -1.0
        else if (sorted.length % 2 == 1) sorted(sorted.length / 2)
        else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2.0
      (name, median, sorted.head, sorted.last, res, times.length)
    }
    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val medians = results.map { case (n, m, _, _, _, _) => (n, m) }
    val total = medians.map(_._2).filter(_ >= 0).sum
    val failed = medians.filter(_._2 < 0).map(_._1)
    val nSingle = results.count(_._6 == 1)
    // The driver keeps only the tail of stdout; a 122-query map at full
    // double precision overflowed it in rounds 3-4 and the line never
    // parsed. Print ONE compact line (slowest 40, 3 decimals) and write
    // the complete per-query map to BENCH_FULL.json alongside.
    val slowest = medians.sortBy(-_._2).take(40).sortBy(_._1)
    val spread = results
      .map { case (n, _, lo, hi, _, _) => "\"" + n + "\":[" + f"$lo%.3f" + "," + f"$hi%.3f" + "]" }
      .mkString("{", ",", "}")
    // per-query resource rows, summed over the query's timed runs:
    // [disk_spill_bytes, mem_spill_bytes, shuffle_write_bytes,
    //  max_task_peak_exec_mem_bytes]
    val resource = results
      .map { case (n, _, _, _, (d, m, w, p), _) =>
        "\"" + n + s"""\":[$d,$m,$w,$p]""" }
      .mkString("{", ",", "}")
    val (cpuLast, shufLast) = (probeCpu(), probeShuffle())
    val probes = f"""{"cpu_first":$cpuFirst%.3f,"cpu_last":$cpuLast%.3f,"shuffle_first":$shufFirst%.3f,"shuffle_last":$shufLast%.3f}"""
    // Probe-normalized totals: the calibration probes exist to
    // adjudicate machine weather, but through round 15 every
    // cross-round comparison had to re-derive the correction by hand
    // (the r15 verdict's 343 s / 1.9x-cpu-probe triage). Emit
    // total × ref/measured per probe class so the artifact
    // self-adjudicates. References are the r14-judge quiet-machine
    // probe class (cpu ~0.62 s, shuffle ~1.08 s on this fixed
    // synthetic work), pinned as constants — they never depend on
    // testdata or query code.
    val RefCpuProbe = 0.62
    val RefShuffleProbe = 1.08
    val cpuMeas = (cpuFirst + cpuLast) / 2.0
    val shufMeas = (shufFirst + shufLast) / 2.0
    val normCpu = if (cpuMeas > 0) total * RefCpuProbe / cpuMeas else total
    val normShuf = if (shufMeas > 0) total * RefShuffleProbe / shufMeas else total
    // Drift-aware normalization (round 17): the mean-of-endpoints
    // correction above over-corrects early rows and under-corrects late
    // ones under monotone drift (BENCH_r16: 2.36 s -> 44.65 s gave a
    // 17.8 s "normalized total" nobody believed). Instead, interpolate
    // the probe TRACE over run position and normalize each query by the
    // probe context it actually ran in: sum(median_q * ref / probe(q)).
    // Endpoint normalizations are emitted too so either bound is
    // quotable on its own. Each intra-run trace sample is ONE probe run,
    // so the trace is 3-point median filtered before interpolation: one
    // spiky sample no longer skews the ~10 queries on either side of it.
    // The endpoints are already median-of-3 (timedMedian), so they stay
    // as measured and serve as the filter's outer neighbours.
    val traceIdx: Seq[(Double, Double)] = {
      val nameToIdx = results.zipWithIndex
        .map { case ((n, _, _, _, _, _), i) => (n, i.toDouble) }.toMap
      val raw = (-0.5, cpuFirst) +:
        probeTrace.toSeq.map { case (n, v) => (nameToIdx(n), v) } :+
        (results.size - 0.5, cpuLast)
      raw.indices.map { i =>
        if (i == 0 || i == raw.size - 1) raw(i)
        else (raw(i)._1, Seq(raw(i - 1)._2, raw(i)._2, raw(i + 1)._2).sorted.apply(1))
      }
    }
    def probeAt(i: Double): Double = {
      val hiIdx = traceIdx.indexWhere(_._1 >= i)
      if (hiIdx <= 0) traceIdx(if (hiIdx == 0) 0 else traceIdx.size - 1)._2
      else {
        val (x0, y0) = traceIdx(hiIdx - 1)
        val (x1, y1) = traceIdx(hiIdx)
        if (x1 == x0) y1 else y0 + (y1 - y0) * (i - x0) / (x1 - x0)
      }
    }
    val normCpuDrift = results.zipWithIndex.map {
      case ((_, m, _, _, _, _), i) =>
        val p = probeAt(i.toDouble)
        if (m > 0 && p > 0) m * RefCpuProbe / p else math.max(m, 0.0)
    }.sum
    val normCpuFirst = if (cpuFirst > 0) total * RefCpuProbe / cpuFirst else total
    val normCpuLast = if (cpuLast > 0) total * RefCpuProbe / cpuLast else total
    val probeNorm = f"""{"cpu_ref":$RefCpuProbe%.3f,"shuffle_ref":$RefShuffleProbe%.3f,"value_cpu_norm":$normCpu%.3f,"value_shuffle_norm":$normShuf%.3f,"value_cpu_norm_drift":$normCpuDrift%.3f,"value_cpu_norm_first":$normCpuFirst%.3f,"value_cpu_norm_last":$normCpuLast%.3f}"""
    val probeTraceJson = probeTrace
      .map { case (n, v) => "\"" + n + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","iters":$iters,"stat":"median","fast_cutoff":$fastCutoff,"n_single_iter":$nSingle,"n_queries":${results.size},"failed":${failed.mkString("[\"", "\",\"", "\"]").replace("[\"\"]", "[]")},"queries":${jsonMap(medians)},"spread":$spread,"resource":$resource,"probes":$probes,"probe_trace":$probeTraceJson,"probe_normalized":$probeNorm,"sf":"$sfDir"}"""
    // a filtered local-iteration run must not clobber the committed
    // full-surface snapshot (it did once — a 2-query map replaced the
    // 194-query one mid-round)
    val fullPath = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_SUBSET.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      full.getBytes("UTF-8"))
    catch { case e: Throwable => e.printStackTrace() }
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"n_single_iter":$nSingle,"queries":${jsonMap(slowest)},"probes":$probes,"probe_normalized":$probeNorm,"sf":"$sfDir"}""")
    spark.stop()
  }
}
