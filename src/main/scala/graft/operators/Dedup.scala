package graft.operators

import org.apache.spark.sql.graft.NativeExpressions
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document-deduplication operators for the LLM-data-pipeline surface:
  * exact (content fingerprint), exact n-gram Jaccard (inverted-index
  * join), MinHash+LSH (banded candidate generation + exact rerank) and
  * SimHash (pigeonhole chunk buckets). The reference engine has no dedup
  * at all (SURVEY §2.11); these are the north-star additions, shaped for
  * the 100 TB case: every method is candidate-generation-by-key — a
  * groupBy/join on a derived key — never an all-pairs comparison.
  */
object Dedup {

  /** Hot-shingle cutoff the REGISTERED pipeline queries run with: drop
    * shingles shared by more than this many documents before the
    * inverted-index join. Pair generation is quadratic in a shingle's
    * doc frequency (df=10^6 boilerplate → 10^12 pairs from ONE key), so
    * production runs need the cap on; 500 bounds any one posting list
    * at ~1.25e5 pairs while sitting 20x above the fixtures' max df
    * (7 at sf0.01, 25 at sf0.1 — measured), so the DuckDB oracle,
    * which computes the UNCUT exact Jaccard, is unchanged. */
  val HotShingleCutoff: Long = 500L

  /** Corpus-size gate for the AUTO hot-shingle cutoff (and for the
    * prefix-path dispatch in [[nearDupPairs]]): below this many
    * documents the fixed `maxDocFreq` argument is used as-is, so the
    * sf0.01/sf0.1 oracle fixtures stay bit-identical to the uncut
    * DuckDB recomputation. Above it, one cheap df-histogram pass
    * derives the cutoff from the DATA (SCALING.md round-9: the fixed
    * cutoff silently fails to engage exactly when the df distribution
    * shifts under it — max df 377 < 500 at 30x left 1.13B candidate
    * pairs). */
  val AutoCutoffMinDocs: Long = 50000L

  /** Pair-mass budget per document for the auto cutoff: the cutoff is
    * the largest df whose cumulative Σ df·(df−1)/2 over all rarer
    * shingles stays within `budget = this × n_docs`. 200 pairs/doc
    * keeps the candidate stage linear-ish in corpus size (30M pairs at
    * 150k docs vs the measured 1.13B uncut). */
  val AutoCutoffPairBudgetPerDoc: Long = 200L

  /** The auto cutoff never drops below this df: shingles shared by a
    * handful of documents ARE the near-dup signal, so even a blown
    * budget keeps them (the budget is a target, not a contract). */
  val AutoCutoffFloor: Long = 8L

  /** Degenerate-distribution guard: if the budget-derived cutoff would
    * drop more than this fraction of DISTINCT shingle keys, the df
    * distribution has no separable hot head — the pair mass lives in
    * the bulk, and cutting to budget would cut the SIGNAL (measured on
    * the 30x fixed-vocabulary fixture: the budget cutoff df<=252
    * removed 88% of keys and took the thresholded output from 7,669
    * pairs to ZERO). Real corpora are Zipfian — boilerplate is a tiny
    * key-count head carrying huge pair mass — so a genuine hot head
    * always fits well under this fraction. When the guard trips the
    * cutoff does NOT engage and the diagnostic says so: a corpus whose
    * pair mass is irreducibly quadratic belongs on the MinHash-LSH
    * path (measured flat across a decade of scale), not on a silently
    * emptied exact join. */
  val MaxAutoDropKeyFraction: Double = 0.10

  /** Scratch bytes a pair-explosion stage writes per SURVIVING
    * candidate pair — shuffle files + sort spill + verify traffic,
    * calibrated from the measured 30x point (1.13e9 candidates wrote
    * ~250 GB before ENOSPC, SCALING.md round 11/12: ~220 B/pair),
    * rounded up. Deliberately conservative: the guard this feeds
    * refuses a job that would die at ENOSPC anyway, so overestimating
    * by 15% trades a loud early refusal for a JVM kill hours in. */
  val BytesPerCandidatePair: Long = 256L

  /** Scratch bytes per PREFIX-path candidate. The prefix path's
    * surviving-candidate COUNT is ~(1−t)² of the full inverted-index
    * mass (the All-Pairs prefix fraction), but each of its candidates
    * is ~40× fatter: the verify join streams both documents' full
    * shingle ARRAYS (~2 × nsh × ~25 B ≈ 10 KB on a ~250-token doc)
    * where the full path shuffles slim (i, j, na, nb) rows. MEASURED
    * (round-13 30× sweep): with the 256 B constant the prefix budget
    * predicted ~11 GiB and passed — then the run filled > 50 GB of
    * scratch and died at real ENOSPC, i.e. ≥ 1.2 KB per predicted
    * candidate as a hard lower bound. 4 KiB carries the same
    * overestimate margin the full-path constant does. */
  val PrefixBytesPerCandidatePair: Long = 4096L

  /** Fraction of free scratch space a single near-dup pair stage may
    * budget: the stage is not alone on the disk (other queries'
    * shuffles, the OS, parquet output), and ENOSPC on a shared
    * spark.local.dir takes down the whole JVM, not just the query. */
  val MaxScratchFraction: Double = 0.5

  /** Test hook: overrides detected usable scratch bytes so specs can
    * pin the refusal without filling a disk. */
  @volatile private[graft] var scratchBytesOverride: Option[Long] = None

  /** Usable bytes on the shuffle scratch volume (first spark.local.dir
    * entry, else java.io.tmpdir). Unknown → Long.MaxValue: the guard
    * never refuses on a filesystem it cannot measure. */
  def usableScratchBytes(spark: org.apache.spark.sql.SparkSession): Long =
    scratchBytesOverride.getOrElse {
      val dir = spark.conf.getOption("spark.local.dir")
        .map(_.split(",").head)
        .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
      try java.nio.file.Files.getFileStore(java.nio.file.Paths.get(dir))
        .getUsableSpace
      catch { case _: Throwable => Long.MaxValue }
    }

  /** True iff `pairMass` surviving candidate pairs at `bytesPerPair`
    * would out-spill the scratch budget. Zero/negative mass (analysis
    * pass not run — below the corpus gate) never trips: a sub-gate
    * corpus cannot produce hundreds of GB of pair spill. */
  private def exceedsScratchBudget(spark: org.apache.spark.sql.SparkSession,
                                   pairMass: Double,
                                   bytesPerPair: Long = BytesPerCandidatePair): Boolean =
    pairMass > 0 &&
      pairMass * bytesPerPair >
        usableScratchBytes(spark) * MaxScratchFraction

  /** Loud fail-fast for the PINNED-exact paths when the predicted pair
    * spill cannot fit: round 12's 30x sweep hit ENOSPC *inside* the
    * exact grind and the cascade killed the whole bench JVM — a
    * refusal with the reroute recommendation BEFORE the join is the
    * graceful degradation a shared cluster needs. */
  private def refuseForScratch(spark: org.apache.spark.sql.SparkSession,
                               pairMass: Double, tag: String,
                               bytesPerPair: Long = BytesPerCandidatePair): Unit =
    if (exceedsScratchBudget(spark, pairMass, bytesPerPair)) {
      val predicted = (pairMass * bytesPerPair / (1L << 30)).toLong
      val budget =
        (usableScratchBytes(spark) * MaxScratchFraction / (1L << 30)).toLong
      throw new IllegalStateException(
        f"[graft-dedup] $tag REFUSED: ~$pairMass%.3g surviving candidate " +
          s"pairs predict ~$predicted GiB of shuffle/spill against a " +
          s"~$budget GiB scratch budget ($bytesPerPair B/pair " +
          "calibration, half of free spark.local.dir). Running anyway " +
          "would die at ENOSPC and can take the executor JVM with it. " +
          "Use the banded path — Dedup.nearDupPairsMinhash (MinHash-LSH " +
          "candidates + exact rerank, flat across measured scale decades) " +
          "or the nearDupPairs front door, which reroutes automatically.")
    }

  /** Largest doc frequency whose cumulative pair mass fits the budget.
    * `hist` is (df value → number of shingles at that df) — tiny
    * (distinct df values), safe to fold on the driver. */
  private[graft] def autoDocFreqCutoff(hist: Seq[(Long, Long)], nDocs: Long,
      pairBudgetPerDoc: Long = AutoCutoffPairBudgetPerDoc): Long = {
    val budget = pairBudgetPerDoc.toDouble * nDocs
    var cum = 0.0
    var cut = 1L
    var stopped = false
    for ((dfv, cnt) <- hist.sortBy(_._1) if !stopped) {
      val mass = cnt.toDouble * dfv.toDouble * (dfv - 1).toDouble / 2.0
      // largest prefix of the ascending-df histogram that fits; once a
      // band overflows, every later band would too (cumulative mass)
      if (cum + mass <= budget) { cum += mass; cut = dfv }
      else stopped = true
    }
    math.max(cut, AutoCutoffFloor)
  }

  /** Corpus-size gate above which [[nearDupPairs]] routes the exact
    * near-dup join through the prefix-filtered All-Pairs path instead
    * of the full posting-list join. Both paths are EXACT at the
    * threshold (DedupSpec pins pairwise equality), so the dispatch is
    * purely a plan choice: the prefix join runs its pair stage on
    * ~t-fraction of the index mass with rarest-first keys — the
    * measured 10x win at t=0.8 (SCALING.md round 9) — but pays two
    * extra linear shuffles, which is the wrong trade for small inputs. */
  val PrefixPathMinDocs: Long = 50000L

  /** The prefix path only wins when the prefix bound actually prunes:
    * each doc indexes `|x| - ceil(t|x|) + 1` shingles, ~(1-t) of its
    * set — at t=0.8 that is ~20% of the index mass and the pair stage
    * collapses onto rare keys (measured 1.6x faster than the exact
    * join at the 10x fixture), but at t=0.5 it is ~51% and the
    * per-candidate array_intersect verify costs more than the exact
    * variant's counting shuffle (measured 3.7x SLOWER). Production
    * near-dup thresholds sit at 0.7-0.9; below this the exact
    * posting-list join (with the auto cutoff) stays the right plan. */
  val PrefixPathMinThreshold: Double = 0.7

  /** n-gram Jaccard near-dup pairs with a dispatched plan — the front
    * door composite pipelines (curation_keep, split_cluster_safe, the
    * cluster family, curation_pipeline_v2) call so they inherit the
    * scale path without re-plumbing. Three tiers:
    *
    *   1. >= [[PrefixPathMinDocs]] docs AND t >= [[PrefixPathMinThreshold]]:
    *      the prefix-filtered All-Pairs join (exact; the regime where
    *      the prefix bound prunes, see above).
    *   2. >= [[AutoCutoffMinDocs]] docs at t < 0.7: run the exact
    *      path's COUNT-ONLY cutoff analysis FIRST. If it finds a
    *      separable hot head, the exact posting-list join runs with
    *      that cutoff (no second analysis pass). If it REFUSES — the
    *      pair mass lives in the bulk, the regime where the exact join
    *      is irreducibly quadratic (measured: 1.1e9 candidates,
    *      ~250 GB spill, 183 s at the 100x fixture inside
    *      curation_pipeline_v2) — the dispatch routes to
    *      [[nearDupPairsMinhash]], the designated sub-quadratic path
    *      (measured FLAT 10x->30x), instead of grinding. The reroute
    *      is exact-up-to-band-recall: candidates are reranked by true
    *      Jaccard (precision 1), and the banded signature misses a
    *      true pair at J=s with probability (1-s^4)^16 — ~1e-15 at
    *      the J>=0.97 separation near-dup corpora have, but material
    *      near the threshold (e.g. ~36% at J=0.5). Callers that need
    *      the exact grind regardless pass `strictExact = true` (the
    *      pinned-strategy queries call nearDupPairsExact directly).
    *   3. otherwise: the exact inverted-index join, bit-identical to
    *      the oracle at fixture scale.
    *
    * Tiers 1 and 3 are identical-output plan choices (DedupSpec pins
    * pairwise equality); tier 2's reroute is the guard's own
    * recommendation, automated. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDocFreq: Long = 0L,
                   prefixGateDocs: Long = PrefixPathMinDocs,
                   autoGateDocs: Long = AutoCutoffMinDocs,
                   strictExact: Boolean = false): DataFrame =
    nearDupPairsRouted(df, idCol, textCol, n, threshold, maxDocFreq,
      prefixGateDocs, autoGateDocs, strictExact)._1

  /** The plan [[nearDupPairs]] engaged, as a machine-readable tag. Only
    * [[RouteLshReroute]] changes the output CONTRACT (exact → band
    * recall: a true pair at J=s is missed with probability (1-s^4)^16,
    * material near low thresholds); the other three are
    * identical-output plan choices. */
  val RoutePrefix = "prefix-exact"
  val RouteExactCutoff = "exact-auto-cutoff"
  val RouteExact = "exact"
  val RouteLshReroute = "lsh-band-recall"

  /** [[nearDupPairs]] with the routing decision SURFACED: returns
    * (pairs, route tag). A stderr line is operator telemetry; the tag
    * is the API — callers and composite pipelines that must distinguish
    * exact output from band-recall output (e.g. to record dedup
    * provenance in a data card, or to refuse band recall below a
    * policy threshold) branch on it programmatically instead of
    * parsing logs. Tags are the Route* constants above. */
  def nearDupPairsRouted(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxDocFreq: Long = 0L,
                         prefixGateDocs: Long = PrefixPathMinDocs,
                         autoGateDocs: Long = AutoCutoffMinDocs,
                         strictExact: Boolean = false): (DataFrame, String) = {
    val nDocs = df.count()
    if (nDocs >= prefixGateDocs && threshold >= PrefixPathMinThreshold)
      (nearDupPairsPrefix(df, idCol, textCol, n, threshold, maxDocFreq,
        autoGateDocs, docCount = nDocs), RoutePrefix)
    else if (!strictExact && nDocs >= autoGateDocs) {
      // Hoist the exact path's own analysis pass: one COUNT-ONLY df
      // histogram over the exploded shingles (linear, a fraction of
      // the pair stage it protects — same pass resolveCutoff runs).
      val exploded = shingleSets(df, idCol, textCol, n)
        .select(col("doc_id"), explode_outer(col("sh")).as("s"))
        .filter(col("s").isNotNull)
      val (cutoff, refused, mass) =
        cutoffDecision(exploded, nDocs, maxDocFreq, autoGateDocs, "nearDupPairs")
      if (refused || exceedsScratchBudget(df.sparkSession, mass)) {
        val why =
          if (refused) "no separable hot head"
          else f"~$mass%.3g surviving pairs exceed the scratch budget"
        System.err.println(s"[graft-dedup] nearDupPairs: routing $nDocs docs " +
          s"at t=$threshold to MinHash-LSH + exact rerank ($why; pass " +
          "strictExact=true to force the exact posting-list join)")
        (nearDupPairsMinhash(df, idCol, textCol, n, threshold = threshold),
          RouteLshReroute)
      } else
        // analysis already ran: hand the engaged cutoff down and
        // disable the exact path's own pass
        (nearDupPairsExact(df, idCol, textCol, n, threshold, maxDocFreq = cutoff,
          autoGateDocs = Long.MaxValue, docCount = nDocs), RouteExactCutoff)
    } else
      (nearDupPairsExact(df, idCol, textCol, n, threshold, maxDocFreq,
        autoGateDocs, docCount = nDocs), RouteExact)
  }

  /** Resolve the cutoff a near-dup run actually applies: below the
    * gate the caller's fixed `maxDocFreq` passes through unchanged
    * (fixture/oracle bit-exactness); above it, one COUNT-ONLY df pass
    * over the exploded shingles (no posting arrays — a fraction of the
    * pair stage it protects) derives the data-driven cutoff, never
    * looser than the caller's. The engaged cutoff and the dropped
    * shingle-key/pair mass are reported on stderr so production runs
    * can see the guard fire instead of inferring it from runtimes. */
  private def resolveCutoff(exploded: DataFrame, nDocs: Long, userCutoff: Long,
                            autoGateDocs: Long, tag: String): (Long, Double) = {
    val (cut, _, mass) =
      cutoffDecision(exploded, nDocs, userCutoff, autoGateDocs, tag)
    (cut, mass)
  }

  /** The analysis behind [[resolveCutoff]], exposed with its refusal
    * verdict so [[nearDupPairs]] can dispatch on it: returns
    * (effective cutoff, refused, surviving candidate-pair mass under
    * that cutoff). `refused = true` means the histogram found NO
    * separable hot head — cutting to budget would drop >
    * [[MaxAutoDropKeyFraction]] of distinct shingle keys, i.e. the
    * pair mass is irreducibly in the bulk and the exact join is
    * quadratic no matter the cutoff. The surviving mass is what the
    * pair stage will actually explode — the disk-budget guard's input
    * (0.0 below the corpus gate: no histogram, no prediction). */
  private def cutoffDecision(exploded: DataFrame, nDocs: Long, userCutoff: Long,
                             autoGateDocs: Long,
                             tag: String): (Long, Boolean, Double) = {
    if (nDocs < autoGateDocs) (userCutoff, false, 0.0)
    else {
      val hist = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .groupBy(col("df")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val auto = autoDocFreqCutoff(hist, nDocs)
      val eff = if (userCutoff > 0) math.min(auto, userCutoff) else auto
      val totalKeys = hist.map(_._2).sum
      val dropped = hist.collect { case (d, c) if d > eff => c }.sum
      val droppedMass = hist.collect { case (d, c) if d > eff =>
        c.toDouble * d.toDouble * (d - 1).toDouble / 2 }.sum
      // pair mass SURVIVING a cutoff: what the pair stage will explode
      def survivingMass(cut: Long): Double = hist.collect {
        case (d, c) if cut <= 0 || d <= cut =>
          c.toDouble * d.toDouble * (d - 1).toDouble / 2 }.sum
      if (totalKeys > 0 &&
          dropped.toDouble / totalKeys > MaxAutoDropKeyFraction) {
        // No separable hot head: the effective cutoff — whether the
        // budget's or the CALLER's own — would cut the signal, not the
        // boilerplate (the measured 7,669 -> 0 pairs failure shape).
        // Refuse rather than engage; the returned cutoff is the
        // caller's in every refusal case (when the caller's own cutoff
        // is the effective one, eff == userCutoff, so direct
        // nearDupPairsExact/Prefix callers see bit-identical cutoffs —
        // only [[nearDupPairs]]' routing verdict changes).
        val whose = if (eff == userCutoff && userCutoff > 0)
          f"the caller's cutoff df<=$eff" else f"budget cutoff df<=$eff"
        System.err.println(f"[graft-dedup] $tag: auto cutoff REFUSED at " +
          f"$nDocs docs — $whose would drop $dropped of " +
          f"$totalKeys distinct shingles (~$droppedMass%.3g candidate " +
          "pairs); the pair mass lives in the bulk, not a hot head. " +
          "Keeping the caller's cutoff; for corpora like this use the " +
          "MinHash-LSH path (Dedup.nearDupPairsMinhash).")
        (userCutoff, true, survivingMass(userCutoff))
      } else {
        System.err.println(f"[graft-dedup] $tag: auto hot-shingle cutoff " +
          f"df<=$eff engaged at $nDocs docs (dropped $dropped of " +
          f"$totalKeys shingle keys, ~$droppedMass%.3g candidate pairs)")
        (eff, false, survivingMass(eff))
      }
    }
  }

  /** Exact duplicate groups by normalized-content MD5. Returns one row
    * per duplicated fingerprint: (fp, n_copies, keep_id = min id).
    * Map-side partial aggregation; the shuffle carries one row per
    * distinct fingerprint. MD5 (not xxhash) so fingerprints are portable
    * across engines and runs. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprintMd5(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** (id, sh) projection: distinct word n-gram shingles per document;
    * documents shorter than n tokens drop out (no shingles to match).
    *
    * `toks` is staged as its own column on purpose: the shingle lambda
    * slices it once per n-gram, and Spark evaluates higher-order
    * functions interpreted — if the tokenizer (regex normalize + split)
    * were inlined into the lambda it would re-run PER SHINGLE, turning a
    * linear pass into O(doc_len x shingles). A multi-referenced
    * non-trivial alias is exactly what CollapseProject refuses to
    * inline, so the tokenizer runs once per document. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      // size(toks) >= n <=> the shingle set is non-empty. Filtering on
      // the TOKEN count (not size(sh) > 0) matters: predicate pushdown
      // substitutes aliases, and a filter on sh would re-run the whole
      // inlined shingle pipeline per row below the projections.
      .filter(size(col("toks")) >= n)
      // native expression (one compiled pass per row); semantics pinned
      // to TextFunctions.shingles by NativeExprSpec
      .select(col("doc_id"), NativeExpressions.wordShingles(col("toks"), n).as("sh"))

  /** EXACT n-gram Jaccard near-duplicate pairs via the inverted-index
    * join: explode shingles, self-join on the shingle, count shared
    * shingles per pair, then Jaccard = c / (|A| + |B| - c). Emits
    * (i, j, jac) for jac >= threshold, i < j.
    *
    * Scale shape: the self-join shuffles on the shingle key — documents
    * sharing no shingle never meet. The known hazard is hot shingles
    * (boilerplate phrases shared by millions of docs): `maxDocFreq`
    * drops posting lists longer than that many documents before pair
    * explosion (see the inline note on why the cap rides the existing
    * groupBy). Dropping only *frequent* shingles barely moves Jaccard
    * for true near-dups while removing the quadratic blowup; 0 disables
    * the cutoff. Jaccard denominators use the FULL per-doc shingle
    * counts either way, so at fixture scale (max df far below the
    * cutoff) results are bit-identical to the exact oracle. */
  def nearDupPairsExact(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Long = 0L,
                        autoGateDocs: Long = AutoCutoffMinDocs,
                        docCount: Long = -1L): DataFrame = {
    val nDocs = if (docCount >= 0) docCount else df.count()
    // repartition spreads the per-document shingle computation across
    // cores/executors (a small parquet file is otherwise ONE input
    // partition doing all the interpreted HOF work) and acts as a
    // materialization barrier for the shingle arrays.
    val d = shingleSets(df, idCol, textCol, n).transform(Spread.byKey(_, "doc_id"))
    // explode_OUTER on purpose: for a plain explode the optimizer infers
    // a `size(sh) > 0` filter and pushes it below every projection,
    // substituting aliases — the pushed predicate then re-evaluates the
    // whole inlined shingle chain per input row (interpreted, per-
    // shingle regex). The outer generator infers nothing; the cheap
    // isNotNull on the OUTPUT column keeps the same row set.
    //
    // Each exploded row CARRIES its document's shingle count: the
    // Jaccard denominator then rides the posting lists into the pair
    // rows (na/nb below) instead of joining a per-doc `sizes` table
    // back in at the end. That join was two broadcasts at bench scale —
    // racing the 32-thread pair stage for the driver's execution pool
    // (observed OOM at 10x) — and at 100 TB per-doc sizes are billions
    // of rows, which no sane plan broadcasts; carrying +4 bytes per
    // posting entry deletes the join in both regimes.
    val exploded = d.select(col("doc_id"), size(col("sh")).as("nsh"),
        explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    // Pair generation by grouping the inverted index instead of a
    // self-join: one shuffle on the shingle builds each posting list,
    // pairs explode from the sorted list (i < j by construction —
    // array_sort on (doc_id, nsh) structs orders by doc_id, which is
    // unique per list).
    //
    // The hot-shingle cutoff applies ON the posting list: the groupBy
    // that builds the list already counts the doc frequency, so the cap
    // costs ZERO extra shuffles (a pre-join anti-filter variant costs a
    // full second aggregation over the exploded shingles — measured 3x
    // the whole query). What the cutoff must prevent is the QUADRATIC
    // pair explosion (df=10^6 boilerplate -> 10^12 pairs from one key);
    // the list buffer itself is linear — df x 12 bytes, 12 MB at df=10^6
    // — bounded and droppable. Only beyond df~10^7 would the buffer
    // itself hurt, at which point pre-filtering against a profiled hot
    // set is the escalation.
    // Above the gate the histogram pass recomputes the shingle chain
    // once (linear) — an acceptable price exactly where the quadratic
    // pair mass it bounds dominates; below the gate it costs nothing.
    val (cutoff, pairMass) = resolveCutoff(exploded, nDocs, maxDocFreq,
      autoGateDocs, "nearDupPairsExact")
    // Disk-budget refusal (round-12 lesson): the PINNED-exact contracts
    // used to grind ~1.1e9 candidates into ~250 GB of spill and die at
    // ENOSPC, taking the JVM (and every co-resident query) with them.
    // The histogram already knows the surviving pair mass — fail fast
    // with the reroute recommendation instead.
    refuseForScratch(df.sparkSession, pairMass, "nearDupPairsExact")
    exploded.groupBy(col("s"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("nsh")))).as("ds"))
      .filter(size(col("ds")) >= 2 &&
        (if (cutoff > 0) size(col("ds")) <= cutoff else lit(true)))
      .select(explode_outer(expr(
        """flatten(transform(ds, (x, i) ->
             transform(slice(ds, i + 2, size(ds)), y ->
               struct(x.doc_id AS i, y.doc_id AS j, x.nsh AS na, y.nsh AS nb))))"""))
        .as("p"))
      .filter(col("p").isNotNull)
      // na/nb are functions of i/j, so the extra grouping keys do not
      // change the pair cardinality — they just ride the shuffle
      .groupBy(col("p.i").as("i"), col("p.j").as("j"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jac", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jac"))
  }

  /** Prefix-filtered EXACT n-gram Jaccard near-dup pairs (All-Pairs /
    * PPJoin family, Bayardo et al. WWW'07; Xiao et al. WWW'08): index
    * only each document's PREFIX — its `|x| - ceil(t*|x|) + 1`
    * globally-rarest shingles — instead of every shingle, then verify
    * candidates with the exact set intersection. LOSSLESS at the
    * threshold: sort every shingle set by one global total order
    * (doc-frequency ascending, shingle text as tiebreak); if
    * J(A,B) >= t then |A inter B| >= t*|A| and >= t*|B|, and at most
    * `ceil(t*|x|) - 1` shared shingles fit outside either prefix — so
    * the globally-smallest shared shingle sits in BOTH prefixes and the
    * prefix-prefix equi-join generates every qualifying pair.
    *
    * Scale shape vs `nearDupPairsExact`: pair explosion runs on prefix
    * posting lists only — at t=0.8 each doc contributes ~20% of its
    * shingles, and because the global order is rarest-first those are
    * the LOW-df shingles, so posting lists in the pair stage are short
    * by construction (quadratic work collapses ~25x at t=0.8). The
    * price is two extra linear shuffles (df attach + per-doc sort) and
    * a candidate->shingle-set verify join, all linear in corpus size —
    * the trade that wins whenever pair mass dominates, i.e. at scale.
    * Docs whose prefix length is <= 0 cannot reach the threshold
    * (c <= n_cold < t*|A| bounds jac below t) and drop out early.
    *
    * Lifetime (GraftSession's rule): the corpus-sized `byDoc`
    * intermediate (one row per doc carrying its full shingle array) is
    * persisted for its three consumers inside the one job that
    * materializes the (pair-sized, far smaller) result, and released
    * before this returns. The RETURNED frame is an eager DISK_ONLY
    * `localCheckpoint`: it reads no cache, so repeated calls in a
    * long-lived session leave nothing registered and never read each
    * other's results. */
  def nearDupPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxDocFreq: Long = 0L,
                         autoGateDocs: Long = AutoCutoffMinDocs,
                         docCount: Long = -1L): DataFrame = {
    val nDocs = if (docCount >= 0) docCount else df.count()
    val d = shingleSets(df, idCol, textCol, n).transform(Spread.byKey(_, "doc_id"))
    val exploded = d.select(col("doc_id"), size(col("sh")).as("nsh"),
        explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    // One shuffle builds the posting list AND the doc frequency; the
    // hot-shingle cutoff drops boilerplate lists here exactly as in
    // nearDupPairsExact (denominators below stay the FULL nsh, so
    // results are bit-identical to the uncut oracle at any df profile
    // below the cutoff). Above the auto gate the cutoff is derived
    // from the df histogram (see resolveCutoff) — here it bounds the
    // PREFIX posting lists too, since those are a subset of the full
    // lists this filter caps.
    val (cutoff, fullMass) = resolveCutoff(exploded, nDocs, maxDocFreq,
      autoGateDocs, "nearDupPairsPrefix")
    // The prefix pair stage explodes only each doc's rarest ~(1-t)
    // fraction of shingles, so its pair mass scales ~(1-t)^2 of the
    // full-list mass — exactly the measured ~25x collapse at t=0.8 —
    // but each surviving candidate streams BOTH documents' shingle
    // arrays through the verify join, so the per-pair scratch is
    // [[PrefixBytesPerCandidatePair]], not the slim-row 256 B (the
    // round-13 30x sweep measured exactly this gap: an 11 GiB
    // prediction under the slim constant, then > 50 GB of real spill
    // and ENOSPC).
    refuseForScratch(df.sparkSession,
      fullMass * (1.0 - threshold) * (1.0 - threshold), "nearDupPairsPrefix",
      PrefixBytesPerCandidatePair)
    val withDf = exploded.groupBy(col("s"))
      .agg(collect_list(struct(col("doc_id"), col("nsh"))).as("ds"))
      .filter(if (cutoff > 0) size(col("ds")) <= cutoff else lit(true))
      .select(col("s"), size(col("ds")).as("df"), explode(col("ds")).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.nsh").as("nsh"),
        col("df"), col("s"))
    // Per-doc shingles sorted rarest-first: struct (df, s) sorts by df
    // then text — one deterministic global order shared by every doc.
    // `ss` (the ordered shingle array) is reused by the verify stage;
    // `plen` is the All-Pairs prefix bound against the FULL shingle
    // count (hot shingles removed from ss can only shrink the true
    // cold overlap, never grow it past the bound).
    val byDoc = withDf.groupBy(col("doc_id"), col("nsh"))
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("sorted"))
      .select(col("doc_id"), col("nsh"),
        expr("transform(sorted, x -> x.s)").as("ss"),
        (size(col("sorted")) - ceil(col("nsh") * lit(threshold)).cast("int")
          + 1).as("plen"))
      // corpus-sized (one row per doc, carrying its shingle array) and
      // consumed three times (prefix index + both verify joins):
      // DISK_ONLY materializes the two shuffles once without competing
      // with the pair stage for executor memory (split_cluster_safe
      // precedent — un-persisted, Catalyst re-derives the whole chain
      // per consumer).
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // Candidate pairs from PREFIX posting lists only (same sorted-list
    // pair explosion as nearDupPairsExact, but over ~t-fraction of the
    // index mass and rare keys). A pair colliding on several prefix
    // shingles dedupes in the groupBy.
    val pref = byDoc.filter(col("plen") > 0)
      .select(col("doc_id"), col("nsh"),
        explode_outer(expr("slice(ss, 1, plen)")).as("s"))
      .filter(col("s").isNotNull)
    val cands = pref.groupBy(col("s"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("nsh")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode_outer(expr(
        """flatten(transform(ds, (x, i) ->
             transform(slice(ds, i + 2, size(ds)), y ->
               struct(x.doc_id AS i, y.doc_id AS j, x.nsh AS na, y.nsh AS nb))))"""))
        .as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.i").as("i"), col("p.j").as("j"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("hits"))
    // Exact verify: candidates re-join their full (cold) shingle arrays
    // — two keyed joins against the persisted byDoc, linear in the
    // candidate count, which the prefix filter has already collapsed.
    // Join strategy is load-bearing here, measured at the 30x fixture:
    // build the HASH MAP from byDoc (bounded: corpus rows / shuffle
    // partitions) and STREAM the candidate side. Every alternative
    // fails at scale — unhinted, Catalyst mis-estimated the candidate
    // table and collected it for broadcast (blew the 1 GiB driver
    // result cap); hash-building the candidate side could not fit its
    // per-partition map; sort-merge SORTED the candidate stream while
    // each row carried a multi-KB shingle array (first-join output),
    // spilling past the machine's free disk. Streaming candidates
    // through two byDoc-built hash joins touches each candidate row
    // twice with no sort and no array reordering.
    val res = cands
      .join(byDoc.select(col("doc_id").as("i"), col("ss").as("sa"))
        .hint("shuffle_hash"), "i")
      .join(byDoc.select(col("doc_id").as("j"), col("ss").as("sb"))
        .hint("shuffle_hash"), "j")
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jac"))
    try res.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    finally byDoc.unpersist(blocking = true)
  }

  /** Content-defined chunking (the LBFS/rsync principle applied to
    * token streams): chunk boundaries fall where a rolling w-token
    * polynomial hash hits `hash % divisor == 0`, so boundaries are a
    * pure function of LOCAL content — insert a sentence at the front of
    * a document and every later chunk still hashes identically, which
    * is exactly the shifted-duplicate case FIXED chunking
    * (`dupPassages`) misses by construction. Returns chunks shared by
    * >= 2 documents: (chunk_md5, n_docs, keep_id).
    *
    * Scale shape: boundary detection is per-row expression work (no
    * shuffle); the only exchange is the final chunk-fingerprint
    * groupBy, whose key cardinality is the distinct-chunk count. All
    * hash arithmetic is Horner-with-mod in longs (base 31 per char,
    * base 1000003 per token, mod 1e9+7) so external engines can
    * reproduce fingerprints bit-for-bit. */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
                           w: Int = 4, divisor: Int = 16): DataFrame = {
    // One compiled pass per row (plans/NativeExpressions.scala
    // CdcChunksExpr — a first HOF formulation of the same arithmetic
    // stalled the OPTIMIZER: five stacked lambda stages each inlining
    // into the next built expression trees Catalyst spent minutes
    // rewriting before a single row moved). explode_outer + isNotNull:
    // see nearDupPairsExact.
    val chunks = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        explode_outer(NativeExpressions.cdcChunks(col("toks"), w, divisor))
          .as("chunk"))
      .filter(col("chunk").isNotNull)
    chunks
      .select(col("doc_id"), md5(col("chunk")).as("chunk_md5"))
      .distinct()
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") >= 2)
  }

  /** Prefix-index size diagnostic for `nearDupPairsPrefix`: rows =
    * (full_index_entries, prefix_index_entries) — the measured
    * candidate-mass reduction the prefix bound buys at a threshold. */
  private[graft] def prefixIndexSizes(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): (Long, Long) = {
    val d = shingleSets(df, idCol, textCol, n)
      .select(col("doc_id"), size(col("sh")).as("nsh"))
    val agg = d.agg(
      sum(col("nsh")),
      sum(greatest(col("nsh") - ceil(col("nsh") * lit(threshold)).cast("int")
        + 1, lit(0)))).head()
    (agg.getLong(0), agg.getLong(1))
  }

  /** MinHash + banded-LSH near-duplicate pairs with an exact Jaccard
    * rerank. Candidate pairs come from colliding in >= 1 of k/r bands
    * (P = 1-(1-J^r)^(k/r); k=64, r=4 gives ~0.999 recall at J=0.8 and
    * ~1e-15 miss at J=0.97), then the exact shingle-set Jaccard
    * filters false positives, so precision is 1 and the emitted pairs
    * match `nearDupPairsExact` whenever recall holds.
    *
    * Scale shape: signatures are one codegen'd projection (no shuffle);
    * candidates come from a self-join on (band position, band hash) —
    * each document meets only its bucket-mates, never the corpus. */
  def nearDupPairsMinhash(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, k: Int = 64, r: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    // Staged projections: hashes -> signature -> bands. Each stage
    // references the previous COLUMN, so the k-wide signature tree is
    // built once instead of being inlined into all k/r band slices
    // (which multiplies the expression tree ~k-fold and stalls the
    // optimizer before a single row is read).
    val d = shingleSets(df, idCol, textCol, n)
      .transform(Spread.byKey(_, "doc_id")) // spread signature work; see nearDupPairsExact
      .withColumn("hsh", shingleHashes(col("sh")))
      // native codegen'd expression: one fused k x |hsh| loop (the HOF
      // formulation is interpreted at ~µs per lambda step)
      .withColumn("sig", NativeExpressions.minhashSignature(col("hsh"), k))
      .withColumn("bands", minhashBands(col("sig"), k, r))
      // second barrier: both candidate self-join sides hang off this
      // exchange, so ReuseExchange computes the signatures once.
      .transform(Spread.byKey(_, "doc_id"))
    // (band position, band hash) is the bucket key: the position must be
    // part of the key or hashes from different bands could collide.
    // posexplode_OUTER + isNotNull instead of posexplode: see
    // nearDupPairsExact — an inferred size() filter would otherwise push
    // the whole signature chain into a per-row scan predicate.
    val ex = d.select(col("doc_id"), posexplode_outer(col("bands")).as(Seq("p", "bk")))
      .filter(col("bk").isNotNull)
    val cand = ex.as("a")
      .join(ex.as("b"),
        col("a.p") === col("b.p") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    val withSets = cand
      .join(d.select(col("doc_id").as("i"), col("sh").as("sha")), "i")
      .join(d.select(col("doc_id").as("j"), col("sh").as("shb")), "j")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
    withSets.filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jac"))
  }

  /** Banded minhash signatures for a persistent signature STORE:
    * (idCol, bands) where bands is the k/r-wide array of band hashes.
    * Write this once per corpus shard; incremental dedup then band-joins
    * new documents against the STORED rows ([[nearDupsAgainstStore]])
    * without ever re-tokenizing or re-shingling the corpus — at 100 TB
    * the store is a few hundred bytes per document and the corpus text
    * is only re-read for verified CANDIDATES. */
  def bandSignatures(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, k: Int = 64, r: Int = 4): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .transform(Spread.byKey(_, "doc_id"))
      .withColumn("hsh", shingleHashes(col("sh")))
      .withColumn("sig", NativeExpressions.minhashSignature(col("hsh"), k))
      .select(col("doc_id").as(idCol), minhashBands(col("sig"), k, r).as("bands"))

  /** Incremental near-dup against a STORED signature table: the
    * increment's bands join the store's bands ((band position, hash)
    * bucket keys — increment-sized work, corpus never re-shingled),
    * then the exact Jaccard rerank re-shingles ONLY the candidate
    * corpus rows (semi-join pushdown before the tokenizer). Returns
    * (new_id, corpus_id, jac) at `threshold`, same contract as
    * [[nearDupsAgainstCorpus]]. */
  def nearDupsAgainstStore(inc: DataFrame, incIdCol: String, incTextCol: String,
                           store: DataFrame, corpus: DataFrame,
                           corpusIdCol: String, corpusTextCol: String,
                           n: Int = 3, k: Int = 64, r: Int = 4,
                           threshold: Double = 0.5): DataFrame = {
    val pb = bandSignatures(inc, incIdCol, incTextCol, n, k, r)
      .select(col(incIdCol).as("_pid"), posexplode_outer(col("bands")).as(Seq("p", "bk")))
      .filter(col("bk").isNotNull)
    val cb = store
      .select(col(corpusIdCol).as("_cid"), posexplode_outer(col("bands")).as(Seq("p", "bk")))
      .filter(col("bk").isNotNull)
    val cand = pb.join(cb, Seq("p", "bk"))
      .select(col("_pid"), col("_cid")).distinct()
    val incSh = shingleSets(inc, incIdCol, incTextCol, n)
      .select(col("doc_id").as("_pid"), col("sh").as("sha"))
    // candidate ids first, tokenizer second: only candidate corpus rows
    // pay the shingle cost
    val candCorpus = corpus.join(
      cand.select(col("_cid").as(corpusIdCol)).distinct(), corpusIdCol, "left_semi")
    val corSh = shingleSets(candCorpus, corpusIdCol, corpusTextCol, n)
      .select(col("doc_id").as("_cid"), col("sh").as("shb"))
    cand.join(incSh, "_pid").join(corSh, "_cid")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac",
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("_pid").as("new_id"), col("_cid").as("corpus_id"),
        round(col("jac"), 6).as("jac"))
  }

  /** Signature-store lifecycle: COMPACTION + GC. Operationally the
    * store only ever GROWS — each increment appends its band rows, a
    * replayed shard appends exact-duplicate rows, and deletions never
    * reach it. This rewrites the store down to exactly the live set:
    *   - rows whose id misses `liveIds` are dropped (GC of deleted
    *     docs) via a semi-join — at 100 TB `liveIds` is an id
    *     projection, usually broadcast-sized after deletion batching;
    *   - exact-duplicate rows from replayed shards collapse to one
    *     (whole-row distinct — identical text yields identical bands,
    *     so any surviving row is THE row);
    *   - survivors land as size-targeted parquet re-bucketed by id
    *     hash, so the incremental band join scans a balanced store
    *     instead of one shattered by a thousand tiny appends.
    * Returns (filesBefore, filesAfter). DedupSpec pins that the
    * compacted store equals [[bandSignatures]] recomputed from the
    * live corpus, row for row, and that [[nearDupsAgainstStore]] over
    * it still equals the recompute path. */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String, outDir: String,
                            liveIds: DataFrame, idCol: String,
                            targetBytes: Long = 128L << 20): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(conf)
    def parquetFiles(p: org.apache.hadoop.fs.Path) =
      Option(fs.listStatus(p)).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles(root)
    require(before.nonEmpty, s"compactSignatureStore: no parquet files under $storeDir")
    // pre-filter bytes are an upper bound on post-filter size, so the
    // file count can only land finer than the target, never coarser
    val nOut = math.max(1,
      math.ceil(before.map(_.getLen).sum.toDouble / targetBytes).toInt)
    spark.read.parquet(storeDir)
      .join(liveIds.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .distinct()
      .repartition(nOut, col(idCol))
      .write.mode("overwrite").parquet(outDir)
    (before.length, parquetFiles(new org.apache.hadoop.fs.Path(outDir)).length)
  }

  /** Duplicate-group KEEP POLICY: one surviving row per normalized
    * fingerprint, chosen by `qualityCol` DESC (longest/cleanest copy
    * wins) with id ASC as the deterministic tiebreak — the real-world
    * completion of exactDupGroups' min-id rule. One window per
    * fingerprint partition; Spark rewrites the rn = 1 filter into
    * WindowGroupLimit (per-partition top-1 heaps, no full sorts). */
  def keepBest(df: DataFrame, idCol: String, textCol: String,
               qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp"))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
    df.withColumn("fp", fingerprintMd5(col(textCol)))
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** INCREMENTAL near-dup detection: new-batch documents against an
    * existing corpus — the production shape (a daily increment is
    * deduped against the index, never corpus x corpus). Candidates come
    * from joining the increment's MinHash band buckets against the
    * corpus's (at cluster scale the corpus side is a persisted bucket
    * index, so the join touches only matching buckets); the exact
    * Jaccard rerank keeps precision 1. Emits (new_id, corpus_id, jac)
    * for jac >= threshold. Cost scales with |increment| + matched
    * buckets, independent of |corpus|. */
  def nearDupsAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 3, k: Int = 64, r: Int = 4,
                            threshold: Double = 0.5): DataFrame = {
    def prep(df: DataFrame) = shingleSets(df, idCol, textCol, n)
      .transform(Spread.byKey(_, "doc_id"))
      .withColumn("hsh", shingleHashes(col("sh")))
      .withColumn("sig", NativeExpressions.minhashSignature(col("hsh"), k))
      .withColumn("bands", minhashBands(col("sig"), k, r))
      .transform(Spread.byKey(_, "doc_id"))
    def explodeBands(d: DataFrame) = d
      .select(col("doc_id"), posexplode_outer(col("bands")).as(Seq("p", "bk")))
      .filter(col("bk").isNotNull)
    val dn = prep(newDocs)
    val dc = prep(corpus)
    val cand = explodeBands(dn).as("a")
      .join(explodeBands(dc).as("b"),
        col("a.p") === col("b.p") && col("a.bk") === col("b.bk"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(dn.select(col("doc_id").as("new_id"), col("sh").as("sha")), "new_id")
      .join(dc.select(col("doc_id").as("corpus_id"), col("sh").as("shb")), "corpus_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jac"), 6).as("jac"))
  }

  /** SimHash near-duplicate pairs: 64-bit fingerprint over hashed
    * shingles, candidates from the 4x16-bit chunk pigeonhole (Hamming
    * distance <= 3 GUARANTEES agreement on >= 1 chunk, so recall is 1
    * for the d<=3 band), verified with the true Hamming distance.
    * Emits (i, j) pairs with distance <= maxHamming.
    *
    * Shingles are hashed with the md5-derived `portableHash64` (not
    * xxhash64) so the whole pipeline — fingerprints, pigeonhole
    * buckets, Hamming filter — is reproducible in any engine with md5:
    * the DuckDB oracle rebuilds it verbatim and hash-checks the result. */
  def nearDupPairsSimhash(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, maxHamming: Int = 3): DataFrame = {
    val d = shingleSets(df, idCol, textCol, n)
      .transform(Spread.byKey(_, "doc_id")) // spread fingerprint work; see nearDupPairsExact
      // native expression: one compiled pass + thread-local digest per
      // row; semantics pinned to portableHash64 by NativeExprSpec
      .withColumn("hs", NativeExpressions.md5Hashes64(col("sh")))
      // native codegen'd expression: one pass over the hashes with 64
      // vote counters (the nested-aggregate HOF version re-walks the
      // array once per bit, interpreted)
      .withColumn("fp", NativeExpressions.simhash64(col("hs")))
      .withColumn("chunks", simhashChunks(col("fp")))
      .transform(Spread.byKey(_, "doc_id")) // shared by both join sides via ReuseExchange
    // outer + isNotNull: see nearDupPairsExact on inferred-filter pushdown
    val ex = d.select(col("doc_id"), col("fp"), posexplode_outer(col("chunks")).as(Seq("p", "ck")))
      .filter(col("ck").isNotNull)
    ex.as("a")
      .join(ex.as("b"),
        col("a.p") === col("b.p") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.fp").as("fa"), col("b.fp").as("fb"))
      .distinct()
      .filter(hamming64(col("fa"), col("fb")) <= maxHamming)
      .select(col("i"), col("j"))
  }

  /** Passage-level exact dedup (the scalable stand-in for suffix-array
    * substring dedup, cf. Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): documents are cut into
    * NON-OVERLAPPING `chunkTokens`-token passages and a passage is a
    * duplicate when it appears verbatim in more than one document.
    * Emits (passage, n_docs, n_occurrences, first_doc) per duplicated
    * passage — the removal list a curation pass anti-joins against.
    *
    * Scale shape: one scan + explode + groupBy(passage) — the shuffle
    * carries each distinct passage once per containing doc (map-side
    * partial agg collapses within-partition repeats). At 100 TB the
    * passage STRING in the shuffle key would be replaced by its 128-bit
    * hash (collision-free in practice) with the text re-attached only
    * for the surviving duplicates; kept textual here so the result is
    * directly comparable across engines. */
  def dupPassages(df: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int = 10): DataFrame = {
    val n = chunkTokens
    // stage toks as its own column: the chunk lambda slices it once per
    // passage, and an inlined tokenizer would re-run per passage (see
    // shingleSets on CollapseProject)
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n) // also keeps sequence() ascending
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), floor(size(col("toks")).cast("double") / n).cast("int") - 1),
          i => concat_ws(" ", slice(col("toks"), i * n + 1, lit(n))))).as("passage"))
      .groupBy(col("passage"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
  }

  /** C4-style duplicate-span REMOVAL with document rewrite — the step
    * AFTER [[dupPassages]]'s removal list: C4 (Raffel et al. 2020 §2.2)
    * drops every repeated three-sentence span except one occurrence and
    * keeps the rest of the page; Lee et al. 2022 (ExactSubstr) do the
    * same at the token-span level. Documents are cut into the same
    * NON-OVERLAPPING `chunkTokens`-token spans as [[dupPassages]]; a
    * span duplicated anywhere in the corpus survives only at its
    * globally FIRST occurrence (doc_id asc, then position asc) and each
    * document's text is reassembled from its surviving spans in
    * original order — the sub-chunk tail (the last `len mod n` tokens,
    * never a full span) is always kept. Emits
    * (doc_id, n_spans, n_dropped, kept_text) for EVERY input document,
    * including those shorter than one span (n_spans = 0, text kept).
    *
    * Scale shape: one scan + explode + ONE shuffle on the span value
    * (keep-first rank is a window partitioned BY SPAN — corpus-scale
    * key cardinality, full parallelism, bounded partitions because df
    * per span is small after [[dupPassages]]-style hot-span realities)
    * + one shuffle back on doc_id for reassembly. The tail rides the
    * document frame and rejoins by doc_id, so the text is scanned once.
    * At 100 TB the span STRING in the first shuffle key becomes its
    * 128-bit hash exactly as noted on [[dupPassages]], with the span
    * text re-attached only on the surviving rows. */
  def rewriteDupSpans(df: DataFrame, idCol: String, textCol: String,
                      chunkTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = chunkTokens
    val base = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("nc", floor(size(col("toks")).cast("double") / n).cast("int"))
      // tail = tokens past the last full span; length <= n-1 so slice's
      // `n` bound is never the limiter, and start nc*n+1 is always >= 1.
      .withColumn("tail_txt",
        concat_ws(" ", slice(col("toks"), col("nc") * n + 1, lit(n))))
    val chunks = base.filter(col("nc") >= 1) // keeps sequence() ascending
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("nc") - 1),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("toks"), i * n + 1, lit(n))).as("passage")))).as("ch"))
      .select(col("doc_id"), col("ch.pos").as("pos"), col("ch.passage").as("passage"))
    val wFirst = Window.partitionBy(col("passage"))
      .orderBy(col("doc_id"), col("pos"))
    val body = chunks
      .withColumn("rk", row_number().over(wFirst))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the when()'s nulls (dropped spans); the
        // struct sort restores original order by pos before the join
        // back into text.
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("rk") === 1,
            struct(col("pos"), col("passage"))))),
          x => x.getField("passage"))).as("body"))
    base.select(col("doc_id"), col("tail_txt"))
      .join(body, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        concat_ws(" ", filter(array(coalesce(col("body"), lit("")), col("tail_txt")),
          x => length(x) > 0)).as("kept_text"))
  }

  /** Benchmark-contamination scan (train/eval decontamination — the
    * standard n-gram-overlap check a training-data pipeline runs before
    * every release): for each training document, the fraction of its
    * distinct word n-gram shingles that occur ANYWHERE in the benchmark
    * set. Emits (doc_id, n_shingles, n_matched, overlap_frac,
    * contaminated) for every train doc with >= n tokens.
    *
    * Scale shape: benchmark suites are tiny relative to a training
    * corpus, so the benchmark shingle VOCABULARY (distinct shingles) is
    * collected once and broadcast — the train side is a single scan +
    * explode + broadcast hash semi-probe + groupBy(doc_id); the corpus
    * is never shuffled on the shingle key and never meets itself. */
  def benchmarkOverlap(train: DataFrame, bench: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 5, flagAt: Double = 0.1): DataFrame = {
    val benchSh = shingleSets(bench, idCol, textCol, n)
      .select(explode(col("sh")).as("s")).distinct()
      .withColumn("_hit", lit(1))
    val trainSh = shingleSets(train, idCol, textCol, n)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val frac = col("n_matched").cast("double") / col("n_shingles")
    trainSh
      .join(broadcast(benchSh), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_matched"))
      .select(col("doc_id"), col("n_shingles"), col("n_matched"),
        round(frac, 6).as("overlap_frac"),
        (frac >= flagAt).as("contaminated"))
  }

  /** EXACT cross-document substring overlap (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * notion): for every document pair sharing at least one exact run of
    * `n` consecutive tokens, the total shared-window count and the
    * LONGEST exact shared token run. Near-dup metrics (Jaccard,
    * MinHash) measure set overlap and miss the long-verbatim-quote
    * case this catches: a 60-token lift inside two otherwise-different
    * documents.
    *
    * Mechanics: every position's n-token window (ALL windows, in
    * order — WordNgramsExpr) becomes one (doc, pos, window) row;
    * posting lists group the inverted index by window value exactly
    * like [[nearDupPairsExact]] (one shuffle, pairs explode i<j from
    * the sorted list, `maxDocFreq` caps boilerplate windows before the
    * quadratic step). Shared windows at positions (pi, pj) belong to
    * the same RUN iff consecutive on a diagonal (pj - pi constant,
    * pi consecutive) — the classic gaps-and-islands grouping
    * (pi - row_number is constant within an island), so the longest
    * run falls out of one window function over the (sparse) shared-
    * window rows. max_run_tokens = longest island + n - 1.
    *
    * Scale shape: corpus-linear explode, one window-keyed shuffle with
    * the df cap, and all post-pair work is on shared-window rows —
    * output-sized, not corpus-sized. */
  def substringOverlap(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 8, maxDocFreq: Long = 64L): DataFrame = {
    val wins = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .transform(Spread.byKey(_, "doc_id"))
      .select(col("doc_id"),
        posexplode(NativeExpressions.wordNgrams(col("toks"), n)).as(Seq("pos", "w")))
    val shared = wins
      .groupBy(col("w"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("pos")))).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxDocFreq)
      .select(explode(expr(
        """flatten(transform(ds, (x, k) ->
             transform(filter(slice(ds, k + 2, size(ds)), y -> y.doc_id != x.doc_id),
               y -> struct(x.doc_id AS i, y.doc_id AS j,
                           x.pos AS pi, y.pos AS pj))))""")).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        col("p.pi").as("pi"), col("p.pj").as("pj"))
    // islands: within (i, j, diagonal), consecutive pi values form one
    // exact run; pi - row_number is the island key
    val byDiag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i"), col("j"), col("pj") - col("pi"))
      .orderBy(col("pi"))
    shared
      .withColumn("grp", col("pi") - row_number().over(byDiag))
      .groupBy(col("i"), col("j"), (col("pj") - col("pi")).as("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("run")).cast("long").as("n_shared_windows"),
        (max(col("run")) + lit(n - 1)).cast("long").as("max_run_tokens"))
  }
}
