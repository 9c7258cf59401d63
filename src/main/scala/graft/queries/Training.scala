package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.BpeTrainer
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-run data-preparation operators the reference engine has no
  * counterpart for (SURVEY §7.4 north-star surface, round 4): context-
  * window chunking, sequence packing, PII scrubbing, character-entropy
  * quality signals and per-group quota sampling.
  *
  * Scale notes are inline per query; the common theme is that every one
  * of these is a projection / windowed scan / single keyed shuffle —
  * no all-pairs joins, no driver-side loops, nothing that grows faster
  * than the input.
  */
object Training extends QueryModule {

  private val ChunkTokens = 50
  private val ChunkStride = 40
  private val PackBudget  = 2048L
  private val PackShards  = 4

  /** Shared feature frame for the trained-classifier queries
    * (quality_logreg fit/confusion, quality_calibration reliability).
    * x1/x2 are exactly-rounded IEEE divisions of integer counts —
    * bit-identical cross-engine with no rounding step needed. */
  private def logregFeatures(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "documents")
      .select(col("n_chars"), col("lang"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(
        (col("n_chars").cast("double") / lit(500.0)).as("x1"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double")).as("x2"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))

  /** Fixed merge table for `bpe_encode` (rank order matters: `the`
    * builds on `th`, `and` on `an`; `er` before `re` decides which of
    * the two claims a shared `e`). Counts are irrelevant to encoding. */
  private val EncodeMerges: Seq[BpeTrainer.Merge] = Seq(
    BpeTrainer.Merge(1, "t", "h", 0), BpeTrainer.Merge(2, "th", "e", 0),
    BpeTrainer.Merge(3, "a", "n", 0), BpeTrainer.Merge(4, "an", "d", 0),
    BpeTrainer.Merge(5, "i", "n", 0), BpeTrainer.Merge(6, "e", "r", 0),
    BpeTrainer.Merge(7, "o", "u", 0), BpeTrainer.Merge(8, "r", "e", 0))

  /** Accented phrases planted deterministically for text_normalize —
    * unicode escapes so the source stays ASCII; the SAME constant is
    * spliced into the DuckDB oracle, so both engines normalize
    * byte-identical inputs. Chosen to cover composed accents (é ü ñ),
    * base-letter modifications that must SURVIVE stripping (Ł Ø ß),
    * and the NFC/NFD boundary (verified against DuckDB's
    * strip_accents/nfc_normalize in NativeExprSpec). */
  private[queries] val AccentPhrases = Seq(
    "caf\u00e9 m\u00fcnchen", "\u00f1and\u00fa cr\u00e8me",
    "\u0141\u00f3d\u017a \u00d8rsted", "stra\u00dfe na\u00efve",
    "se\u00f1or Z\u00fcrich")

  val queries: Map[String, Q] = Map(

    // Unicode canonicalization — the pass multilingual corpora need
    // before any hash/dedup/fingerprint treats visually-identical
    // strings as equal: NFC normalization + accent stripping as native
    // expressions (Spark has neither; DuckDB has both built in, which
    // is the oracle). The fixture text is ASCII, so accented phrases
    // are PLANTED per doc from doc_id arithmetic (the url_domains
    // trick); the payload is the md5 fingerprint of the normalized
    // text — any divergence in normalization semantics flips it.
    "text_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.graft.NativeExpressions
      val arr = array(AccentPhrases.map(lit): _*)
      val withAcc = Tables(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" "),
          element_at(arr, (pmod(col("doc_id"), lit(5)) + 1).cast("int"))).as("t"))
      withAcc
        .select(col("doc_id"),
          NativeExpressions.stripAccents(
            NativeExpressions.nfcNormalize(col("t"))).as("norm"), col("t"))
        .select(col("doc_id"), md5(col("norm")).as("norm_fp"),
          (col("norm") =!= col("t")).as("changed"))
        .orderBy(col("doc_id"))
    }),

    // Quantile discretization (the ML-prep bucketizer): l_quantity and
    // l_extendedprice cut into deciles per return flag via ntile over
    // a DETERMINISTIC total order (value, orderkey, linenumber — the
    // unique-key tiebreak every ranking here carries), then per-bucket
    // count/min/max — the binning table a feature pipeline freezes and
    // reuses at serving time. One window pass per feature; the bucket
    // rollup is a tiny keyed aggregate.
    "feature_buckets" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      def deciles(c: String) = li
        .select(col("l_returnflag"), col(c).as("v"),
          ntile(10).over(Window.partitionBy(col("l_returnflag"))
            .orderBy(col(c), col("l_orderkey"), col("l_linenumber"))).as("bucket"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          (round(min(col("v")), 2) + lit(0.0)).as("lo"),
          (round(max(col("v")), 2) + lit(0.0)).as("hi"))
        .select(lit(c).as("feature"), col("l_returnflag"), col("bucket"),
          col("n"), col("lo"), col("hi"))
      deciles("l_quantity").unionByName(deciles("l_extendedprice"))
        .orderBy(col("feature"), col("l_returnflag"), col("bucket"))
    }),

    // KLL-boundary bucketing — the 100 TB escalation of
    // feature_buckets. ntile's bucketer caps parallelism at the
    // partition-key domain (3 return flags => 18M rows sorted in 3
    // window partitions at 30x, measured dead-linear in SCALING.md);
    // here the decile CUT POINTS come from the mergeable KLL sketch
    // (one partial-agg shuffle of ~3 KB buffers) and bucket assignment
    // is a broadcast range lookup (filter+size over the 9-element
    // boundary array) — a pure scan with full parallelism, no global
    // sort anywhere. Semantics differ from ntile ON PURPOSE
    // (value-threshold buckets vs equal-count tie-splitting), so both
    // queries stay registered. Hash gate (the profile_quantiles
    // pattern): the oracle-checkable payload is the group count + the
    // EXACT decile edges (percentile <-> quantile_cont parity); the
    // randomized KLL boundaries are rank-audited in-plan (observed
    // lt/le rank of each cut inside the published error envelope), and
    // the broadcast assignment is pinned by an EXACT identity —
    // cumulative bucket counts must equal the boundary's le-rank
    // digit-for-digit, ties and duplicate boundaries included. A
    // sketch, quantile-extraction, or lookup regression flips a
    // boolean and hash-mismatches.
    "feature_buckets_kll" -> ((s, dir) => {
      import org.apache.spark.sql.graft.KllFunctions
      val li = Tables(s, dir, "lineitem")
      val eps = KllFunctions.normalizedRankError(KllFunctions.DefaultK)
      val cuts = (1 to 9).map(_ / 10.0)
      def forFeature(c: String) = {
        // 3 rows (one per return flag), but the subtree is a full
        // lineitem scan carrying the EXACT percentile sort-aggregate —
        // and the pre-change plan referenced it twice (the broadcast
        // bnds side and perBucket), re-running that aggregate per
        // feature (r16 stage profile: 4 of the query's heaviest stages
        // were the two grp aggregates x2 references). Materialize the
        // 3-row result once; localCheckpoint, not persist: see
        // GraftSession's lifetime rule.
        val grp = li.groupBy(col("l_returnflag")).agg(
          count(lit(1)).as("n"),
          KllFunctions.kllQuantiles(
            KllFunctions.kllSketchAgg(col(c).cast("double")), cuts).as("bnds"),
          expr(s"percentile(CAST($c AS DOUBLE), array(${(1 to 10).map(i => i / 10.0).mkString(", ")}))").as("eq"))
          .localCheckpoint(true)
        val withB = li.select(col("l_returnflag").as("rf"), col(c).cast("double").as("v"))
          .join(broadcast(grp.select(col("l_returnflag").as("rf"), col("bnds"))), Seq("rf"))
        // observed lt/le ranks of every cut: 18 codegen'd conditional
        // sums in ONE pass — no explode, no row blow-up
        val rankAggs = (1 to 9).flatMap(k => Seq(
          sum(when(col("v") < element_at(col("bnds"), k), 1L).otherwise(0L)).as(s"lt$k"),
          sum(when(col("v") <= element_at(col("bnds"), k), 1L).otherwise(0L)).as(s"le$k")))
        val ranks = withB.groupBy(col("rf"))
          .agg(rankAggs.head, rankAggs.tail: _*)
          .select(col("rf"),
            array((1 to 9).map(k => col(s"lt$k")): _*).as("lts"),
            array((1 to 9).map(k => col(s"le$k")): _*).as("les"))
        // the serving-time path under audit: broadcast range lookup
        val nb = withB
          .select(col("rf"),
            (size(filter(col("bnds"), b => col("v") > b)) + 1).as("bk"))
          .groupBy(col("rf"), col("bk")).agg(count(lit(1)).as("nb"))
        val cumW = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
        val perBucket = grp
          .select(col("l_returnflag"), col("n"), col("eq"),
            explode(sequence(lit(1), lit(10))).as("bucket"))
          .join(nb, col("l_returnflag") === col("rf") && col("bucket") === col("bk"), "left")
          .drop("rf", "bk")
          .withColumn("cum", sum(coalesce(col("nb"), lit(0L))).over(cumW))
        val tol = ceil(col("n") * lit(2.0 * eps)) + lit(2.0)
        perBucket
          .join(broadcast(ranks), col("l_returnflag") === col("rf"))
          .select(lit(c).as("feature"), col("l_returnflag"), col("bucket"), col("n"),
            (round(element_at(col("eq"), col("bucket")), 6) + lit(0.0)).as("hi_exact"),
            when(col("bucket") <= 9,
              (element_at(col("lts"), col("bucket")) <=
                ceil(col("n") * col("bucket") / lit(10.0)) + tol) &&
              (element_at(col("les"), col("bucket")) >=
                floor(col("n") * col("bucket") / lit(10.0)) - tol))
              .otherwise(lit(true)).as("bound_ok"),
            when(col("bucket") <= 9,
              col("cum") === element_at(col("les"), col("bucket")))
              .otherwise(col("cum") === col("n")).as("assign_ok"))
      }
      forFeature("l_quantity").unionByName(forFeature("l_extendedprice"))
        .orderBy(col("feature"), col("l_returnflag"), col("bucket"))
    }),

    // The bucketizer's count-driven FRONT DOOR (round-14 verdict item
    // #5's escalation, applied where the dispatch is sound): value-
    // threshold decile buckets whose cut points come from exact
    // percentile below Bucketize.ExactQuantileRowBudget (the
    // oracle-replayable arm — this query at sf scales) and from the
    // mergeable KLL sketch above it (the 100× sweep's 18M/60M-row
    // fixtures — no global sort anywhere). Both arms share ONE
    // bucketing rule; the ntile contract (feature_buckets) is
    // deliberately NOT dispatched to — equal-count tie-splitting is a
    // different ANSWER, and answers must not change with corpus size.
    // The method column records the dispatch (route-tag provenance).
    "feature_buckets_auto" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      def forF(c: String) = graft.operators.Bucketize.byQuantiles(
          li.select(col("l_returnflag"), col(c)), "l_returnflag", c)
        .select(lit(c).as("feature"), col("l_returnflag"), col("bucket"),
          col("n"), col("lo"), col("hi"), col("method"))
      forF("l_quantity").unionByName(forF("l_extendedprice"))
        .orderBy(col("feature"), col("l_returnflag"), col("bucket"))
    }),

    // Smoothed target encoding (the high-cardinality categorical
    // encoder): each part brand's mean extended price shrunk toward
    // the global mean with pseudo-count m=50 — enc = (sum + m*mu) /
    // (n + m) — so rare categories don't memorize noise. The exact
    // leakage-prone naive mean rides alongside for comparison. One
    // keyed aggregate + one broadcast scalar; at 100 TB the category
    // table is vocabulary-sized.
    "target_encode" -> ((s, dir) => {
      val joined = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("l_extendedprice").as("y"))
      val global = joined.agg(avg(col("y")).as("mu"))
      joined.groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("y")).as("sy"),
          avg(col("y")).as("naive"))
        .crossJoin(broadcast(global))
        .select(col("p_brand"), col("n"),
          (round((col("sy") + lit(50.0) * col("mu")) / (col("n") + lit(50.0)), 4) + lit(0.0)).as("enc_smoothed"),
          (round(col("naive"), 4) + lit(0.0)).as("enc_naive"))
        .orderBy(col("p_brand"))
    }),

    // Trainable quality classifier: binary logistic regression (is this
    // an English page?) on two exact-arithmetic document features —
    // scaled length and distinct-token ratio — via 3 full-batch GD
    // rounds, each ONE mergeable aggregate; weights re-anchored at 6 dp
    // per round so DuckDB replays the identical iterations as unrolled
    // CTEs (the trainIvf discipline). The synthetic labels make
    // the MODEL near-chance; what the oracle pins is the mechanism:
    // gradient aggregation, the update chain, and the final
    // literal-weight confusion matrix (prediction = margin >= 0 needs
    // no exp, so it is exactly deterministic given the weights).
    "quality_logreg" -> ((s, dir) => {
      val f = logregFeatures(s, dir)
      val wts = graft.operators.LogisticRegression.fit(f, Seq("x1", "x2"), "y")
      val z = graft.operators.LogisticRegression.margin(wts, Seq("x1", "x2"))
      f.agg(
          count(lit(1)).cast("long").as("n"),
          sum(when(z >= 0 && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
          sum(when(z >= 0 && col("y") === 0.0, 1L).otherwise(0L)).as("fp"),
          sum(when(z < 0 && col("y") === 1.0, 1L).otherwise(0L)).as("fn"),
          sum(when(z < 0 && col("y") === 0.0, 1L).otherwise(0L)).as("tn"))
        .select(
          lit(wts.w(0) + 0.0).as("w_len"), lit(wts.w(1) + 0.0).as("w_ttr"),
          lit(wts.b + 0.0).as("bias"),
          col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
          (round((col("tp") + col("tn")).cast("double") / col("n"), 6) + lit(0.0))
            .as("accuracy"))
    }),

    // Calibration / reliability curve of the trained quality classifier
    // — the fourth member of the eval family (ann_eval measures the ANN
    // index, dedup_eval the LSH reroute, ann_eval_tuned the autotuner,
    // this one the model the curation gate trusts): predicted
    // probabilities are binned at 0.02 width and each bin reports mean
    // predicted vs empirical positive rate, their gap, and the Brier
    // contribution. The label is PLANTED with a positive rate linear in
    // the length feature (see PlantedLabelSql — the lang label is
    // text-independent by fixture construction, which would leave any
    // model near-chance and every score in one bin), so the fit has
    // genuine signal and the diagram shows the real sigmoid-vs-linear
    // miscalibration at the score ends. Numeric discipline: the sigmoid
    // is anchored at 6 dp per row (the quality_score precedent), then
    // ALL bin arithmetic runs in exact integer micro-units — bucket =
    // pe div 2e4, mean_p = sum(pe)/1e6/n, brier from (pe-ye)^2 — so no
    // summation-order flicker can reach the hash (the v2/v3 lesson).
    // One corpus pass per GD round over the CHECKPOINTED feature frame
    // (20 rounds — measured as where the score spread fills the
    // diagram) plus one tiny bucket-keyed aggregation: the fit's only
    // driver crossing is the (k+1)-double gradient per round.
    "quality_calibration" -> ((s, dir) => {
      val f = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(
          (col("n_chars").cast("double") / lit(500.0)).as("x1"),
          (size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double")).as("x2"),
          // reduce mod 2^20 BEFORE the Knuth multiply: (a mod m)·c mod m
          // = a·c mod m, and the unreduced product overflows long at the
          // 100x fixture's re-keyed doc_ids (found by the 100x sweep)
          when((((col("doc_id") % lit(1048576L)) * lit(2654435761L))
                 % lit(1048576L)).cast("double")
                 / lit(1048576.0) <
               lit(0.1) + lit(0.7) *
                 least(col("n_chars").cast("double") / lit(500.0), lit(1.0)),
            1.0).otherwise(0.0).as("y"))
        .localCheckpoint(true)
      val wts = graft.operators.LogisticRegression.fit(f, Seq("x1", "x2"), "y",
        iters = 20)
      val z = graft.operators.LogisticRegression.margin(wts, Seq("x1", "x2"))
      f.select(col("y"),
          round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"))
        .select(col("y"),
          round(col("p") * lit(1e6)).cast("long").as("pe"),
          (col("y") * lit(1e6)).cast("long").as("ye"))
        .withColumn("bucket",
          least(floor(col("pe") / lit(20000.0)).cast("int"), lit(49)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          (sum(col("ye")) / lit(1000000L)).cast("long").as("n_pos"),
          (round(sum(col("pe")) / lit(1e6) / count(lit(1)), 6) + lit(0.0))
            .as("mean_p"),
          (round(sum(col("ye")) / lit(1e6) / count(lit(1)), 6) + lit(0.0))
            .as("frac_pos"),
          (round(sum((col("pe") - col("ye")) * (col("pe") - col("ye")))
            / lit(1e12) / count(lit(1)), 6) + lit(0.0)).as("brier"))
        .select(col("bucket"), col("n"), col("n_pos"), col("mean_p"),
          col("frac_pos"),
          (round(col("mean_p") - col("frac_pos"), 6) + lit(0.0)).as("gap"),
          col("brier"))
        .orderBy(col("bucket"))
    }),

    // Context-window chunking with overlap: every document is cut into
    // 50-token windows on a 40-token stride (10-token overlap), the
    // standard shape for long-document training and for RAG indexing.
    // One generate+explode projection — no shuffle until the output
    // sort, and at 100 TB none at all (chunking is embarrassingly
    // parallel; downstream writers partition by doc hash).
    "doc_chunks" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            ceil(size(col("toks")).cast("double") / ChunkStride).cast("int") - 1))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          size(slice(col("toks"), col("chunk_idx") * ChunkStride + 1, lit(ChunkTokens)))
            .as("n_chunk_tokens"),
          md5(array_join(
            slice(col("toks"), col("chunk_idx") * ChunkStride + 1, lit(ChunkTokens)), " "))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Sequence packing, concat-and-chop style: documents are dealt into
    // shards, ordered pseudo-randomly (md5 of the id — deterministic,
    // engine-portable), and packed head-to-tail into fixed 2048-token
    // bins via an exclusive running sum; pack_id/pack_offset say where
    // each document lands. This is how GPT-style pipelines pack tokens
    // into fixed-length training rows. One window shuffle per shard;
    // shard count scales the parallelism (the per-shard sort is the
    // honest sequential dependency of packing).
    // The running sum is Ranks.groupRunningSum, not a per-shard window:
    // a window partitioned by the 4 shards caps the sort at 4 cores no
    // matter the cluster; the distributed prefix sum (range partition
    // on (shard, md5 order) + per-partition sums + broadcast offsets)
    // is BIT-equal for integer token counts, so the oracle is unchanged.
    "seq_pack" -> ((s, dir) => {
      val tokd = Tables(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % PackShards).cast("int").as("shard"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.Ranks.groupRunningSum(tokd, Seq("shard"),
          Seq(md5(col("doc_id").cast("string")), col("doc_id")),
          col("n_tokens"), "cum")
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          floor(col("cum") / PackBudget).as("pack_id"),
          (col("cum") % PackBudget).as("pack_offset"))
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing: detect-and-mask phone / IPv4 / SSN-shaped ids in
    // one codegen'd projection. The synthetic corpus carries no PII, so
    // the query plants a deterministic contact footer per document and
    // must mask exactly that. RE2-safe patterns (\b, \d — no
    // lookarounds) so the DuckDB oracle applies the identical regexes.
    // Replacement order matters: the 3-2-4 id pattern must be masked
    // before the 3-4 phone pattern would bite its tail.
    "pii_scrub" -> ((s, dir) => {
      val phone = "\\b\\d{3}-\\d{4}\\b"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
      val aug = concat(col("text"),
        lit(" Call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".1 id 123-45-6789"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), aug.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(phone), lit(0))).as("n_phones"),
          size(regexp_extract_all(col("t"), lit(ip), lit(0))).as("n_ips"),
          size(regexp_extract_all(col("t"), lit(ssn), lit(0))).as("n_ids"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
            ip, "[IP]"), ssn, "[ID]"), phone, "[PHONE]")).as("scrubbed_md5"))
        .orderBy(col("doc_id"))
    }),

    // Character-unigram entropy: low-entropy documents are boilerplate /
    // repeated-char spam, high-entropy ones are often binary junk — a
    // cheap, language-agnostic quality gate alongside the token-level
    // Gopher filters (text_repetition). One compiled pass per row
    // (CharEntropyExpr builds the code-point histogram row-side) —
    // NO shuffle at all, vs the former explode(split(text, '')) shape
    // that pushed one row per character through a (doc, char)
    // aggregation (4x the runtime at sf0.1, and corpus-bytes x row
    // overhead of shuffle IO at any scale).
    "char_entropy" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), normalize(col("text")).as("norm"))
        .filter(length(col("norm")) > 0)
        .select(col("doc_id"),
          org.apache.spark.sql.graft.NativeExpressions.charEntropy(col("norm")).as("h"))
        .select(col("doc_id"),
          round(col("h.entropy"), 6).as("char_entropy"),
          col("h.n_distinct").as("n_distinct_chars"))
        .orderBy(col("doc_id"))),

    // Hashing-trick featurization: tokens hashed into 16 buckets
    // (first md5 hex nibble — engine-portable, unlike hash()/xxhash64),
    // per-document bucket counts = the fixed-width sparse features a
    // linear probe trains on with no vocabulary pass at all. Shuffles
    // once on (doc, bucket); bucket cardinality is a constant.
    "feature_hash" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("doc_id"), substring(md5(col("tok")), 1, 1).as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("doc_id"), col("bucket"))),

    // Vocabulary extraction: the corpus's top-100 bigrams by frequency
    // (the other path to a token budget: a fixed vocab instead of the
    // hashing trick). Count on the bigram key, then TakeOrdered for
    // the global top-k — the rank window only ever sees the 100
    // surviving rows.
    // N-gram diversity per source: type/token ratios at n=1,2,3 — the
    // self-repetition signal (template-generated or boilerplate-heavy
    // sources collapse toward 0; diverse prose stays high). One
    // generator pass per n, keyed partial-agg shuffles; distinct types
    // count via the same shuffle (approx_count_distinct would also do
    // at 100 TB, but the exact form is the oracle-checkable one).
    "ngram_diversity" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // two-level aggregation instead of count+countDistinct in one
      // agg: the multi-distinct form plans an Expand that doubles
      // every exploded n-gram row through the shuffle; (source, gram)
      // partial counts then one rollup is a single clean exchange
      val perN = (1 to 3).map { n =>
        docs.select(col("source"),
            explode(org.apache.spark.sql.graft.NativeExpressions
              .wordNgrams(tokens(col("text")), n)).as("g"))
          .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("types"), sum(col("c")).as("total"))
          .select(col("source"), lit(n).as("n"), col("types"), col("total"),
            round(col("types") / col("total"), 6).as("ttr"))
      }
      perN.reduce(_.unionByName(_)).orderBy(col("source"), col("n"))
    }),

    // Vocabulary growth curve (Heaps' law diagnostic): how many NEW
    // token types each tenth of the corpus contributes, plus the
    // cumulative vocabulary. First-occurrence doc per type is one
    // min() aggregation; the bucket edge rides as a broadcast scalar;
    // the cumulative sum runs over exactly 10 rows.
    "vocab_growth" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      val hi = Tables(s, dir, "documents")
        .agg((max(col("doc_id")) + 1).cast("double").as("ndocs"))
      // token mass per decile (always 10 rows) + new types attributed
      // to the decile of their FIRST occurrence — on a corpus with a
      // bounded synthetic vocabulary the curve saturates in decile 0,
      // which is itself the diagnostic (Heaps exponent ~0).
      val mass = tok.crossJoin(broadcast(hi))
        .select(floor(col("doc_id") * 10.0 / col("ndocs")).cast("int").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_tokens"))
      val firstDoc = tok.groupBy(col("t")).agg(min(col("doc_id")).as("fd"))
      val newTypes = firstDoc.crossJoin(broadcast(hi))
        .select(floor(col("fd") * 10.0 / col("ndocs")).cast("int").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("new_types"))
      mass.join(newTypes, Seq("decile"), "left")
        .select(col("decile"), col("n_tokens"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .select(col("decile"), col("n_tokens"), col("new_types"),
          sum(col("new_types"))
            .over(Window.orderBy(col("decile"))).as("cum_types"))
        .orderBy(col("decile"))
    }),

    "vocab_topk" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(explode(org.apache.spark.sql.graft.NativeExpressions
          .wordNgrams(tokens(col("text")), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("bg")).limit(100)
      counts.select(
          row_number().over(Window.orderBy(col("c").desc, col("bg"))).as("rk"),
          col("bg"), col("c"))
        .orderBy(col("rk"))
    }),

    // Model-scoring inference: a linear quality classifier applied over
    // the hashing-trick features — the natural completion of
    // featurize (feature_hash) -> score, and the shape every learned
    // quality filter runs at corpus scale: per-doc bucket counts (one
    // (doc, bucket) shuffle), a BROADCAST join against the 16-row
    // weight table, one groupBy(doc) for the dot product, sigmoid on
    // top. The corpus is scanned once and never meets itself; the
    // model (weights) ships to the data, not the reverse. Weights are
    // exact binary fractions (k/16) so partial-agg addition order
    // cannot perturb the sum and both engines produce identical bits.
    "quality_score" -> ((s, dir) => {
      val weights = graft.Graft.fromValues(s, Seq("bucket", "w"),
        "0123456789abcdef".zipWithIndex.map { case (c, i) =>
          Seq[Any](c.toString, (i - 8) / 16.0) })
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("doc_id"), substring(md5(col("tok")), 1, 1).as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .join(broadcast(weights), "bucket")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tokens"),
          sum(col("cnt") * col("w")).as("dot"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("dot"), 6).as("dot"),
          round(lit(1.0) / (lit(1.0) + exp(-(col("dot") / col("n_tokens") + lit(0.125)))), 6)
            .as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic epoch shuffle — training-order REPRODUCIBILITY,
    // the property a 100 TB run cannot retrofit: each epoch orders the
    // corpus by md5("epoch<e>:" || doc_id) (seed-keyed, so epochs
    // reshuffle independently but any run of epoch e lands the
    // identical order), then deals rows round-robin into 8 shards with
    // a position. The global rank is Ranks.groupRowNumber — the
    // distributed two-pass rank (range partition on (epoch, key),
    // local ranks, broadcast offsets), NOT a 2-partition window, so
    // cluster parallelism is the partition count, not the epoch count.
    "epoch_shuffle" -> ((s, dir) => {
      val keyed = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(array(lit(1), lit(2))).as("epoch"))
        .withColumn("k", md5(concat(lit("epoch"), col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string"))))
      graft.operators.Ranks
        .groupRowNumber(keyed, Seq("epoch"), Seq(col("k"), col("doc_id")), "rk")
        .select(col("epoch"), col("doc_id"), col("rk"),
          ((col("rk") - 1) % 8).cast("int").as("shard"),
          floor((col("rk") - 1) / lit(8.0)).cast("long").as("pos"))
        .orderBy(col("epoch"), col("doc_id"))
    }),

    // Deterministic per-group quota sampling: exactly 50 customers per
    // market segment, chosen by md5 order — the fixed-size-per-stratum
    // complement of Sampling.stratifiedHashSample's fixed-fraction
    // draw. Top-k per key => Catalyst's WindowGroupLimit pushes the
    // rank filter into the shuffle, so each partition forwards at most
    // 50 rows per group instead of sorting whole strata.
    "quota_sample" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
      Tables(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 50)
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    // BPE tokenizer training: 12 merge rounds over the documents corpus.
    // The merge sequence is exact and deterministic (long counts,
    // lexicographic tie-break); the per-round argmax is inherently
    // sequential, but a FIXED round count unrolls into chained DuckDB
    // CTEs with the greedy merge as a list_reduce fold
    // (BpeTrainer.learnSql) — so since round 8 this sits under the full
    // hash gate; BpeSpec additionally pins the algorithm against a
    // sequential reference.
    // BPE ENCODING with a fixed merge table — the apply side of the
    // tokenizer (bpe_merges is the learn side). The corpus-scale trick
    // is the one production tokenizers use: encode each DISTINCT word
    // once (vocabulary-sized work), then join the token counts back to
    // the (doc, word) occurrences — the merge fold never touches the
    // corpus. Merges apply in rank order through the same greedy
    // left-to-right Column fold the learner uses, so the pair
    // (bpe_merges, bpe_encode) is train+apply over one code path. The
    // oracle replays the merges as ordered non-overlapping string
    // replacements on single-char placeholder symbols — exactly the
    // greedy pair-merge semantics, SQL-portable.
    "bpe_encode" -> ((s, dir) => {
      val words = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
        .filter(length(col("word")) > 0)
      val perDoc = words.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("cnt"))
      val vocab = perDoc.select(col("word")).distinct()
        .withColumn("freq", lit(1L))
      val encoded = BpeTrainer.applyMerges(vocab, EncodeMerges)
        .select(col("word"), size(col("syms")).cast("long").as("n_toks"),
          array_join(col("syms"), " ").as("enc"))
      perDoc.join(encoded, "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("n_words"),
          sum(col("cnt") * col("n_toks")).cast("long").as("n_tokens"),
          md5(concat_ws("|", array_sort(collect_list(
            concat_ws(":", col("word"), col("enc")))))).as("enc_md5"))
        .orderBy(col("doc_id"))
    }),

    // Batch-packing efficiency: padding waste (padded cells beyond each
    // sequence's length, batch padded to its max) of LENGTH-SORTED
    // batching vs hash-ordered batching, per shard — the report that
    // justifies sorted bucketing in a training dataloader. Scale shape:
    // batches form WITHIN hash shards (the seq_pack layout), so the
    // sort is shard-local — no global ordering, no single-partition
    // window; at 100 TB shards map to training workers.
    "pack_efficiency" -> ((s, dir) => {
      val B = 32 // sequences per batch
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(PackShards)).as("shard"),
          size(tokens(col("text"))).cast("long").as("n"))
      def waste(ord: Seq[org.apache.spark.sql.Column], label: String): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy(col("shard")).orderBy(ord: _*)
        t.withColumn("rn", row_number().over(w))
          .withColumn("batch", ((col("rn") - 1) / B).cast("long"))
          .groupBy(col("shard"), col("batch"))
          .agg((max(col("n")) * count(lit(1)) - sum(col("n"))).as("w"))
          .groupBy(col("shard"))
          .agg(sum(col("w")).cast("long").as(label))
      }
      val sorted = waste(Seq(col("n"), col("doc_id")), "waste_sorted")
      val random = waste(Seq(md5(col("doc_id").cast("string")), col("doc_id")),
        "waste_random")
      t.groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n")).cast("long").as("n_tokens"))
        .join(sorted, "shard").join(random, "shard")
        .select(col("shard").cast("long").as("shard"), col("n_docs"), col("n_tokens"),
          col("waste_sorted"), col("waste_random"),
          (round(lit(1.0) - col("waste_sorted").cast("double") /
            col("waste_random").cast("double"), 6) + lit(0.0)).as("padding_saved"))
        .orderBy(col("shard"))
    }),

    // Tokenizer fertility by language: mean tokens per word under the
    // fixed merge table — THE standard tokenizer-evaluation metric
    // (a tokenizer trained on English costs other languages more
    // tokens per word; fertility quantifies that tax before training).
    // Same vocabulary-sized encode as bpe_encode: each distinct word
    // is folded once, counts join back to the per-language totals.
    "bpe_fertility" -> ((s, dir) => {
      val words = Tables(s, dir, "documents")
        .select(col("lang"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
        .filter(length(col("word")) > 0)
      val perLang = words.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
      val vocab = perLang.select(col("word")).distinct().withColumn("freq", lit(1L))
      val encoded = BpeTrainer.applyMerges(vocab, EncodeMerges)
        .select(col("word"), size(col("syms")).cast("long").as("n_toks"))
      perLang.join(encoded, "word")
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).cast("long").as("n_words"),
          sum(col("cnt") * col("n_toks")).cast("long").as("n_tokens"),
          (round(sum(col("cnt") * col("n_toks")).cast("double") /
            sum(col("cnt")).cast("double"), 6) + lit(0.0)).as("fertility"))
        .orderBy(col("lang"))
    }),

    "bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val wf = BpeTrainer.wordFreq(Tables(s, dir, "documents"), col("text"))
      BpeTrainer.learnMerges(wf, numMerges = 12)
        .toDF().select(col("rank"), col("a").as("sym_a"), col("b").as("sym_b"),
          col("count").as("pair_count"))
        .orderBy(col("rank"))
    }))

  /** The `iters`-round full-batch GD fit unrolled as DuckDB CTEs —
    * shared by the quality_logreg and quality_calibration oracles (the
    * literal twin of LogisticRegression.fit's per-round 6-dp gradient
    * rounding, so both engines land on identical weight doubles). The
    * label expression is a parameter; the final weights CTE is named
    * `w${iters}t`. */
  private def logregFitCtes(labelSql: String, iters: Int): String = {
    // f is MATERIALIZED: each GD round cross-joins f, and without the
    // hint DuckDB inlines the CTE — re-tokenizing the corpus and
    // re-opening the parquet once per round (21 scans hit EMFILE at
    // iters=20; it is also the honest twin of the Spark side's persist)
    val head =
      s"""f AS MATERIALIZED (
            SELECT CAST(n_chars AS DOUBLE) / 500.0 AS x1,
                   CAST(len(list_distinct(toks)) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) AS x2,
                   $labelSql AS y
            FROM (SELECT doc_id, lang, n_chars, ${Pipeline.toksSql} AS toks
                  FROM documents)
            WHERE len(toks) > 0),
          w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS b)"""
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}t"
      s""",
          g$i AS MATERIALIZED (SELECT
              round(avg(x1 * (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS d1,
              round(avg(x2 * (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS d2,
              round(avg(     (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS db
            FROM f CROSS JOIN $prev),
          w${i}t AS MATERIALIZED (SELECT $prev.w1 - g$i.d1 AS w1, $prev.w2 - g$i.d2 AS w2,
                         $prev.b - g$i.db AS b FROM $prev CROSS JOIN g$i)"""
    }.mkString
    head + rounds
  }

  private val LangLabelSql = "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END"

  /** quality_calibration's planted label: positive with probability
    * 0.1 + 0.7·min(x1, 1) — LINEAR in the length feature, with the
    * Bernoulli draw from a Knuth multiplicative hash of doc_id (pure
    * integer arithmetic, so both engines draw the identical bit). The
    * logistic fit has genuine signal to learn (the lang label is
    * text-independent by fixture construction, leaving any model
    * near-chance and its scores in a single bin), and the calibration
    * curve measures a REAL mismatch: a sigmoid fitted to a linear
    * positive rate is over-confident at the ends — exactly what a
    * reliability diagram exists to show. */
  private val PlantedLabelSql =
    """CASE WHEN CAST(((doc_id % 1048576) * 2654435761) % 1048576 AS DOUBLE)
                   / 1048576.0
              < 0.1 + 0.7 * LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
            THEN 1.0 ELSE 0.0 END"""

  val oracle: Map[String, String] = Map(
    // DuckDB's built-in strip_accents/nfc_normalize ARE the reference
    // implementation here; the planted phrases splice from the same
    // Scala constant so both engines see identical bytes
    "text_normalize" ->
      s"""WITH a AS (SELECT doc_id,
            text || ' ' || ['${AccentPhrases.mkString("','")}'][CAST(doc_id % 5 AS INT) + 1] AS t
          FROM documents)
          SELECT doc_id, md5(strip_accents(nfc_normalize(t))) AS norm_fp,
            strip_accents(nfc_normalize(t)) <> t AS changed
          FROM a ORDER BY doc_id""",
    "feature_buckets" ->
      """WITH q AS (SELECT 'l_quantity' AS feature, l_returnflag,
                      ntile(10) OVER (PARTITION BY l_returnflag
                        ORDER BY l_quantity, l_orderkey, l_linenumber) AS bucket,
                      l_quantity AS v
                    FROM lineitem),
          p AS (SELECT 'l_extendedprice' AS feature, l_returnflag,
                  ntile(10) OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket,
                  l_extendedprice AS v
                FROM lineitem),
          u AS (SELECT * FROM q UNION ALL SELECT * FROM p)
          SELECT feature, l_returnflag, bucket, CAST(count(*) AS BIGINT) AS n,
            round(min(v), 2) + 0.0 AS lo, round(max(v), 2) + 0.0 AS hi
          FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // Exact decile-edge payload (percentile <-> quantile_cont parity);
    // the KLL rank-bound and assignment-identity booleans are literal
    // TRUE here and computed for real on the Spark side.
    "feature_buckets_kll" ->
      """WITH gq AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                       quantile_cont(CAST(l_quantity AS DOUBLE),
                         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS eq
                     FROM lineitem GROUP BY 1),
          gp AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   quantile_cont(CAST(l_extendedprice AS DOUBLE),
                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS eq
                 FROM lineitem GROUP BY 1),
          u AS (SELECT 'l_quantity' AS feature, * FROM gq
                UNION ALL SELECT 'l_extendedprice' AS feature, * FROM gp)
          SELECT feature, l_returnflag, CAST(b.bucket AS INT) AS bucket, n,
            round(eq[CAST(b.bucket AS INT)], 6) + 0.0 AS hi_exact,
            TRUE AS bound_ok, TRUE AS assign_ok
          FROM u CROSS JOIN generate_series(1, 10) b(bucket)
          ORDER BY 1, 2, 3""",
    // feature_buckets_auto: at oracle scales the dispatch picks the
    // EXACT percentile arm (lineitem << ExactQuantileRowBudget), so
    // the replay is quantile_cont cut points + the same value-
    // threshold range lookup; method is the constant 'exact' here.
    "feature_buckets_auto" ->
      """WITH f AS (SELECT 'l_quantity' AS feature, l_returnflag,
                      CAST(l_quantity AS DOUBLE) AS v FROM lineitem
                    UNION ALL
                    SELECT 'l_extendedprice', l_returnflag,
                      CAST(l_extendedprice AS DOUBLE) FROM lineitem),
          b AS (SELECT feature, l_returnflag,
                  quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds
                FROM f GROUP BY 1, 2),
          a AS (SELECT f.feature, f.l_returnflag,
                  CAST(len(list_filter(b.bnds, x -> f.v > x)) + 1 AS INTEGER) AS bucket,
                  b.bnds
                FROM f JOIN b ON f.feature = b.feature
                             AND f.l_returnflag = b.l_returnflag),
          g AS (SELECT feature, l_returnflag, bucket,
                  CAST(count(*) AS BIGINT) AS n, any_value(bnds) AS bnds
                FROM a GROUP BY 1, 2, 3)
          SELECT feature, l_returnflag, bucket, n,
            round(CASE WHEN bucket > 1 THEN bnds[bucket - 1] END, 2) + 0.0 AS lo,
            round(CASE WHEN bucket < 10 THEN bnds[bucket] END, 2) + 0.0 AS hi,
            'exact' AS method
          FROM g ORDER BY feature, l_returnflag, bucket""",
    "target_encode" ->
      """WITH j AS (SELECT p_brand, l_extendedprice AS y
                    FROM lineitem JOIN part ON l_partkey = p_partkey),
          g AS (SELECT avg(y) AS mu FROM j)
          SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
            round((sum(y) + 50.0 * mu) / (count(*) + 50.0), 4) + 0.0 AS enc_smoothed,
            round(avg(y), 4) + 0.0 AS enc_naive
          FROM j CROSS JOIN g GROUP BY p_brand, mu ORDER BY p_brand""",
    "quality_logreg" ->
      s"""WITH ${logregFitCtes(LangLabelSql, 3)},
          cm AS (SELECT
              any_value(w1) + 0.0 AS w_len, any_value(w2) + 0.0 AS w_ttr,
              any_value(b) + 0.0 AS bias,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN x1*w1 + x2*w2 + b >= 0 AND y = 1.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN x1*w1 + x2*w2 + b >= 0 AND y = 0.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN x1*w1 + x2*w2 + b < 0 AND y = 1.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(sum(CASE WHEN x1*w1 + x2*w2 + b < 0 AND y = 0.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM f CROSS JOIN w3t)
          SELECT w_len, w_ttr, bias, n, tp, fp, fn, tn,
            round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS accuracy
          FROM cm""",
    // quality_calibration: the identical 20-round fit chain on the
    // planted linear-rate label, then the 6-dp sigmoid anchor and
    // exact integer micro-unit bin arithmetic
    "quality_calibration" ->
      s"""WITH ${logregFitCtes(PlantedLabelSql, 20)},
          scored AS (SELECT y,
              round(1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))), 6) + 0.0 AS p
            FROM f CROSS JOIN w20t),
          m AS (SELECT CAST(round(p * 1000000) AS BIGINT) AS pe,
                  CAST(y * 1000000 AS BIGINT) AS ye
                FROM scored),
          bk AS (SELECT LEAST(CAST(floor(pe / 20000.0) AS INT), 49) AS bucket,
                   pe, ye FROM m),
          agg AS (SELECT bucket,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(ye) / 1000000 AS BIGINT) AS n_pos,
              round(sum(pe) / 1000000.0 / count(*), 6) + 0.0 AS mean_p,
              round(sum(ye) / 1000000.0 / count(*), 6) + 0.0 AS frac_pos,
              round(sum((pe - ye) * (pe - ye)) / 1000000000000.0 / count(*), 6)
                + 0.0 AS brier
            FROM bk GROUP BY 1)
          SELECT bucket, n, n_pos, mean_p, frac_pos,
            round(mean_p - frac_pos, 6) + 0.0 AS gap, brier
          FROM agg ORDER BY bucket""",
    "bpe_merges" -> BpeTrainer.learnSql("documents", "text", numMerges = 12),
    "bpe_encode" ->
      """WITH w AS (SELECT doc_id,
                      unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
                    FROM documents),
         f AS (SELECT doc_id, word, count(*) AS cnt
               FROM w WHERE word <> '' GROUP BY doc_id, word),
         e AS (SELECT doc_id, word, cnt,
                 replace(replace(replace(replace(replace(replace(replace(replace(word,
                   'th', '1'), '1e', '2'), 'an', '3'), '3d', '4'),
                   'in', '5'), 'er', '6'), 'ou', '7'), 're', '8') AS encs
               FROM f),
         t AS (SELECT doc_id, word, cnt, length(encs) AS n_toks,
                 array_to_string([CASE c WHEN '1' THEN 'th' WHEN '2' THEN 'the'
                                         WHEN '3' THEN 'an' WHEN '4' THEN 'and'
                                         WHEN '5' THEN 'in' WHEN '6' THEN 'er'
                                         WHEN '7' THEN 'ou' WHEN '8' THEN 're'
                                         ELSE c END
                                  FOR c IN string_split(encs, '')], ' ') AS enc
               FROM e)
         SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * n_toks) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_sort(list(word || ':' || enc)), '|')) AS enc_md5
         FROM t GROUP BY doc_id ORDER BY doc_id""",
    "pack_efficiency" ->
      s"""WITH t AS (SELECT doc_id, CAST(doc_id % $PackShards AS BIGINT) shard,
                       CAST(len(${Pipeline.toksSql}) AS BIGINT) n
                     FROM documents),
          srt AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY n, doc_id) rn
                  FROM t),
          sb AS (SELECT shard, CAST((rn - 1) // 32 AS BIGINT) batch,
                   max(n) * count(*) - sum(n) AS w
                 FROM srt GROUP BY 1, 2),
          ws AS (SELECT shard, CAST(sum(w) AS BIGINT) waste_sorted FROM sb GROUP BY 1),
          rnd AS (SELECT *, row_number() OVER (PARTITION BY shard
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rn
                  FROM t),
          rb AS (SELECT shard, CAST((rn - 1) // 32 AS BIGINT) batch,
                   max(n) * count(*) - sum(n) AS w
                 FROM rnd GROUP BY 1, 2),
          wr AS (SELECT shard, CAST(sum(w) AS BIGINT) waste_random FROM rb GROUP BY 1),
          base AS (SELECT shard, CAST(count(*) AS BIGINT) n_docs,
                     CAST(sum(n) AS BIGINT) n_tokens FROM t GROUP BY 1)
          SELECT b.shard, b.n_docs, b.n_tokens, ws.waste_sorted, wr.waste_random,
            round(1.0 - CAST(ws.waste_sorted AS DOUBLE) / CAST(wr.waste_random AS DOUBLE), 6)
              + 0.0 AS padding_saved
          FROM base b JOIN ws ON b.shard = ws.shard JOIN wr ON b.shard = wr.shard
          ORDER BY b.shard""",
    "bpe_fertility" ->
      """WITH w AS (SELECT lang,
                      unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
                    FROM documents),
         f AS (SELECT lang, word, count(*) AS cnt
               FROM w WHERE word <> '' GROUP BY lang, word),
         e AS (SELECT lang, word, cnt,
                 length(replace(replace(replace(replace(replace(replace(replace(replace(word,
                   'th', '1'), '1e', '2'), 'an', '3'), '3d', '4'),
                   'in', '5'), 'er', '6'), 'ou', '7'), 're', '8')) AS n_toks
               FROM f)
         SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * n_toks) AS BIGINT) AS n_tokens,
           round(CAST(sum(cnt * n_toks) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) + 0.0
             AS fertility
         FROM e GROUP BY lang ORDER BY lang""",
    "doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, ${Pipeline.toksSql} toks FROM documents),
          ch AS (SELECT doc_id,
                   unnest([{'i': i, 'c': toks[i*$ChunkStride+1:i*$ChunkStride+$ChunkTokens]}
                           for i in generate_series(0, CAST(ceil(len(toks)/$ChunkStride.0) AS BIGINT) - 1)]) u
                 FROM t WHERE len(toks) > 0)
          SELECT doc_id, CAST(u.i AS INTEGER) AS chunk_idx,
            CAST(len(u.c) AS INTEGER) AS n_chunk_tokens,
            md5(array_to_string(u.c, ' ')) AS chunk_md5
          FROM ch ORDER BY doc_id, chunk_idx""",
    "seq_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST(doc_id % $PackShards AS INTEGER) shard,
                       CAST(len(${Pipeline.toksSql}) AS BIGINT) n_tokens
                     FROM documents),
          w AS (SELECT *, coalesce(CAST(sum(n_tokens) OVER (PARTITION BY shard
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) cum
                FROM t)
          SELECT doc_id, shard, n_tokens,
            CAST(floor(cum / $PackBudget) AS BIGINT) AS pack_id,
            CAST(cum % $PackBudget AS BIGINT) AS pack_offset
          FROM w ORDER BY doc_id""",
    "pii_scrub" ->
      """WITH a AS (SELECT doc_id,
             concat(text, ' Call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
               ' or 10.0.', CAST(doc_id % 256 AS VARCHAR), '.1 id 123-45-6789') t
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(t, '\b\d{3}-\d{4}\b')) AS n_phones,
           len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ids,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g'),
             '\b\d{3}-\d{4}\b', '[PHONE]', 'g')) AS scrubbed_md5
         FROM a ORDER BY doc_id""",
    "char_entropy" ->
      """WITH nrm AS (SELECT doc_id,
                        lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) norm
                      FROM documents),
          ch AS (SELECT doc_id, unnest(string_split(norm, '')) c
                 FROM nrm WHERE length(norm) > 0),
          cnt AS (SELECT doc_id, c, count(*) k FROM ch WHERE c <> '' GROUP BY 1, 2),
          tot AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) n FROM cnt GROUP BY 1)
          SELECT cnt.doc_id, round(-sum((k/n) * ln(k/n)), 6) + 0.0 AS char_entropy,
            count(*) AS n_distinct_chars
          FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
          GROUP BY 1, n ORDER BY 1""",
    "feature_hash" ->
      s"""SELECT doc_id, substr(md5(tok), 1, 1) AS bucket, count(*) AS cnt
          FROM (SELECT doc_id, unnest(${Pipeline.toksSql}) tok FROM documents)
          WHERE tok <> ''
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "ngram_diversity" ->
      s"""WITH t AS (SELECT source, ${Pipeline.toksSql} toks FROM documents),
          g AS (
            SELECT source, n, g FROM (
              SELECT source, 1 AS n, unnest(toks) g FROM t
              UNION ALL
              SELECT source, 2 AS n,
                unnest([array_to_string(toks[i:i+1], ' ')
                        for i in generate_series(1, len(toks) - 1)]) g
              FROM t WHERE len(toks) >= 2
              UNION ALL
              SELECT source, 3 AS n,
                unnest([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]) g
              FROM t WHERE len(toks) >= 3))
          SELECT source, n,
            CAST(count(DISTINCT g) AS BIGINT) AS types,
            CAST(count(*) AS BIGINT) AS total,
            round(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS ttr
          FROM g GROUP BY 1, 2 ORDER BY 1, 2""",
    "vocab_growth" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${Pipeline.toksSql}) t FROM documents),
          hi AS (SELECT CAST(max(doc_id) + 1 AS DOUBLE) ndocs FROM documents),
          mass AS (SELECT CAST(floor(doc_id * 10.0 / ndocs) AS INTEGER) decile,
                     CAST(count(*) AS BIGINT) n_tokens
                   FROM tok CROSS JOIN hi GROUP BY 1),
          fd AS (SELECT t, min(doc_id) fd FROM tok GROUP BY 1),
          nt AS (SELECT CAST(floor(fd * 10.0 / ndocs) AS INTEGER) decile,
                   CAST(count(*) AS BIGINT) new_types
                 FROM fd CROSS JOIN hi GROUP BY 1)
          SELECT mass.decile AS decile, n_tokens,
            coalesce(new_types, 0) AS new_types,
            CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY mass.decile)
                 AS BIGINT) AS cum_types
          FROM mass LEFT JOIN nt ON mass.decile = nt.decile
          ORDER BY 1""",
    "vocab_topk" ->
      s"""WITH t AS (SELECT ${Pipeline.toksSql} toks FROM documents),
          bg AS (SELECT unnest([array_to_string(toks[i:i+1], ' ')
                                for i in generate_series(1, len(toks) - 1)]) bg
                 FROM t WHERE len(toks) >= 2),
          cnt AS (SELECT bg, count(*) c FROM bg GROUP BY 1),
          r AS (SELECT CAST(row_number() OVER (ORDER BY c DESC, bg) AS INTEGER) rk, bg, c
                FROM cnt)
          SELECT rk, bg, c FROM r WHERE rk <= 100 ORDER BY rk""",
    "quality_score" -> {
      // CAST to DOUBLE: DuckDB would otherwise type the VALUES weights
      // DECIMAL and carry decimal arithmetic into dot/score (Spark
      // computes in doubles; the hash compare needs identical types)
      val weightRows = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
        s"('$c', CAST(${(i - 8) / 16.0} AS DOUBLE))" }.mkString(", ")
      s"""WITH f AS (
            SELECT doc_id, substr(md5(tok), 1, 1) bucket, count(*) cnt
            FROM (SELECT doc_id, unnest(${Pipeline.toksSql}) tok FROM documents)
            WHERE tok <> '' GROUP BY 1, 2),
          w(bucket, w) AS (VALUES $weightRows)
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
            round(sum(cnt * w), 6) + 0.0 AS dot,
            round(1.0 / (1.0 + exp(-(sum(cnt * w) / sum(cnt) + 0.125))), 6) + 0.0 AS quality_score
          FROM f JOIN w USING (bucket)
          GROUP BY 1 ORDER BY 1"""
    },
    "epoch_shuffle" ->
      """WITH e AS (SELECT doc_id, epoch
                    FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS epoch)),
         k AS (SELECT epoch, doc_id,
                 md5('epoch' || CAST(epoch AS VARCHAR) || ':' ||
                     CAST(doc_id AS VARCHAR)) AS k
               FROM e),
         r AS (SELECT epoch, doc_id,
                 CAST(row_number() OVER (PARTITION BY epoch
                   ORDER BY k, doc_id) AS BIGINT) AS rk
               FROM k)
         SELECT CAST(epoch AS INT) AS epoch, doc_id, rk,
           CAST((rk - 1) % 8 AS INT) AS shard,
           CAST(floor((rk - 1) / 8.0) AS BIGINT) AS pos
         FROM r ORDER BY epoch, doc_id""",
    "quota_sample" ->
      """SELECT c_mktsegment, c_custkey, CAST(rn AS INTEGER) AS rn FROM (
           SELECT c_mktsegment, c_custkey,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) rn
           FROM customer)
         WHERE rn <= 50 ORDER BY c_mktsegment, rn""")
}
