package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.operators.{ConnectedComponents, Dedup, Sampling, Spread, Triangles}
import graft.streaming.StreamOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 curation/scale queries: duplicate CLUSTERS (connected
  * components over the near-dup pair graph), batch gap sessionization,
  * deterministic hash sampling, batch k-NN, TF-IDF term extraction and
  * multivariate statistics — the operations a training-data pipeline
  * composes around the dedup/similarity primitives in Pipeline.
  */
object Curation extends QueryModule {

  val queries: Map[String, Q] = Map(

    // Near-duplicate pairs -> duplicate clusters. Pairs alone cannot
    // drive "keep one per group": chains (a~b, b~c without a~c) need the
    // transitive closure. Min-label propagation, one join+groupBy per
    // round, diameter-bounded (see ConnectedComponents). The DuckDB
    // oracle recomputes the closure with a recursive CTE.
    "dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.nearDupPairs(Tables(s, dir, "documents"), "doc_id", "text",
        maxDocFreq = Dedup.HotShingleCutoff)
      ConnectedComponents.connectedComponents(pairs, "i", "j")
        .withColumnRenamed("node", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // The kept corpus after cluster-level dedup: one representative per
    // near-dup CLUSTER (longest text, doc_id tiebreak), singletons kept
    // as-is — the semantics curation pipelines actually want (pairwise
    // anti-joins over-delete chains: in a~b~c, pair logic can drop both
    // b and c even when only one true duplicate group exists). Labels
    // from connected components.
    //
    // Scale shape: the per-cluster window runs over ONLY the clustered
    // docs (the semi-join side — sparse by construction: clusters are
    // the rare duplicates in a deduped-by-design corpus), while
    // singletons pass through as a window-free anti-join projection.
    // Windowing the whole corpus instead sorted 100% of rows to pick
    // representatives among the <1% that have competition — measured as
    // the only spill at the 10x scale validation (SCALING.md).
    "cluster_keep_best" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        maxDocFreq = Dedup.HotShingleCutoff)
      val labels = ConnectedComponents.connectedComponents(pairs, "i", "j")
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val clustered = docs.join(labels, col("doc_id") === col("node"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("cluster"), col("doc_id"), col("n_chars"))
      val singletons = docs.join(labels, col("doc_id") === col("node"), "left_anti")
        .select(col("doc_id").as("cluster"), col("doc_id"), col("n_chars"))
      clustered.unionByName(singletons)
        .orderBy(col("cluster"))
    }),

    // Same contract through the star-contraction algorithm (large-star/
    // small-star, round count independent of graph diameter) — both CC
    // implementations are verified against the same recursive-CTE
    // oracle, on the real near-dup graph.
    "dedup_clusters_star" -> ((s, dir) => {
      val pairs = Dedup.nearDupPairs(Tables(s, dir, "documents"), "doc_id", "text",
        maxDocFreq = Dedup.HotShingleCutoff)
      ConnectedComponents.connectedComponentsStar(pairs, "i", "j")
        .withColumnRenamed("node", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Deterministic 80/10/10 train/val/test assignment over documents,
    // summarized per split — the reusable-holdout primitive (a doc's
    // split never changes across runs or corpus growth).
    "split_assign" -> ((s, dir) =>
      Sampling.splitByHash(Tables(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))),

    // Time-series densification: per-user hourly activity with explicit
    // zero rows for silent hours — sequence() generates each user's
    // hour grid (distributed, no driver loop), a left join fills it.
    // The classic gap-fill shape feature pipelines need before any
    // rolling computation.
    "time_densify" -> ((s, dir) => {
      // ONE events pass (the time_interpolate r16 restructure): span
      // derives from the hourly aggregate — min/max of h per user is
      // the same set either way, hourly is strictly smaller than the
      // raw events at any scale, and the two hourly references share
      // one exchange subtree AQE materializes once. The spread engages
      // only when the scan is partition-starved (fixture parquet); at
      // production scale it is a no-op.
      val ev = Spread.ifNarrow(
          Tables(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
          "user_id")
        .withColumn("h", date_trunc("hour", col("ts")))
      val hourly = ev.groupBy(col("user_id"), col("h"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      val span = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = span.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
      // sort on the raw timestamp (same total order as the formatted
      // string — yyyy-MM-dd... is lexicographically chronological — but
      // long comparisons instead of strings through the range sort)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .orderBy(col("user_id"), col("h"))
        .select(col("user_id"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
    }),

    // Rolling features over the DENSIFIED grid: because silent hours
    // exist as zero rows, a ROWS frame IS a time frame — trailing-3h
    // mean/max per user without interval arithmetic in the window.
    "rolling_features" -> ((s, dir) => {
      // ONE events pass — span from hourly; see time_densify's note
      val ev = Spread.ifNarrow(
          Tables(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
          "user_id")
        .withColumn("h", date_trunc("hour", col("ts")))
      val hourly = ev.groupBy(col("user_id"), col("h"))
        .agg(round(sum(col("value")), 2).as("v"))
      val span = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = span.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
      val dense = grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"), coalesce(col("v"), lit(0.0)).as("v"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(-2, 0)
      // raw-timestamp sort; see time_densify. The window's (user_id, h)
      // sort already co-locates rows, so the output sort mostly reuses
      // that ordering within partitions.
      dense
        .select(col("user_id"), col("h"),
          col("v"),
          round(avg(col("v")).over(w), 6).as("avg_3h"),
          round(max(col("v")).over(w), 2).as("max_3h"))
        .orderBy(col("user_id"), col("h"))
        .select(col("user_id"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("v"), col("avg_3h"), col("max_3h"))
    }),

    // Gap-based sessionization (batch face of the streaming sessionize):
    // a session breaks when a user is idle > 30 min. lag + running sum
    // assign session ordinals in one pass per user partition; micros
    // arithmetic keeps the gap test integer-exact in both engines.
    "sessionize_batch" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_no", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("session_no"))
        .agg(
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .drop("session_no")
        .orderBy(col("user_id"), col("session_start"))
    }),

    // Funnel attribution (batch face of StreamOps.matchPairsStream —
    // literally the same code; the watermark node is eliminated in
    // batch plans): view -> purchase by the same user within 30 min.
    // Oracle-checked here, StreamingSpec pins the incremental face.
    "funnel_pairs" -> ((s, dir) =>
      StreamOps.matchPairsStream(Tables(s, dir, "events"), "view", "purchase",
          gap = "30 minutes")
        .select(col("user_id"), col("a_id"),
          date_format(col("a_ts"), "yyyy-MM-dd HH:mm:ss").as("a_ts"),
          col("b_id"),
          date_format(col("b_ts"), "yyyy-MM-dd HH:mm:ss").as("b_ts"))
        .orderBy(col("a_id"), col("b_id"))),

    // Ordered 3-step funnel: how many users progressed
    // signup -> click -> purchase IN ORDER, each step within 24h of
    // the previous completion (first-touch semantics). Three chained
    // min-over-window columns on ONE user-partitioned pass — no joins,
    // no self-unions; micros timestamps are collision-free so strict >
    // is unambiguous. The per-user step flags then collapse to a
    // 3-row step/count funnel via a fixed-order unpivot.
    "funnel_steps" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      val flags = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t1", min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" && col("ts") > col("t1")
          && col("ts") <= col("t1") + expr("INTERVAL 24 HOUR"),
          col("ts"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") > col("t2")
          && col("ts") <= col("t2") + expr("INTERVAL 24 HOUR"),
          col("ts"))).over(w))
        .select(col("user_id"), col("t1"), col("t2"), col("t3")).distinct()
      flags.agg(
          count(when(col("t1").isNotNull, 1)).cast("long").as("n1"),
          count(when(col("t2").isNotNull, 1)).cast("long").as("n2"),
          count(when(col("t3").isNotNull, 1)).cast("long").as("n3"))
        .select(explode(array(
          struct(lit(1).cast("int").as("step"), lit("signup").as("event_type"), col("n1").as("n_users")),
          struct(lit(2).cast("int").as("step"), lit("click").as("event_type"), col("n2").as("n_users")),
          struct(lit(3).cast("int").as("step"), lit("purchase").as("event_type"), col("n3").as("n_users")))).as("r"))
        .select(col("r.step"), col("r.event_type"), col("r.n_users"))
        .orderBy(col("step"))
    }),

    // Stratified rebalancing: downsample the over-represented language
    // (en -> 25%) while keeping 75% of everything else — corpus
    // rebalancing as one deterministic scan-level filter (per-stratum
    // md5 thresholds in a codegen'd CASE; no shuffle, key-stable).
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedHashSample(
        Tables(s, dir, "documents"), col("doc_id"), col("lang"),
        Map("en" -> 0.25), default = 0.75)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Duplicate keep-policy: per normalized-content fingerprint keep
    // the highest-quality copy (longest raw text, id tiebreak) — the
    // real-world completion of dedup_exact's min-id rule. Dups are
    // planted as in dedup_exact; the re-padded copies are LONGER, so
    // the kept id flips to the mangled one, which is what proves the
    // policy (min-id would keep the original).
    "dedup_keep_best" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val mangled = docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("   ")).as("text"))
      Dedup.keepBest(
        docs.unionByName(mangled).withColumn("quality", length(col("text"))),
        "doc_id", "text", "quality")
        .filter(col("n_copies") > 1)
        .select(col("fp"), col("doc_id"), col("quality"), col("n_copies"))
        .orderBy(col("fp"))
    }),

    // Deterministic ~10% hash sample of orders: membership depends only
    // on the key (reproducible on any cluster/partitioning); the filter
    // is a codegen'd predicate at the scan, no shuffle.
    "sample_hash" -> ((s, dir) =>
      Sampling.hashSample(Tables(s, dir, "orders"), col("o_orderkey"), 0.1)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // Batch exact k-NN: every probe (vec_id < 5) retrieves its cosine
    // top-3 in ONE plan — probes broadcast against a single scan of the
    // corpus, per-probe top-k via a rank window (Spark rewrites the
    // rk <= 3 filter into WindowGroupLimit: per-partition heaps, no full
    // sort). Ranks on the ROUNDED cosine so cross-engine ties break
    // identically by vec_id.
    "knn_batch" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
      emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(VectorFunctions.cosine(col("embedding"), col("pvec")), 6).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Per-document top-3 TF-IDF terms: explode -> tf per (doc, term),
    // df per term (one term-key shuffle), corpus size broadcast, score
    // = tf * ln(N/df). Ranking uses the ROUNDED score (near-ties become
    // exact ties) with the term string as the deterministic tiebreak.
    "tfidf_terms" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dft = terms.distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      tf.join(dft, "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // Triangle counting over the near-dup pair graph — the density
    // diagnostic that tells chains (a~b~c, no a~c: transitive-closure
    // artifacts) apart from genuine duplicate cliques. The expensive
    // pair derivation runs ONCE (Triangles snapshots the edge list
    // before its three-way self-join — exchange reuse does not fire
    // across aliased branches).
    "graph_triangles" -> ((s, dir) =>
      Triangles.perNodeCounts(
        Dedup.nearDupPairs(Tables(s, dir, "documents"), "doc_id", "text",
          maxDocFreq = Dedup.HotShingleCutoff), "i", "j")
        .withColumnRenamed("node", "doc_id")
        .orderBy(col("doc_id"))),

    // BM25 relevance scoring against a fixed query — the IR primitive a
    // retrieval-curation pass runs over a corpus (rank documents for a
    // topic, keep the head). Classic Okapi shape: one corpus-sized
    // token pass feeds tf (query terms only — the filter prunes before
    // the shuffle) and exact integer doc lengths; N/avgdl ride a 1-row
    // broadcast, per-term df a 3-row broadcast. idf is ln-based so it
    // is ROUNDED before use (ln differs across engines in the last
    // ulp); everything after is IEEE-deterministic arithmetic, and the
    // three per-term weights fold in fixed order via CASE sums. Scale:
    // cost is one scan + one (doc, term) shuffle of query-term hits —
    // no all-pairs anything, independent of query count growth.
    "bm25_search" -> ((s, dir) => {
      val qTerms = Seq("dup", "join", "vector")
      val k1 = 1.2; val b = 0.75
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
      // per-doc length + per-query-term tf pivoted into columns in ONE
      // aggregation (the query is a fixed small set) — no (doc, term)
      // shuffle ever exists. The corpus-stats branch below re-reads the
      // same pruned aggregate shape (global stats cannot precede the
      // scan); a long-lived deployment would persist `perDoc` instead
      val perDoc = toks.groupBy(col("doc_id")).agg(
        count(lit(1)).cast("double").as("dl"),
        qTerms.map(t => sum(when(col("t") === t, 1L).otherwise(0L))
          .cast("double").as(s"tf_$t")): _*)
      // corpus stats off the per-doc aggregate: N, avgdl (integer-valued
      // doubles sum exactly in any order -> deterministic without
      // rounding), and each term's df — one 1-row broadcast
      val stats = perDoc.agg(
        count(lit(1)).cast("double").as("n"),
        avg(col("dl")).as("avgdl") +:
          qTerms.map(t => sum(when(col(s"tf_$t") > 0.0, 1L).otherwise(0L))
            .cast("double").as(s"df_$t")): _*)
      def idf(t: String) =
        round(log((col("n") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1.0), 6)
      def w(t: String) =
        when(col(s"tf_$t") > 0.0,
          idf(t) * col(s"tf_$t") * (k1 + 1.0) /
            (col(s"tf_$t") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .otherwise(lit(0.0))
      perDoc.crossJoin(broadcast(stats))
        .filter(qTerms.map(t => col(s"tf_$t") > 0.0).reduce(_ || _))
        .select(col("doc_id"),
          round(qTerms.map(w).reduce(_ + _), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
    }),

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    // 2009): the standard RAG-stack combiner of a lexical arm (the
    // bm25_search scorer, identical terms/constants) and a semantic
    // arm (exact cosine against probe vector 0), each truncated to its
    // top-100, fused by rrf = Σ 1/(60 + rank). Ranks are
    // deterministic (rounded scores, id tiebreaks) and 1/(60+rank) is
    // exact IEEE arithmetic, so the fused ordering is engine-portable
    // with no extra rounding discipline. Docs missing from an arm
    // (no query term / no embedding) contribute 0 from that arm — the
    // full-outer-join semantics a production fusion needs. Scale
    // shape: both arms are scan+broadcast then a DISTRIBUTED top-100
    // (orderBy+limit = TakeOrderedAndProject: per-partition heaps,
    // driver merge of 100-row candidates) — ranks are assigned by a
    // window only over the 100 survivors, never over corpus-scale
    // input; the fusion joins two 100-row frames.
    "hybrid_rrf" -> ((s, dir) => {
      val qTerms = Seq("dup", "join", "vector")
      val k1 = 1.2; val b = 0.75
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
      val perDoc = toks.groupBy(col("doc_id")).agg(
        count(lit(1)).cast("double").as("dl"),
        qTerms.map(t => sum(when(col("t") === t, 1L).otherwise(0L))
          .cast("double").as(s"tf_$t")): _*)
      val stats = perDoc.agg(
        count(lit(1)).cast("double").as("n"),
        avg(col("dl")).as("avgdl") +:
          qTerms.map(t => sum(when(col(s"tf_$t") > 0.0, 1L).otherwise(0L))
            .cast("double").as(s"df_$t")): _*)
      def idf(t: String) =
        round(log((col("n") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1.0), 6)
      def wgt(t: String) =
        when(col(s"tf_$t") > 0.0,
          idf(t) * col(s"tf_$t") * (k1 + 1.0) /
            (col(s"tf_$t") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .otherwise(lit(0.0))
      val lex = perDoc.crossJoin(broadcast(stats))
        .filter(qTerms.map(t => col(s"tf_$t") > 0.0).reduce(_ || _))
        .select(col("doc_id"), round(qTerms.map(wgt).reduce(_ + _), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(100)
        .withColumn("rb", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))))
      val emb = Tables(s, dir, "embeddings")
      val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
      val sem = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          round(VectorFunctions.cosine(col("embedding"), col("pv")), 6).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(100)
        .withColumn("rc", row_number().over(
          Window.orderBy(col("cos").desc, col("doc_id"))))
      lex.select(col("doc_id"), col("rb"))
        .join(sem.select(col("doc_id"), col("rc")), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rc")), lit(0.0)), 6).as("rrf"),
          coalesce(col("rb"), lit(0)).as("bm25_rank"),
          coalesce(col("rc"), lit(0)).as("cos_rank"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    }),

    // Web-curation domain histogram: extract every URL from the text,
    // reduce to its host, count mentions per domain — the shape behind
    // domain allowlists/blocklists and per-site quotas. The synthetic
    // corpus carries no URLs, so two are PLANTED per document from
    // doc_id arithmetic (the same trick pii_scrub uses); extraction
    // still runs the real regex pipeline over the full text. One
    // projection + one tiny keyed shuffle; RE2-safe patterns shared
    // verbatim with the oracle.
    // URL canonicalization + canonical-key dedup — the crawl-frontier
    // stage in front of any web-corpus pipeline: the same page arrives
    // as HTTPS://Host.COM:443/p?utm_source=x&b=2&a=1#frag and
    // https://host.com/p?a=1&b=2, and content-level dedup should never
    // pay for what key normalization catches free. Rules (each a
    // deterministic string op both engines run verbatim): drop the
    // fragment; lowercase scheme://authority (path case preserved);
    // strip default ports (:443 https, :80 http); drop utm_* tracking
    // params; SORT surviving params (binary order); re-attach '?' only
    // if params remain. The fixture plants four raw variants per page
    // key so every rule fires; output is the canonical-key dedup
    // rollup (canonical_url, n_raw, min_doc).
    "url_canonical" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val page = (col("doc_id") % 50).cast("string")
      val raw = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Example.COM:443/Page/"), page,
            lit("?utm_source=feed&b=2&a=1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://www.example.com/Page/"), page, lit("?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("http://Blog.Example.ORG:80/post/"), page,
            lit("?utm_campaign=x")))
        .otherwise(
          concat(lit("http://blog.example.org/post/"), page, lit("#top")))
        .as("url"))
      raw
        .withColumn("canonical_url",
          graft.functions.UrlFunctions.canonicalizeUrl(col("url")))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).cast("long").as("n_raw"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("canonical_url"))
    }),

    // Crawl-frontier composition — the stage pipeline in FRONT of
    // content curation, built from this file's own pieces:
    //   (1) URL canonicalization (url_canonical's exact rules) collapses
    //       raw crawl variants onto canonical keys before anything
    //       touches text;
    //   (2) URL-level dedup keeps the first doc per canonical key
    //       (n_raw recorded as provenance);
    //   (3) a per-domain quality cap keeps the top 40 survivors per
    //       registered domain by content length (rank filter after a
    //       domain-keyed window — the quota_sample shape, so Catalyst's
    //       WindowGroupLimit pushes the limit into the shuffle);
    //   (4) exact content dedup (normalized fingerprint, keep-first)
    //       drops recrawl mirrors stage 1 CANNOT see because they
    //       arrive under different urls.
    // The fixture plants all three duplicate classes: two raw
    // decoration variants per page (stage-1 work), colliding
    // (domain,page) cycles at lcm(17,100)=1700 < corpus size (stage-2
    // work), and shouting re-keyed mirror copies of doc_id<100 under
    // shifted domains (stage-4 work). Output = survivors with their
    // stage-3 rank, so rank GAPS witness content-dups removed after
    // the cap. Three keyed shuffles total (canonical / domain /
    // fingerprint), each fully key-parallel at 100 TB; nothing is
    // all-pairs and no stage re-reads the corpus.
    "crawl_frontier" -> ((s, dir) => {
      val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      // Mirror ids stride 1,000,000 (the curation_pipeline_v4 offset):
      // url is derived from doc_id, so a mirror landing on a REAL id
      // would alias its url and make the keep-first window tie
      // nondeterministically. 1e6 clears any fixture (base max 4999,
      // scaled replicas stride 1e8); 10k would collide at 30x.
      val mirror = base.filter(col("doc_id") < 100)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("   ")).as("text"))
      val docs = base.unionByName(mirror)
      val k = (col("doc_id") % 17).cast("string")
      val m = (col("doc_id") % 100).cast("string")
      val raw = docs.select(col("doc_id"), col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit("HTTPS://Site-"), k, lit(".Example.COM:443/p/"), m,
            lit("?utm_source=crawl&x=1#sec")))
        .otherwise(
          concat(lit("https://site-"), k, lit(".example.com/p/"), m, lit("?x=1")))
        .as("url"))
      val canon = raw.withColumn("canonical_url",
        graft.functions.UrlFunctions.canonicalizeUrl(col("url")))
      val wUrlPart = Window.partitionBy(col("canonical_url"))
      val urlKept = canon
        .withColumn("n_raw", count(lit(1)).over(wUrlPart).cast("long"))
        .withColumn("ru", row_number().over(wUrlPart.orderBy(col("doc_id"))))
        .filter(col("ru") === 1)
        .withColumn("domain",
          graft.functions.UrlFunctions.urlDomain(col("canonical_url")))
      val wDom = Window.partitionBy(col("domain"))
        .orderBy(length(col("text")).desc, col("doc_id"))
      val capped = urlKept
        .withColumn("rn", row_number().over(wDom))
        .filter(col("rn") <= 40)
      val fp = md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      capped.withColumn("fp", fp)
        .withColumn("rf", row_number().over(wFp))
        .filter(col("rf") === 1)
        .select(col("domain"), col("rn"), col("doc_id"),
          col("canonical_url"), col("n_raw"))
        .orderBy(col("domain"), col("rn"))
    }),

    // Corpus datasheet — the one-row "data card" a dataset release
    // publishes (Datasheets for Datasets, Gebru et al. 2018,
    // arXiv:1803.09010): size, vocabulary of langs/sources, token and
    // char mass, central tendency, a long-doc (>= 64 tokens) fraction, the exact
    // normalized-fingerprint uniqueness count, and the lang-mix
    // Shannon entropy. One corpus scan for the wide aggregate + one
    // lang-keyed subagg for entropy (5 rows, crossed against a
    // single-row count — the Pipeline.scala broadcast-one-row
    // pattern); entropy terms use the per-term 6-dp anchor → integer
    // sum discipline so the 5-term sum cannot flicker. Everything here
    // is a partial-agg shuffle at 100 TB; the datasheet is what makes
    // two corpus snapshots comparable at a glance.
    "corpus_datasheet" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          tokens(col("text")).as("toks"), col("text"))
      val base = docs.agg(
        count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("lang")).cast("long").as("n_langs"),
        countDistinct(col("source")).cast("long").as("n_sources"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(size(col("toks"))).cast("long").as("total_tokens"),
        sum(when(size(col("toks")) >= 64, 1L).otherwise(0L)).as("n_ge"),
        expr("percentile(CAST(n_chars AS DOUBLE), 0.5)").as("p50"),
        countDistinct(md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
          .cast("long").as("n_unique_fp"))
      val nRow = docs.agg(count(lit(1)).cast("long").as("n"))
      val ent = docs.groupBy(col("lang")).agg(count(lit(1)).cast("long").as("c"))
        .crossJoin(broadcast(nRow))
        .select(round(round(-(col("c") / col("n")) * log(col("c") / col("n")), 6)
          * lit(1e6)).cast("long").as("t6"))
        .agg((round(sum(col("t6")) / lit(1e6), 6) + lit(0.0)).as("lang_entropy"))
      base.crossJoin(broadcast(ent))
        .select(col("n_docs"), col("n_langs"), col("n_sources"),
          col("total_chars"), col("total_tokens"),
          (round(col("total_tokens").cast("double") / col("n_docs"), 6) + lit(0.0))
            .as("mean_doc_tokens"),
          (round(col("p50"), 2) + lit(0.0)).as("p50_chars"),
          (round(col("n_ge").cast("double") / col("n_docs"), 6) + lit(0.0))
            .as("pct_ge_64_toks"),
          col("n_unique_fp"), col("lang_entropy"))
    }),

    // The SKETCH-backed datasheet — corpus_datasheet's 100 TB form.
    // The exact sheet's one-scan wide aggregate carries THREE
    // countDistincts, which Catalyst plans as an Expand: every corpus
    // row (text + token array included) is quadrupled through the
    // shuffle — measured 21x at the 100x fixture, the sheet's whole
    // scale cost. Here NDVs ride as HLL++ sketches and the char
    // median as a KLL sketch inside ONE partial-agg scan (fixed-size
    // mergeable buffers, sum()-shaped shuffle, no row multiplication);
    // the exact NDVs the hash gate needs are three SEPARATE distinct
    // pipelines — each a key-parallel dedup shuffle over just its own
    // column, never the whole row — and the profile_sketch bound-
    // boolean pattern turns the sketch-vs-exact comparison into
    // oracle-checkable TRUEs (abs err <= 5% for rsd=0.01 HLL at >4
    // sigma, +1 for tiny cardinalities; KLL rank within 2x its
    // published bound). A sketch regression flips a boolean and
    // hash-mismatches. Entropy stays on the exact sheet; this is the
    // recurring-profiling face, where NDV mass dominates.
    "corpus_datasheet_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.graft.KllFunctions
      // Round 17 (r16 VERDICT item 7): the 30x profile put ~90% of this
      // row in ONE stage — the per-doc derivation (tokens() + the
      // whitespace-collapse regex + md5) — and that derivation ran in
      // TWO full corpus passes: the sketch aggregate below AND the
      // exact-fp countDistinct pipeline (679 + ~300 task-seconds at
      // 30x). Materialize the per-doc DERIVED frame once — five narrow
      // columns, the token count instead of the token array, no text —
      // and point every aggregate at it: the expensive per-row work
      // runs exactly once, and what the aggregates scan afterwards is
      // ~30 bytes/row (guide §2.3: aggregate small rows, derive heavy
      // columns once). localCheckpoint, not persist: see GraftSession's
      // lifetime rule.
      val docs = Tables(s, dir, "documents")
        .select(col("lang"), col("source"), col("n_chars"),
          size(tokens(col("text"))).as("ntoks"),
          md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
        .localCheckpoint(true)
      val eps = KllFunctions.normalizedRankError(KllFunctions.DefaultK)
      val base = docs.agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(col("ntoks")).cast("long").as("total_tokens"),
        sum(when(col("ntoks") >= 64, 1L).otherwise(0L)).as("n_ge"),
        approx_count_distinct(col("lang"), 0.01).as("hl_lang"),
        approx_count_distinct(col("source"), 0.01).as("hl_source"),
        approx_count_distinct(col("fp"), 0.01).as("hl_fp"),
        element_at(KllFunctions.kllQuantiles(
          KllFunctions.kllSketchAgg(col("n_chars").cast("double")),
          Seq(0.5)), 1).as("p50k"))
        // ONE row referenced twice (rank-audit broadcast + final
        // select) — still materialized so the sketch pass runs once
        .localCheckpoint(true)
      // exact NDV payloads: countDistinct pipelines over the SAME
      // checkpointed derived frame (pre-r17 these re-derived fp from
      // text — the second full corpus pass).
      // countDistinct, not distinct().count(): the DuckDB oracle's
      // count(DISTINCT ...) excludes NULLs, and a NULL lang/source in a
      // regenerated fixture must not count as a distinct value.
      val nl = docs.agg(countDistinct(col("lang")).cast("long").as("n_langs"))
      val ns = docs.agg(countDistinct(col("source")).cast("long").as("n_sources"))
      val nf = docs.agg(countDistinct(col("fp")).cast("long").as("n_unique_fp"))
      // rank-audit the KLL median: one extra n_chars-only scan against
      // the broadcast single-row estimate
      val ranks = docs.select(col("n_chars"))
        .crossJoin(broadcast(base.select(col("p50k"), col("n_docs").as("nn"))))
        .agg(
          sum(when(col("n_chars") < col("p50k"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("n_chars") <= col("p50k"), 1L).otherwise(0L)).as("le50"),
          first(col("nn")).as("nn"))
      val tol = ceil(col("nn") * lit(2.0 * eps)) + lit(2.0)
      base.crossJoin(broadcast(nl)).crossJoin(broadcast(ns))
        .crossJoin(broadcast(nf)).crossJoin(broadcast(ranks))
        .select(col("n_docs"), col("n_langs"), col("n_sources"),
          col("total_chars"), col("total_tokens"),
          (round(col("total_tokens").cast("double") / col("n_docs"), 6) + lit(0.0))
            .as("mean_doc_tokens"),
          (round(col("n_ge").cast("double") / col("n_docs"), 6) + lit(0.0))
            .as("pct_ge_64_toks"),
          col("n_unique_fp"),
          (abs(col("hl_lang") - col("n_langs")) <=
            col("n_langs") * lit(0.05) + lit(1.0)).as("lang_ndv_ok"),
          (abs(col("hl_source") - col("n_sources")) <=
            col("n_sources") * lit(0.05) + lit(1.0)).as("source_ndv_ok"),
          (abs(col("hl_fp") - col("n_unique_fp")) <=
            col("n_unique_fp") * lit(0.05) + lit(1.0)).as("fp_ndv_ok"),
          ((col("lt50") <= ceil(col("nn") * lit(0.5)) + tol) &&
            (col("le50") >= floor(col("nn") * lit(0.5)) - tol)).as("kll_p50_ok"))
    }),

    // The datasheet's SHARD-MERGE shape — how a 100 TB release card is
    // actually assembled: each shard (per-source here; per-day/per-
    // crawl in production) publishes a PARTIAL card — exact counts
    // plus mergeable HLL/KLL sketches — and the release merges partials
    // without ever rescanning the corpus. Counts merge EXACTLY
    // (hash-gated values); the merged sketch estimates are asserted
    // in-plan against exact arms as bound booleans (the profile_sketch
    // pattern: the oracle emits literal TRUE, so a sketch-merge
    // regression flips a boolean and fails the hash gate). This is the
    // measured answer to SCALING.md §"datasheet forms" — the exact
    // card cannot merge; this one can.
    "corpus_datasheet_merged" -> ((s, dir) => {
      import org.apache.spark.sql.graft.KllFunctions
      val docs = Tables(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          size(tokens(col("text"))).cast("long").as("n_toks"),
          md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
      val eps = KllFunctions.normalizedRankError(KllFunctions.DefaultK)
      // one partial card per shard: the rows a shard job would publish
      val shards = docs.groupBy(col("source")).agg(
        count(lit(1)).as("sh_docs"),
        sum(col("n_chars")).as("sh_chars"),
        sum(col("n_toks")).as("sh_toks"),
        sum(when(col("n_toks") >= 64, 1L).otherwise(0L)).as("sh_ge"),
        hll_sketch_agg(col("lang"), lit(12)).as("h_lang"),
        hll_sketch_agg(col("fp"), lit(12)).as("h_fp"),
        KllFunctions.kllSketchAgg(col("n_chars").cast("double")).as("k_chars"))
      // the merge: sums + hll_union + kll_merge — no corpus rescan.
      // n_shards counts NON-NULL shard keys (count(col), not count(*)):
      // the oracle's count(DISTINCT source) excludes NULLs, so a NULL
      // source group must not count as a shard.
      val merged = shards.agg(
        count(col("source")).cast("long").as("n_shards"),
        sum(col("sh_docs")).cast("long").as("n_docs"),
        sum(col("sh_chars")).cast("long").as("total_chars"),
        sum(col("sh_toks")).cast("long").as("total_tokens"),
        sum(col("sh_ge")).cast("long").as("n_ge64"),
        hll_sketch_estimate(hll_union_agg(col("h_lang"), lit(false))).as("e_lang"),
        hll_sketch_estimate(hll_union_agg(col("h_fp"), lit(false))).as("e_fp"),
        element_at(KllFunctions.kllQuantiles(
          KllFunctions.kllMergeAgg(col("k_chars")), Seq(0.5)), 1).as("p50m"))
      // exact arms (verification only — production ships without them).
      // countDistinct matches the oracle's NULL-excluding semantics.
      val nl = docs.agg(countDistinct(col("lang")).cast("long").as("n_langs"))
      val nf = docs.agg(countDistinct(col("fp")).cast("long").as("n_unique_fp"))
      val ranks = docs.select(col("n_chars"))
        .crossJoin(broadcast(merged.select(col("p50m"), col("n_docs").as("nn"))))
        .agg(
          sum(when(col("n_chars") < col("p50m"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("n_chars") <= col("p50m"), 1L).otherwise(0L)).as("le50"),
          first(col("nn")).as("nn"))
      val tol = ceil(col("nn") * lit(2.0 * eps)) + lit(2.0)
      merged.crossJoin(broadcast(nl)).crossJoin(broadcast(nf))
        .crossJoin(broadcast(ranks))
        .select(col("n_shards"), col("n_docs"), col("n_langs"),
          col("total_chars"), col("total_tokens"), col("n_ge64"),
          col("n_unique_fp"),
          (abs(col("e_lang") - col("n_langs")) <=
            col("n_langs") * lit(0.05) + lit(1.0)).as("lang_ndv_ok"),
          (abs(col("e_fp") - col("n_unique_fp")) <=
            col("n_unique_fp") * lit(0.05) + lit(1.0)).as("fp_ndv_ok"),
          ((col("lt50") <= ceil(col("nn") * lit(0.5)) + tol) &&
            (col("le50") >= floor(col("nn") * lit(0.5)) - tol)).as("kll_p50_ok"))
    }),

    // Domain blocklist derivation — the governance output a web
    // pipeline feeds back to its crawler: per-domain mean lexical
    // quality (type-token ratio — repetition-spam's sharpest signal)
    // with a minimum-support gate, domains below the bar flagged
    // blocked. The corpus text is domain-independent by construction,
    // so two domains are PLANTED as content farms (30 repeated filler
    // tokens appended — the pii_scrub planting discipline) and exactly
    // those must flag. Mean TTR uses the integer-scaled averaging
    // discipline (per-row 6-dp anchor → exact integer sum → one
    // divide). One projection + one domain-keyed aggregate with
    // map-side combine: nothing here grows faster than the input, and
    // the output is domain-cardinality (tiny) at any corpus size.
    "domain_blocklist" -> ((s, dir) => {
      val domId = col("doc_id") % 17
      val spammed = when(domId.isin(3, 11),
        concat(col("text"), lit(" lowq" * 30))).otherwise(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("site-"), domId.cast("string"), lit(".example.com"))
            .as("domain"),
          tokens(spammed).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("domain"),
          round((size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double")) * lit(1e6)).cast("long").as("ttr6"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          (round(sum(col("ttr6")) / lit(1e6) / count(lit(1)), 6) + lit(0.0))
            .as("avg_ttr"))
        .withColumn("blocked", col("n_docs") >= 20 && col("avg_ttr") < 0.4)
        .orderBy(col("domain"))
    }),

    "url_domains" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site-"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" and http://ref-"), (col("doc_id") % 13).cast("string"),
          lit(".org/q?x=1")).as("t"))
      planted
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(t, 'https?://[^\\\\s]+', 0)")).as("url"))
        .select(col("doc_id"),
          regexp_extract(col("url"), "^https?://([^/]+)", 1).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).cast("long").as("n_urls"),
          countDistinct(col("doc_id")).cast("long").as("n_docs"))
        .orderBy(col("domain"))
    }),

    // Incremental dedup: a synthetic "daily increment" (1-token-suffixed
    // copies of doc_id < 30, re-keyed +20000) deduped AGAINST the corpus
    // — never corpus x corpus. Candidates come from joining the
    // increment's MinHash band buckets to the corpus's; cost scales with
    // the increment, not the corpus. The DuckDB oracle recomputes the
    // exact cross-set Jaccard with an inverted-index join.
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val increment = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zzqx")).as("text"))
      Dedup.nearDupsAgainstCorpus(increment, docs.select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // The OPERATIONAL form of incremental dedup: the corpus's banded
    // minhash signatures are MATERIALIZED once (a few hundred bytes
    // per doc) and the increment band-joins the stored rows — the
    // corpus is never re-tokenized; its text is re-read only for the
    // candidate ids the bands surface (semi-join before the
    // tokenizer). Same planted increment and same exact-Jaccard
    // contract as dedup_incremental, so the two queries pin the
    // stored-signature path against the recompute path through one
    // oracle.
    "dedup_signature_store" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val increment = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zzqx")).as("text"))
      val path = java.nio.file.Files.createTempDirectory("graft_sigstore")
        .toString + "/sigs"
      Dedup.bandSignatures(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(path)
      Dedup.nearDupsAgainstStore(increment, "doc_id", "text",
          s.read.parquet(path), docs.select(col("doc_id"), col("text")),
          "doc_id", "text")
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // Per-group z-score normalization (feature scaling): tiny stats
    // aggregate broadcast back over the fact scan — no second shuffle of
    // the big side. mu/sd are ROUNDED before standardizing so both
    // engines divide identical doubles and z is bit-reproducible.
    "zscore_norm" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val st = li.groupBy(col("l_returnflag"))
        .agg(round(avg(col("l_quantity")), 6).as("mu"),
          round(stddev_samp(col("l_quantity")), 6).as("sd"))
      li.join(broadcast(st), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_returnflag"),
          round((col("l_quantity") - col("mu")) / col("sd"), 6).as("z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // Multivariate statistics per group: Pearson correlation and
    // sample/population covariance — one partial-aggregated shuffle
    // (co-moment sketches merge associatively, same shape as sum/avg).
    "corr_stats" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_covar"),
          // + 0.0 collapses IEEE -0.0 to +0.0: DuckDB's round(-2e-7, 6)
          // yields -0.0 while Spark's yields 0.0 — bytewise hash mismatch.
          (round(covar_pop(col("l_discount"), col("l_tax")), 6) + lit(0.0)).as("disc_tax_covar_pop"),
          round(stddev_samp(col("l_quantity")), 6).as("qty_stddev"))
        .orderBy(col("l_returnflag"))),

    // Winsorization: clip a heavy-tailed metric to its per-group
    // [p05, p95] band before computing moments — the outlier-robust
    // normalization feature pipelines run before z-scoring. Exact
    // percentiles per group (buffers bounded by group size), broadcast
    // back over one fact scan; clipping itself is a projection.
    "winsorize" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val bands = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.05)").as("p05raw"),
          expr("percentile(l_extendedprice, 0.95)").as("p95raw"))
      val clipped = li.join(broadcast(bands), "l_returnflag")
        .select(col("l_returnflag"), col("p05raw"), col("p95raw"),
          least(greatest(col("l_extendedprice"), col("p05raw")), col("p95raw")).as("w"))
      clipped.groupBy(col("l_returnflag"))
        .agg(round(first(col("p05raw")), 6).as("p05"),
          round(first(col("p95raw")), 6).as("p95"),
          round(avg(col("w")), 6).as("avg_wins"),
          round(stddev_samp(col("w")), 6).as("sd_wins"))
        .orderBy(col("l_returnflag"))
    }),

    // Median absolute deviation per group: the robust dispersion
    // estimate (insensitive to the outliers stddev chases). Two exact
    // per-group percentiles — median, then median of |x - median| —
    // with the group medians broadcast between the passes.
    "mad_stats" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val med = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("m"))
      li.join(broadcast(med), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(round(first(col("m")), 6).as("med"),
          round(expr("percentile(abs(l_quantity - m), 0.5)"), 6).as("mad"))
        .orderBy(col("l_returnflag"))
    }),

    // Two-stage salted aggregation: the skew-defusing shape for
    // low-cardinality hot keys (3 return flags would otherwise reduce
    // on 3 tasks). Stage 1 groups on (key, salt) so 32 tasks share each
    // hot key's partial state; stage 2 re-aggregates the 96 partials.
    // The salt washes out of the result entirely — the oracle is the
    // plain one-stage aggregate. (Spark's own partial aggregation
    // already map-combines; explicit salting is the pattern for when
    // the REDUCE side itself must fan out, e.g. distinct-heavy aggs.)
    "agg_salted" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), pmod(col("l_orderkey"), lit(32)).as("salt"))
        .agg(count(lit(1)).as("pn"), sum(col("l_quantity")).as("pq"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("pn")).as("n"),
          round(sum(col("pq")), 2).as("sum_qty"),
          round(sum(col("pq")) / sum(col("pn")), 6).as("avg_qty"))
        .orderBy(col("l_returnflag"))),

    // Boilerplate detection: word 5-grams shared across many documents
    // — the C4-style repeated-phrase pass that strips nav bars and
    // footers before training. Two deterministic boilerplate sentences
    // are planted on modular doc-id classes (same technique as
    // url_domains) so the query always has signal; the doc-frequency
    // threshold also surfaces any natural repeats. Scale shape: one
    // linear explode (<= n_words grams per doc) then one partial-agg
    // shuffle keyed on the gram — never doc x doc; the top-20 is a
    // TakeOrdered over the aggregated (small) gram table.
    "boilerplate_ngrams" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" subscribe to our newsletter for updates")))
          .when(col("doc_id") % 7 === 1,
            concat(col("text"), lit(" all rights reserved terms of service apply")))
          .otherwise(col("text")).as("t"))
      val toks = planted.select(col("doc_id"), split(col("t"), " ").as("w"))
        .filter(size(col("w")) >= 5)
      val grams = toks.select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(w) - 4), i -> array_join(slice(w, i, 5), ' '))"))
          .as("gram"))
      grams.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_occurrences"))
        .filter(col("n_docs") >= 5)
        .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
        .limit(20)
    }),

    // Character-trigram language ID: per-language top-20 trigram
    // profiles learned from the labeled corpus itself, every doc scored
    // by profile hits, argmax prediction, confusion matrix out. The
    // corpus text is synthetic (shared vocabulary), so the matrix is
    // near-degenerate — what the oracle pins is the MECHANISM: profile
    // learning, broadcast scoring, deterministic argmax tie-breaks
    // (count desc then trigram / language asc). Scale shape: trigram
    // explode is linear in corpus chars; the learned profile is <= 20
    // rows per language and broadcast into the scoring join; per-doc
    // argmax is a bounded window (<= n_languages rows per doc).
    "lang_id" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // r16 stage profile: the trigram Generate + partial aggregate ran
      // as ONE 3 s task (single-row-group fixture parquet) with 31
      // cores idle — the whole query's dominant stage. ifNarrow spreads
      // the raw docs across cores only when the scan is actually
      // starved; at production scale the scan plans thousands of
      // splits and this is a no-op (no corpus shuffle tax).
      val tri = Spread.ifNarrow(
          docs.select(col("doc_id"), col("lang"), col("text")), "doc_id")
        .select(col("doc_id"), col("lang"),
          explode(expr(
            "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))
            .as("g"))
        .filter(length(col("g")) === 3)
      // BOTH branches (profile learning, doc scoring) derive from the
      // same per-(doc, lang, trigram) pre-aggregate: its exchange is an
      // identical subtree in the final plan, so Spark's ReuseExchange
      // materializes the trigram explode + shuffle ONCE instead of
      // recomputing 2x corpus-chars substrings per branch (measured
      // 34.6s -> with reuse roughly half at the 10x scale fixture).
      // Aggregation is associative, so re-aggregating counts from this
      // form is value-identical to counting raw trigram rows.
      val docTri = tri.groupBy(col("doc_id"), col("lang"), col("g"))
        .agg(count(lit(1)).as("c"))
      val prof = docTri.groupBy(col("lang").as("plang"), col("g"))
        .agg(sum(col("c")).as("c"))
      val wp = Window.partitionBy(col("plang")).orderBy(col("c").desc, col("g"))
      val top = prof.withColumn("rk", row_number().over(wp)).filter(col("rk") <= 20)
        .select(col("plang"), col("g"))
      val hits = docTri.join(broadcast(top), Seq("g"))
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(sum(col("c")).as("hits"))
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("plang"))
      hits.withColumn("rk", row_number().over(wd)).filter(col("rk") === 1)
        .groupBy(col("lang"), col("plang").as("predicted"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // Distribution drift: KL(source-unigram-dist || corpus-unigram-dist)
    // per source — the data-quality check that flags a crawl shard whose
    // vocabulary distribution has moved away from the corpus (encoding
    // glitches, spam floods, template storms). No smoothing needed:
    // every source term exists in the corpus by construction, so q > 0
    // wherever p > 0. Scale shape: one token explode, two partial-agg
    // shuffles (per-source-term and per-term), a shuffle join on the
    // term, and broadcasts for the tiny per-source / global totals.
    "term_drift" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val corpus = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val total = corpus.agg(sum(col("cw")).cast("double").as("t"))
      val bySrc = toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
      val srcTot = bySrc.groupBy(col("source")).agg(sum(col("cs")).cast("double").as("ts"))
      bySrc.join(broadcast(srcTot), "source")
        .join(corpus, "w")
        .crossJoin(broadcast(total))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_terms"),
          (round(sum((col("cs") / col("ts")) *
            log((col("cs") / col("ts")) / (col("cw") / col("t")))), 6) + lit(0.0)).as("kl"))
        .orderBy(col("source"))
    }),

    // Collocation mining: top adjacent word pairs by pointwise mutual
    // information — ln(c_ab * N / (c_a * c_b)) over corpus bigram /
    // unigram counts. PMI surfaces multi-word expressions worth
    // treating as single tokens before BPE training. Count floor keeps
    // the estimate stable; ties break on the pair text. Scale shape:
    // two linear explodes (bigrams, unigrams), partial-agg shuffles,
    // then two broadcast joins of the small unigram table onto the
    // aggregated bigram table (vocabulary-sized, not corpus-sized).
    "pmi_bigrams" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
      val bi = toks.select(explode(expr(
          "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) as a, element_at(w, i + 1) as b))"))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      val uni = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
        .filter(col("t") =!= "")
        .groupBy(col("t")).agg(count(lit(1)).as("ct"))
      val n = bi.agg(sum(col("cab")).cast("double").as("nb"))
      bi.join(broadcast(uni.withColumnRenamed("t", "a").withColumnRenamed("ct", "ca")), "a")
        .join(broadcast(uni.withColumnRenamed("t", "b").withColumnRenamed("ct", "cb")), "b")
        .crossJoin(broadcast(n))
        .filter(col("cab") >= 10)
        .select(col("a"), col("b"), col("cab").cast("long").as("n_pair"),
          (round(log(col("cab") * col("nb") / (col("ca") * col("cb"))), 6) + lit(0.0)).as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Novelty scoring: per source, the mean fraction of each doc's
    // 8-gram word shingles that occur NOWHERE else in the corpus —
    // the inverse of boilerplate, scoring how much genuinely new text a
    // crawl shard contributes. Scale shape: one linear shingle explode,
    // a doc-frequency aggregate keyed on the shingle, a join back on
    // the shingle (both sides shuffle-partitioned by the same key), and
    // a per-doc then per-source rollup. No doc x doc comparison.
    "novelty_score" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // The shingle set feeds BOTH the doc-frequency aggregate and the
      // join back. Routing both branches through one per-(g, doc,
      // source) occurrence-count pre-aggregate makes them share its
      // partial-agg exchange (the lang_id ReuseExchange pattern — the
      // exchange carries the full grouping key set regardless of what
      // each branch prunes afterwards): the raw explode runs ONCE and
      // everything downstream works on compacted triples. df per
      // shingle = count(*) over the pre-aggregate (one row per
      // (g, doc) by construction); occurrence weights come back from
      // the carried count.
      val sh = docs
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), col("source"),
          explode(expr(
            "transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))"))
            .as("g"))
      val docSh = sh.groupBy(col("g"), col("doc_id"), col("source"))
        .agg(count(lit(1)).as("c"))
      val df = docSh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val perDoc = docSh.join(df, "g")
        .groupBy(col("doc_id"), col("source"))
        .agg((sum(when(col("df") === 1, col("c")).otherwise(0L)) / sum(col("c")))
          .as("novelty"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          (round(avg(col("novelty")), 6) + lit(0.0)).as("mean_novelty"))
        .orderBy(col("source"))
    }),

    // Directional dedup-attrition report: for every near-dup cluster,
    // which SOURCE loses documents and which source's representative
    // survives — "who is re-serving whom", the directional complement
    // to source_overlap's symmetric Jaccard. Same keep-best contract
    // as cluster_keep_best (longest text, doc_id tiebreak); the output
    // is (losing source, winning source, docs lost). Scale shape: the
    // audited pair/CC machinery plus one sparse per-cluster window.
    "dedup_attrition" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        maxDocFreq = Dedup.HotShingleCutoff)
      val labels = ConnectedComponents.connectedComponents(pairs, "i", "j")
      val keyed = docs.join(labels, col("doc_id") === col("node"))
        .select(col("cluster"), col("doc_id"), col("source"), col("n_chars"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val ranked = keyed.withColumn("rk", row_number().over(w))
      val winners = ranked.filter(col("rk") === 1)
        .select(col("cluster"), col("source").as("kept_source"))
      ranked.filter(col("rk") > 1)
        .join(winners, "cluster")
        .groupBy(col("source").as("lost_source"), col("kept_source"))
        .agg(count(lit(1)).cast("long").as("n_docs_lost"))
        .orderBy(col("lost_source"), col("kept_source"))
    }),

    // Leakage-safe train/val/test split: hash on the near-dup CLUSTER
    // id, not the doc id — a doc-hash split puts near-identical
    // documents on both sides of the train/test boundary, silently
    // inflating eval scores. The output carries the crossing-pair
    // count so the guarantee is COMPUTED, not assumed (0 by
    // construction: every cluster member shares the cluster hash).
    // Scale shape: the pair/CC machinery is the audited dedup_clusters
    // path; the split itself is one hash projection and the leakage
    // check two key-joins of the (sparse) pair list. The pair list is
    // MATERIALIZED before reuse: it is tiny (near-dups are rare by
    // construction) but its derivation is the whole candidate
    // pipeline, and both the CC pass and the crossing check consume
    // it — un-materialized, Catalyst re-ran the full candidate pass for
    // the leak check (measured 28.7x at the 30x fixture vs 3x data;
    // materialized, the pass runs once).
    "split_cluster_safe" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        maxDocFreq = Dedup.HotShingleCutoff)
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val labels = ConnectedComponents.connectedComponents(pairs, "i", "j")
      val keyed = docs.join(labels, col("doc_id") === col("node"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      val h = substring(md5(col("cluster").cast("string")), 1, 4)
      val split = keyed.withColumn("split",
        when(h < "cccc", "train").when(h < "e666", "val").otherwise("test"))
      val cross = pairs
        .join(split.select(col("doc_id").as("i"), col("split").as("si")), "i")
        .join(split.select(col("doc_id").as("j"), col("split").as("sj")), "j")
        .filter(col("si") =!= col("sj"))
        .agg(count(lit(1)).cast("long").as("leaked_pairs"))
      split.groupBy(col("split"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .crossJoin(broadcast(cross))
        .orderBy(col("split"))
    }),

    // The COMPOSED end-to-end curation pipeline, v2 — the round-9
    // operators chained in one declarative plan (the curation_keep
    // discipline, widened): temperature-scaled source mixing →
    // size-dispatched exact near-dup removal → DSIR importance scoring
    // over the survivors → leakage-safe train/val/test split →
    // per-(split, source) sign-off report. Chaining proves the
    // operators compose without materialization barriers: Catalyst
    // sees mix filter, anti-join, scoring joins and split projection
    // as ONE optimizable tree (the near-dup pair derivation inside
    // nearDupPairs is the only eager boundary, by design).
    //
    // Why a PLAIN hash split is leakage-safe here, where split_assign
    // alone is not: dropping the higher-id member `j` of EVERY
    // qualifying pair leaves a set in which no two surviving documents
    // are near-dups (any surviving pair would have its j dropped —
    // contradiction), so there is no cluster to keep together. The
    // split key is SALTED ('split:' prefix): the mix stage already
    // consumed the raw md5(doc_id) draw, and reusing it would pile
    // every mixed-in survivor into 'train' (kept docs all have small
    // draws by construction).
    "curation_pipeline_v2" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val mixed = Sampling.temperatureMix(docs, col("doc_id"), col("source"),
        alpha = 0.7, targetFraction = 0.3)
      val dupJ = Dedup.nearDupPairs(mixed, "doc_id", "text",
          maxDocFreq = Dedup.HotShingleCutoff)
        // MATERIALIZED ONCE (slim id list, ≤ one row per doc at any
        // scale): the r16 plan audit measured the pre-change tree
        // executing the whole near-dup pair derivation once per ktok
        // REFERENCE — the final plan carried 87 exchanges / 30 document
        // scans with ZERO exchange reuse
        // (plans/r16/curation_pipeline_v2_before.txt), because
        // self-join id dedup re-keys the duplicated subtrees past
        // ReuseExchange. localCheckpoint, not persist: see
        // GraftSession's lifetime rule. Every downstream branch is an
        // anti-join against the small materialized id set (guide §8:
        // decide on small rows once, never re-derive).
        .select(col("j").as("doc_id")).distinct()
        .localCheckpoint(true)
      val kept = mixed.join(dupJ, Seq("doc_id"), "left_anti")
      // DSIR over the deduped survivors (dsir_select semantics, but the
      // raw/target models are fit on the KEPT set — score with what you
      // ship, not with what you discarded)
      val ktok = kept.select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("t"))
      // ONE vocabulary aggregate carries BOTH unigram models: cr is the
      // raw count (== the old cRaw), ct the target count (== the old
      // cTgt, with absent-in-target terms at 0 exactly where the old
      // LEFT JOIN + coalesce put them — sums and the +1.0-smoothed
      // ratios are bit-identical integer/IEEE sequences). The old form
      // aggregated the token explode TWICE and left-joined the results;
      // this is the guide-§2.3 "aggregate before you shuffle" shape:
      // one exchange on t, and the frame materializes once
      // (vocabulary-sized; localCheckpoint for the dupJ reason) because
      // both the totals row and the per-term lambda derive from it.
      val byT = ktok.groupBy(col("t"))
        .agg(count(lit(1)).as("cr"),
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
        .localCheckpoint(true)
      val tots = byT.agg(sum(col("cr")).cast("double").as("nraw"),
        count(lit(1)).cast("double").as("v"),
        coalesce(sum(col("ct")), lit(0L)).cast("double").as("ntgt"))
      // v2 stacks TWO round-of-average layers (per-doc dsir, then
      // per-(split, source) avg_dsir) on ln-based values. That chain
      // flipped a 6th decimal between engines at BOTH sf0.1 and
      // sf0.01 in different groups: `avg` over doubles is
      // summation-order-sensitive in the last ulp, and a
      // round(avg(...), 6) whose exact value sits near a .5e-6
      // boundary straddles it. The deterministic form is
      // INTEGER-SCALED averaging: anchor lam at 6 dp as an exact
      // BIGINT (the bm25 idf discipline, scaled), sum integers
      // (exact, order-free in any engine), then divide — a fixed
      // sequence of IEEE ops both engines execute identically. Both
      // averaging layers below use it; no double summation survives.
      val lam = byT
        .crossJoin(broadcast(tots))
        .select(col("t"),
          round((log((col("ct") + lit(1.0)) / (col("ntgt") + col("v"))) -
            log((col("cr") + lit(1.0)) / (col("nraw") + col("v")))) * lit(1e6))
            .cast("long").as("lam_i"))
      val scored = ktok.join(lam, "t")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_toks"),
          round(sum(col("lam_i")) / lit(1e6) / count(lit(1)), 6).as("dsir"))
      val sp = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 4)
      scored
        .withColumn("split",
          when(sp < "cccc", "train").when(sp < "e666", "val").otherwise("test"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_toks")).cast("long").as("n_toks"),
          // second integer-scaled average: dsir is a 6-dp decimal, so
          // round(dsir * 1e6) recovers its exact integer in any engine
          round(sum(round(col("dsir") * lit(1e6)).cast("long")) / lit(1e6)
            / count(lit(1)), 6).as("avg_dsir"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("split"), col("source"))
    }),

    // The round-11 composition — curation by REPAIR where v2 curates by
    // SELECTION: (1) C4-style span REWRITE (duplicated spans removed at
    // all but their first occurrence, documents kept); (2) a TRAINED
    // quality gate — logistic regression fit to the post-rewrite corpus
    // (the trainIvf 6-dp discipline), keeping docs at or above
    // the corpus-average margin; (3) exact dedup of the rewritten texts
    // (keep-first per md5 fingerprint — rewriting collapses formerly
    // near-identical docs into byte-identical ones, so exact dedup now
    // catches what needed Jaccard before); (4) leakage-safe hash split.
    // One declarative plan end to end plus the classifier's three
    // model-sized driver crossings.
    "curation_pipeline_v3" -> ((s, dir) => {
      import graft.operators.LogisticRegression
      val rew = Dedup.rewriteDupSpans(Tables(s, dir, "documents"), "doc_id", "text")
      val base = rew
        .join(Tables(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .filter(col("kept_text") =!= "")
        .select(col("doc_id"), col("lang"), col("n_dropped"), col("kept_text"),
          tokens(col("kept_text")).as("toks"))
      val feat = base
        .withColumn("x1", size(col("toks")).cast("double") / lit(60.0))
        .withColumn("x2", size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double"))
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
        // LogisticRegression.fit's own scale contract ("the caller
        // persists the feature frame once — it is scanned iters + 1
        // times"), which this query was not honoring: the frame embeds
        // the WHOLE span-rewrite pipeline, so the 3 GD aggregates, the
        // zbar aggregate and the final plan re-executed rewriteDupSpans
        // five times per invocation (r16 plan audit: 35 jobs, all
        // single-task). One materialization, four reads;
        // localCheckpoint, not persist: see GraftSession's lifetime rule.
        .localCheckpoint(true)
      val wts = LogisticRegression.fit(
        feat.select(col("x1"), col("x2"), col("y")), Seq("x1", "x2"), "y")
      val z = LogisticRegression.margin(wts, Seq("x1", "x2"))
      // Integer-scaled averaging (the v2 discipline — see dsir above):
      // per-row margins are identical IEEE op sequences in both
      // engines, so anchoring each at 6 dp as an exact BIGINT and
      // summing integers removes the summation-order last-ulp flicker
      // `avg` over doubles carries near a .5e-6 rounding boundary.
      val zbar = feat.agg((round(sum(round(z * lit(1e6)).cast("long")) / lit(1e6)
        / count(lit(1)), 6) + lit(0.0)).as("zb")).head().getDouble(0)
      val gated = feat.filter(z >= lit(zbar)).withColumn("margin", z)
      val wf = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val deduped = gated.withColumn("fp", md5(col("kept_text")))
        .withColumn("rk", row_number().over(wf)).filter(col("rk") === 1)
      val sp = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 4)
      deduped
        .withColumn("split",
          when(sp < "cccc", "train").when(sp < "e666", "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(col("toks"))).cast("long").as("n_toks"),
          sum(col("n_dropped")).cast("long").as("n_spans_dropped"),
          // second integer-scaled average, same reasoning as zbar
          (round(sum(round(col("margin") * lit(1e6)).cast("long")) / lit(1e6)
            / count(lit(1)), 6) + lit(0.0)).as("avg_margin"))
        .orderBy(col("split"), col("lang"))
    }),

    // The round-12 composition — curation for the WEB CRAWL, where v2
    // curates a clean corpus and v3 repairs one: (1) crawl frontier —
    // URL canonicalization + keep-first per canonical key kills the
    // planted recrawls (a tenth of the corpus re-arrives re-keyed
    // under the OPPOSITE url decoration) before anything parses — the
    // pipeline's real argument: the cheapest stage runs first; (2)
    // HTML block extraction of the surviving pages (the shared
    // plantedHtmlBlocksOf page); (3) C4-style block-level keep-first
    // dedup hollows out corpus-wide boilerplate; (4) a token-budget
    // gate drops docs the dedup hollowed below 10 tokens; (5)
    // leakage-safe md5 split + per-(split, domain) rollup. Per-stage
    // work FRACTIONS are SF-invariant by construction (recrawls are a
    // fixed tenth; page keys are doc-unique so the url stage removes
    // exactly the planted recrawls at every scale). Shuffles: one
    // canonical-keyed window, one block-keyed window, one doc-keyed
    // agg + doc-keyed domain join, one tiny rollup — each at full key
    // cardinality. All counting is INTEGER token counts: the oracle
    // replay carries no floating point anywhere.
    "curation_pipeline_v4" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      def urlOf(flip: Boolean) = {
        val k = (col("doc_id") % 17).cast("string")
        val decorated = concat(lit("HTTPS://Site-"), k,
          lit(".Example.COM:443/p/"), col("doc_id").cast("string"),
          lit("?utm_source=crawl&x=1#sec"))
        val plain = concat(lit("https://site-"), k, lit(".example.com/p/"),
          col("doc_id").cast("string"), lit("?x=1"))
        val even = col("doc_id") % 2 === 0
        if (!flip) when(even, decorated).otherwise(plain)
        else when(even, plain).otherwise(decorated)
      }
      val base = docs.select(col("doc_id"), col("text"), urlOf(false).as("url"))
      val recrawl = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"), urlOf(flip = true).as("url"))
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("url"))
      val wUrl = Window.partitionBy(col("canonical_url")).orderBy(col("doc_id"))
      val frontier = base.unionByName(recrawl)
        .withColumn("canonical_url",
          graft.functions.UrlFunctions.canonicalizeUrl(col("url")))
        .withColumn("ru", row_number().over(wUrl))
        .filter(col("ru") === 1)
        .select(col("doc_id"),
          graft.functions.UrlFunctions.urlDomain(col("canonical_url"))
            .as("domain"),
          col("text"))
      // domain rides THROUGH the explode (plantedHtmlBlocksOf carry),
      // so the frontier subtree is single-use — no join-back, no
      // second scan of the corpus (measured: 4 scans/7 exchanges with
      // the join, 2 scans/5 with the carry)
      val blocks = Pipeline.plantedHtmlBlocksOf(
        frontier.select(col("doc_id"), col("domain"), col("text")),
        carry = Seq("domain"))
      val wB = Window.partitionBy(col("block"))
        .orderBy(col("doc_id"), col("block_no"))
      val perDoc = blocks
        .withColumn("rk", row_number().over(wB))
        .groupBy(col("doc_id"), col("domain"))
        .agg(sum(when(col("rk") === 1, size(split(col("block"), " ")))
          .otherwise(0)).cast("long").as("n_toks_kept"))
      val sp = substring(md5(col("doc_id").cast("string")), 1, 4)
      perDoc.filter(col("n_toks_kept") >= 10)
        .withColumn("split",
          when(sp < "cccc", "train").when(sp < "e666", "val").otherwise("test"))
        .groupBy(col("split"), col("domain"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_toks_kept")).cast("long").as("n_tokens"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("split"), col("domain"))
    }),

    // Corpus-lineage diagnostic: pairwise 8-gram Jaccard BETWEEN
    // SOURCES — which crawl shards are re-serving each other's content.
    // Scale shape: distinct (source, shingle) pairs, then a
    // shingle-keyed self-equi-join; per-shingle fan-out is bounded by
    // the number of sources sharing it (sources are few — tens, not
    // millions), so the join output is O(shingles x S^2) worst-case and
    // in practice near-linear. Union sizes come from per-source counts
    // via inclusion-exclusion — no union materialization, and never a
    // doc x doc or source x source cross product over raw text.
    "source_overlap" -> ((s, dir) => {
      val sh = Tables(s, dir, "documents")
        .select(col("source"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))"))
          .as("g"))
        .distinct()
      val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      sh.as("a")
        .join(sh.as("b"), col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("sa"), col("n").as("na"))), "sa")
        .join(broadcast(sizes.select(col("source").as("sb"), col("n").as("nb"))), "sb")
        .select(col("sa"), col("sb"), col("inter").cast("long").as("n_shared"),
          (round(col("inter") / (col("na") + col("nb") - col("inter")), 6) + lit(0.0))
            .as("jaccard"))
        .orderBy(col("sa"), col("sb"))
    }),

    // Sketch-based profiling: approximate NDV (HyperLogLog++) and
    // approximate quantiles — THE profiling path at 100 TB, where exact
    // count_distinct shuffles every distinct value and exact percentile
    // buffers whole columns in one aggregation buffer. Sketches are
    // fixed-size and merge associatively: one partial-agg shuffle,
    // same shape as sum().
    //
    // Hash-gate shape (round 9): DuckDB cannot reproduce Spark's
    // HLL++/KLL sketches bit-for-bit, so the query emits the EXACT
    // NDVs (oracle-checkable payload) plus deterministic booleans
    // asserting each sketch estimate sits inside its published error
    // bound — abs(approx-exact) <= 5% * exact for rsd=0.01 HLL
    // (>4 sigma), and rank(approx quantile) within 2*N/accuracy of
    // the target rank. The oracle recomputes the exact side and emits
    // literal TRUE for the bounds: a sketch regression flips a boolean
    // and hash-mismatches. The pure-sketch production path (no exact
    // passenger) remains operators/SketchProfile.
    "profile_sketch" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      // Exact NDVs as separate distinct pipelines, NOT two
      // countDistincts in one agg: multiple distinct aggregates plan
      // as an Expand that triples every input row through the shuffle
      // (and drags the sketch buffers through the expanded stream —
      // measured 145s at sf0.1 vs ~3s for this shape). Each distinct
      // is one dedup shuffle; the 3-row results broadcast-join back.
      def ndv(c: String, as: String) = li.select(col("l_returnflag"), col(c))
        .distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as(as))
      val sketches = li
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
          approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
          // accuracy 2000: rank error <= N/2000 (0.05% at sf0.1) at a
          // quarter of the sketch-merge cost of the 10000 default
          percentile_approx(col("l_extendedprice"), array(lit(0.5), lit(0.95)),
            lit(2000)).as("pq"))
      // 3 rows, but the subtree carries the sketch aggregate plus both
      // exact-NDV distinct pipelines — and prof is referenced twice
      // (the broadcast rank-threshold side and the final join), so the
      // pre-change plan ran all of it twice (r16 plan audit: 16
      // exchanges / 7 scans). Materialize the 3 rows once;
      // localCheckpoint, not persist: see GraftSession's lifetime rule.
      val prof = sketches
        .join(broadcast(ndv("l_orderkey", "ndv_orders")), "l_returnflag")
        .join(broadcast(ndv("l_partkey", "ndv_parts")), "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("ndv_orders"), col("ndv_parts"),
          col("ao"), col("ap"),
          element_at(col("pq"), 1).as("p50v"),
          element_at(col("pq"), 2).as("p95v"))
        .localCheckpoint(true)
      // Rank-audit the returned quantile values: count rows strictly
      // below / at-or-below each value per group. The threshold table is
      // a handful of rows — broadcast it; this is one extra scan and the
      // same keyed aggregation, no new shuffle shape at any scale.
      val ranks = li
        .join(broadcast(prof.select(col("l_returnflag").as("rf"),
          col("p50v").as("t50"), col("p95v").as("t95"))),
          col("l_returnflag") === col("rf"))
        .groupBy(col("rf"))
        .agg(
          sum(when(col("l_extendedprice") < col("t50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("l_extendedprice") <= col("t50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("l_extendedprice") < col("t95"), 1L).otherwise(0L)).as("lt95"),
          sum(when(col("l_extendedprice") <= col("t95"), 1L).otherwise(0L)).as("le95"))
      // tolerance: 2x the guaranteed N/2000 rank error, +2 for the
      // rank-definition boundary on tiny test groups
      val tol = ceil(col("n") / lit(1000.0)) + lit(2.0)
      def rankOk(lt: String, le: String, q: Double) =
        (col(lt) <= ceil(col("n") * q) + tol) && (col(le) >= floor(col("n") * q) - tol)
      prof.join(broadcast(ranks), col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"),
          col("ndv_orders").cast("long").as("ndv_orders"),
          col("ndv_parts").cast("long").as("ndv_parts"),
          (abs(col("ao") - col("ndv_orders")) <= col("ndv_orders") * lit(0.05))
            .as("ndv_orders_ok"),
          (abs(col("ap") - col("ndv_parts")) <= col("ndv_parts") * lit(0.05))
            .as("ndv_parts_ok"),
          rankOk("lt50", "le50", 0.5).as("p50_ok"),
          rankOk("lt95", "le95", 0.95).as("p95_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Mergeable-quantile profiling (KLL): the quantile companion of
    // profile_sketch, exercising the custom kll_sketch_agg /
    // kll_quantiles aggregates (Spark has no storable quantile sketch
    // of its own — plans/KllExpressions.scala). Same hash-gate shape:
    // the oracle-checkable payload is the EXACT p50/p95 per group
    // (quantile_cont parity, like median_groups); the KLL estimates are
    // rank-audited in-plan — count rows below each estimate, assert the
    // observed rank sits within 2x the sketch's published normalized
    // rank-error bound of the target — and ship as booleans the oracle
    // emits closed-form. A KLL regression (or a broken merge) flips a
    // boolean and hash-mismatches.
    "profile_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.graft.KllFunctions
      val li = Tables(s, dir, "lineitem")
      val eps = KllFunctions.normalizedRankError(KllFunctions.DefaultK)
      val prof = li
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          KllFunctions.kllQuantiles(
            KllFunctions.kllSketchAgg(col("l_extendedprice").cast("double")),
            Seq(0.5, 0.95)).as("kq"),
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("eq"))
        .select(col("l_returnflag"), col("n"),
          element_at(col("kq"), 1).as("t50"),
          element_at(col("kq"), 2).as("t95"),
          round(element_at(col("eq"), 1), 6).as("p50_exact"),
          round(element_at(col("eq"), 2), 6).as("p95_exact"))
      val ranks = li
        .join(broadcast(prof.select(col("l_returnflag").as("rf"),
          col("t50"), col("t95"))),
          col("l_returnflag") === col("rf"))
        .groupBy(col("rf"))
        .agg(
          sum(when(col("l_extendedprice") < col("t50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("l_extendedprice") <= col("t50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("l_extendedprice") < col("t95"), 1L).otherwise(0L)).as("lt95"),
          sum(when(col("l_extendedprice") <= col("t95"), 1L).otherwise(0L)).as("le95"))
      val tol = ceil(col("n") * lit(2.0 * eps)) + lit(2.0)
      def rankOk(lt: String, le: String, q: Double) =
        (col(lt) <= ceil(col("n") * q) + tol) && (col(le) >= floor(col("n") * q) - tol)
      prof.join(broadcast(ranks), col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"),
          col("p50_exact"), col("p95_exact"),
          rankOk("lt50", "le50", 0.5).as("kll_p50_ok"),
          rankOk("lt95", "le95", 0.95).as("kll_p95_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Distinct-set OVERLAP between segments via theta sketches — the
    // profiling question HLL cannot answer from sketches alone ("how
    // many users did BOTH event types"). Exact intersection NDVs are
    // the oracle-checkable payload (one distinct + self-join, the same
    // plan DuckDB runs); the theta estimates ride as within-5%-bound
    // booleans (theta at nominal 4096 is exact below 4096 distincts and
    // ~1.6% RSE above — 5% is > 3 sigma). A sketch or intersection
    // regression flips a boolean and hash-mismatches.
    "profile_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ThetaFunctions
      val d = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val exact = d.as("a")
        .join(d.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(count(lit(1)).cast("long").as("n_users_both"))
      val est = graft.operators.SketchProfile.overlapMatrix(d, "event_type", "user_id")
        .select(col("seg_a").as("type_a"), col("seg_b").as("type_b"),
          col("ndv_both"))
      exact.join(broadcast(est), Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("n_users_both"),
          (abs(col("ndv_both") - col("n_users_both")) <=
            col("n_users_both") * lit(0.05) + lit(1.0)).as("theta_ok"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): rank the
    // selection pool by how much more likely each document is under a
    // bag-of-unigrams model of the TARGET domain (source 'src0') than
    // under the raw-corpus model — log-ratio features with add-1
    // smoothing over the shared vocabulary, per-doc score = mean token
    // log-ratio (length-normalized). Every stage is a keyed
    // count/join shuffle on the token; the three totals ride as
    // broadcast scalars. Payload: the 50 highest-scoring pool docs.
    "dsir_select" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(tokens(col("text"))).as("t"))
      val cRaw = tok.groupBy(col("t")).agg(count(lit(1)).as("cr"))
      val cTgt = tok.filter(col("source") === "src0")
        .groupBy(col("t")).agg(count(lit(1)).as("ct"))
      val tot = cRaw.agg(sum(col("cr")).cast("double").as("nraw"),
        count(lit(1)).cast("double").as("v"))
      val ttot = cTgt.agg(sum(col("ct")).cast("double").as("ntgt"))
      val lam = cRaw.join(cTgt, Seq("t"), "left")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(ttot))
        .select(col("t"),
          (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("ntgt") + col("v"))) -
            log((col("cr") + lit(1.0)) / (col("nraw") + col("v")))).as("lam"))
      tok.filter(col("source") =!= "src0")
        .join(lam, "t")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_toks"),
          round(avg(col("lam")), 6).as("dsir_score"))
        .orderBy(col("dsir_score").desc, col("doc_id"))
        .limit(50)
    }),

    // The OPERATIONAL frequent-items path under the hash gate: sketch
    // partials per shard (the profile-once form), merged per key — the
    // shard-merge round-trip heavy_hitters doesn't exercise. Payload:
    // exact per-lang counts of the probed source; the merged sketch's
    // estimate must sit within ITS OWN stated hard bound (merge
    // preserves |est-true| <= maxError whatever the sharding).
    "profile_freq" -> ((s, dir) => {
      import org.apache.spark.sql.graft.FreqFunctions
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val partials = graft.operators.SketchProfile.freqPartials(
        docs, pmod(col("doc_id"), lit(4)), Seq("lang"), Seq("source"))
      val merged = graft.operators.SketchProfile.mergeFreq(
        partials, Seq("lang"), Seq("source"), "src0")
      val exact = docs.groupBy(col("lang"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n_src0"))
      exact.join(merged, "lang")
        .select(col("lang"), col("n_src0"),
          (abs(col("est_source") - col("n_src0")) <= col("maxerr_source"))
            .as("freq_ok"))
        .orderBy(col("lang"))
    }),

    // Heavy hitters via a frequent-items sketch (Misra-Gries family,
    // plans/FreqExpressions.scala): the top-k tokens of the corpus from
    // ONE fixed-size mergeable buffer per partition — the sum() shuffle
    // shape — where the exact answer shuffles every distinct token. The
    // exact top-20 is the oracle-checkable payload; the sketch estimate
    // rides as a within-hard-bound boolean (|est - true| <=
    // getMaximumError is GUARANTEED by the sketch, not probabilistic,
    // so the gate cannot flap on partitioning or merge order).
    "heavy_hitters" -> ((s, dir) => {
      import org.apache.spark.sql.graft.FreqFunctions
      val toks = Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(20)
      val sk = toks.agg(FreqFunctions.freqSketchAgg(col("tok")).as("sk"))
      top.crossJoin(broadcast(sk))
        .select(col("tok"), col("cnt"),
          (abs(FreqFunctions.freqEstimate(col("sk"), col("tok")) - col("cnt"))
            <= FreqFunctions.freqMaxError(col("sk"))).as("freq_ok"))
        .orderBy(col("cnt").desc, col("tok"))
    }))

  /** DuckDB token-array fragment over an arbitrary text expression
    * (Pipeline.toksSql fixed to the `text` column; this parameterizes
    * it for the synthetic increment). */
  private def toksOf(textExpr: String): String =
    s"""string_split(lower(trim(regexp_replace($textExpr, '\\s+', ' ', 'g'))), ' ')"""

  /** Cross-set exact-Jaccard oracle for the planted increment — shared
    * by dedup_incremental (recompute path) and dedup_signature_store
    * (stored-bands path): one contract, two execution strategies. */
  private lazy val incrementalOracleSql: String =
    s"""WITH n_t AS (
          SELECT doc_id + 20000 id, ${toksOf("concat(text, ' zzqx')")} toks
          FROM documents WHERE doc_id < 30),
        c_t AS (SELECT doc_id id, ${Pipeline.toksSql} toks FROM documents),
        n_sh AS (
          SELECT id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                           for i in generate_series(1, len(toks) - 2)])) s
          FROM n_t WHERE len(toks) >= 3),
        c_sh AS (
          SELECT id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                           for i in generate_series(1, len(toks) - 2)])) s
          FROM c_t WHERE len(toks) >= 3),
        n_sz AS (SELECT id, count(*) n FROM n_sh GROUP BY 1),
        c_sz AS (SELECT id, count(*) n FROM c_sh GROUP BY 1),
        p AS (
          SELECT a.id ni, b.id ci, count(*) c
          FROM n_sh a JOIN c_sh b ON a.s = b.s GROUP BY 1, 2)
        SELECT ni AS new_id, ci AS corpus_id,
          round(c::DOUBLE / (na.n + nb.n - c), 6) + 0.0 AS jac
        FROM p JOIN n_sz na ON na.id = p.ni JOIN c_sz nb ON nb.id = p.ci
        WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.5
        ORDER BY new_id, corpus_id"""

  /** DuckDB integer md5 draw in [0, 65536): first 4 hex chars of
    * md5(key) as a number (the Sampling membership convention). */
  private def md5DrawOf(keySql: String): String =
    (1 to 4).map { i =>
      s"(strpos('0123456789abcdef', substr(md5($keySql), $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
    }.mkString("(", " + ", ")")

  val oracle: Map[String, String] = Map(
    // The sketch estimates themselves are engine-specific; the oracle
    // recomputes the exact NDVs and asserts the bound checks hold
    // (literal TRUE) — Spark's side computes them for real, so a sketch
    // drifting outside its error bound flips a boolean and fails the
    // hash gate.
    "profile_sketch" ->
      """SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv_parts,
           TRUE AS ndv_orders_ok, TRUE AS ndv_parts_ok,
           TRUE AS p50_ok, TRUE AS p95_ok
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    // Exact distinct-intersection payload; the theta-within-bound
    // boolean is literal TRUE here and computed for real on the Spark
    // side.
    "profile_overlap" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                CAST(count(*) AS BIGINT) AS n_users_both,
                TRUE AS theta_ok
         FROM d a JOIN d b ON a.user_id = b.user_id
                          AND a.event_type < b.event_type
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // Exact-quantile payload (quantile_cont parity, like median_groups)
    // plus literal-TRUE rank-bound booleans the Spark side computes for
    // real against the KLL estimates.
    "profile_quantiles" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) + 0.0 AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.95), 6) + 0.0 AS p95_exact,
           TRUE AS kll_p50_ok, TRUE AS kll_p95_ok
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "dsir_select" ->
      s"""WITH t AS (SELECT doc_id, source, ${toksOf("text")} toks FROM documents),
          tok AS (SELECT doc_id, source, unnest(toks) t FROM t),
          craw AS (SELECT t, count(*) cr FROM tok GROUP BY 1),
          ctgt AS (SELECT t, count(*) ct FROM tok WHERE source = 'src0' GROUP BY 1),
          tot AS (SELECT CAST(sum(cr) AS DOUBLE) nraw,
                         CAST(count(*) AS DOUBLE) v FROM craw),
          ttot AS (SELECT CAST(sum(ct) AS DOUBLE) ntgt FROM ctgt),
          lam AS (SELECT craw.t,
                    ln((coalesce(ct, 0) + 1.0) / (ntgt + v)) -
                    ln((cr + 1.0) / (nraw + v)) lam
                  FROM craw LEFT JOIN ctgt USING (t)
                  CROSS JOIN tot CROSS JOIN ttot)
          SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_toks,
                 round(avg(lam), 6) + 0.0 AS dsir_score
          FROM tok JOIN lam USING (t)
          WHERE source != 'src0'
          GROUP BY 1, 2
          ORDER BY dsir_score DESC, doc_id LIMIT 50""",
    // Exact per-lang probe counts; the merged-sketch hard-bound
    // boolean is literal TRUE here and computed for real Spark-side.
    "profile_freq" ->
      """SELECT lang,
           CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_src0,
           TRUE AS freq_ok
         FROM documents GROUP BY 1 ORDER BY 1""",
    // Exact top-20 token payload; the sketch-within-hard-bound boolean
    // is literal TRUE here and computed for real on the Spark side.
    "heavy_hitters" ->
      s"""WITH t AS (SELECT ${toksOf("text")} toks FROM documents),
            tok AS (SELECT unnest(toks) tok FROM t)
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt, TRUE AS freq_ok
          FROM tok GROUP BY 1
          ORDER BY cnt DESC, tok LIMIT 20""",
    "funnel_steps" ->
      """WITH a AS (SELECT user_id, ts, event_type,
                      min(CASE WHEN event_type = 'signup' THEN ts END)
                        OVER (PARTITION BY user_id) AS t1
                    FROM events),
         b AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                                   AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
                           OVER (PARTITION BY user_id) AS t2 FROM a),
         c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                                   AND ts <= t2 + INTERVAL 24 HOUR THEN ts END)
                           OVER (PARTITION BY user_id) AS t3 FROM b),
         u AS (SELECT DISTINCT user_id, t1, t2, t3 FROM c),
         agg AS (SELECT
                   CAST(count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS BIGINT) AS n1,
                   CAST(count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS BIGINT) AS n2,
                   CAST(count(CASE WHEN t3 IS NOT NULL THEN 1 END) AS BIGINT) AS n3
                 FROM u)
         SELECT * FROM (
           SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type, n1 AS n_users FROM agg
           UNION ALL SELECT 2, 'click', n2 FROM agg
           UNION ALL SELECT 3, 'purchase', n3 FROM agg)
         ORDER BY step""",
    "graph_triangles" ->
      s"""WITH pr AS (${Pipeline.nearPairsSql}),
          tri AS (SELECT e1.i AS a, e1.j AS b, e2.j AS c
                  FROM pr e1
                  JOIN pr e2 ON e1.j = e2.i
                  JOIN pr e3 ON e3.i = e1.i AND e3.j = e2.j),
          m AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
          FROM m GROUP BY doc_id ORDER BY doc_id""",
    "bm25_search" ->
      """WITH toks AS (SELECT doc_id,
                         unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) t
                       FROM documents),
         tk AS (SELECT * FROM toks WHERE t <> ''),
         dlen AS (SELECT doc_id, CAST(count(*) AS DOUBLE) dl FROM tk GROUP BY doc_id),
         stats AS (SELECT CAST(count(*) AS DOUBLE) n, avg(dl) avgdl FROM dlen),
         tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) tf FROM tk
                WHERE t IN ('dup', 'join', 'vector') GROUP BY doc_id, t),
         dft AS (SELECT t, CAST(count(*) AS DOUBLE) dfreq FROM tf GROUP BY t),
         w AS (SELECT tf.doc_id, tf.t,
                 round(ln((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6) *
                   tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
               FROM tf JOIN dft USING (t) JOIN dlen USING (doc_id) CROSS JOIN stats)
         SELECT doc_id,
           round(coalesce(sum(CASE WHEN t = 'dup' THEN w END), 0) +
                 coalesce(sum(CASE WHEN t = 'join' THEN w END), 0) +
                 coalesce(sum(CASE WHEN t = 'vector' THEN w END), 0), 6) + 0.0 AS bm25
         FROM w GROUP BY doc_id ORDER BY bm25 DESC, doc_id""",
    // both arms rebuilt verbatim (bm25 CTE shared with bm25_search's
    // oracle; cosine arm via list_dot_product), fused with the same
    // exact-IEEE 1/(60+rank) sums
    "hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id,
                         unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) t
                       FROM documents),
         tk AS (SELECT * FROM toks WHERE t <> ''),
         dlen AS (SELECT doc_id, CAST(count(*) AS DOUBLE) dl FROM tk GROUP BY doc_id),
         stats AS (SELECT CAST(count(*) AS DOUBLE) n, avg(dl) avgdl FROM dlen),
         tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) tf FROM tk
                WHERE t IN ('dup', 'join', 'vector') GROUP BY doc_id, t),
         dft AS (SELECT t, CAST(count(*) AS DOUBLE) dfreq FROM tf GROUP BY t),
         w AS (SELECT tf.doc_id, tf.t,
                 round(ln((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6) *
                   tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
               FROM tf JOIN dft USING (t) JOIN dlen USING (doc_id) CROSS JOIN stats),
         bm AS (SELECT doc_id,
                  round(coalesce(sum(CASE WHEN t = 'dup' THEN w END), 0) +
                        coalesce(sum(CASE WHEN t = 'join' THEN w END), 0) +
                        coalesce(sum(CASE WHEN t = 'vector' THEN w END), 0), 6) + 0.0 AS bm25
                FROM w GROUP BY doc_id),
         lex AS (SELECT doc_id, rb FROM (
                   SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) rb
                   FROM bm) WHERE rb <= 100),
         e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         p AS (SELECT v pv FROM e WHERE vec_id = 0),
         sem AS (SELECT doc_id, rc FROM (
                   SELECT e.vec_id doc_id,
                     row_number() OVER (ORDER BY
                       round(list_dot_product(e.v, p.pv) /
                             (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) DESC,
                       e.vec_id) rc
                   FROM e CROSS JOIN p WHERE e.vec_id <> 0) WHERE rc <= 100)
         SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
           round(coalesce(1.0 / (60.0 + rb), 0.0) +
                 coalesce(1.0 / (60.0 + rc), 0.0), 6) + 0.0 AS rrf,
           CAST(coalesce(rb, 0) AS INT) AS bm25_rank,
           CAST(coalesce(rc, 0) AS INT) AS cos_rank
         FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20""",
    "url_domains" ->
      """WITH a AS (SELECT doc_id,
                      text || ' see https://site-' || CAST(doc_id % 7 AS VARCHAR) ||
                        '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
                        ' and http://ref-' || CAST(doc_id % 13 AS VARCHAR) || '.org/q?x=1' AS t
                    FROM documents),
         u AS (SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[^\s]+')) url FROM a),
         d AS (SELECT doc_id, regexp_extract(url, '^https?://([^/]+)', 1) AS domain FROM u)
         SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM d GROUP BY domain ORDER BY domain""",
    // url_canonical: every rule is a plain RE2-safe string op, so the
    // oracle applies the IDENTICAL regexes (DuckDB backrefs are \1
    // where Spark's are $1 — same automaton, different escape)
    "url_canonical" ->
      """WITH r AS (
           SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/Page/' || CAST(doc_id % 50 AS VARCHAR) || '?utm_source=feed&b=2&a=1#frag'
               WHEN 1 THEN 'https://www.example.com/Page/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2'
               WHEN 2 THEN 'http://Blog.Example.ORG:80/post/' || CAST(doc_id % 50 AS VARCHAR) || '?utm_campaign=x'
               ELSE 'http://blog.example.org/post/' || CAST(doc_id % 50 AS VARCHAR) || '#top' END AS url
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') nf FROM r),
         s2 AS (SELECT doc_id, regexp_replace(nf, '\?.*$', '') base,
                  coalesce(regexp_extract(nf, '\?(.*)$', 1), '') q FROM s1),
         s3 AS (SELECT doc_id, q,
                  lower(regexp_extract(base, '^([^/]*//[^/]*)', 1)) ||
                    regexp_replace(base, '^[^/]*//[^/]*', '') low FROM s2),
         s4 AS (SELECT doc_id, q,
                  regexp_replace(regexp_replace(low,
                    '^(https://[^/:]*):443(/|$)', '\1\2'),
                    '^(http://[^/:]*):80(/|$)', '\1\2') np FROM s3),
         s5 AS (SELECT doc_id, np,
                  array_to_string(list_sort(list_filter(string_split(q, '&'),
                    p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') ps FROM s4),
         c AS (SELECT doc_id,
                 np || CASE WHEN ps <> '' THEN '?' || ps ELSE '' END AS canonical_url
               FROM s5)
         SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
           min(doc_id) AS min_doc
         FROM c GROUP BY 1 ORDER BY 1""",
    // crawl_frontier: the full four-stage replay — planted mirrors,
    // the url_canonical regex chain, keep-first per canonical,
    // per-domain length cap, normalized-fingerprint keep-first
    "crawl_frontier" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, concat('  ', upper(text), '   ')
           FROM documents WHERE doc_id < 100),
         r AS (SELECT doc_id, text,
                 CASE WHEN doc_id % 2 = 0
                   THEN 'HTTPS://Site-' || CAST(doc_id % 17 AS VARCHAR) ||
                        '.Example.COM:443/p/' || CAST(doc_id % 100 AS VARCHAR) ||
                        '?utm_source=crawl&x=1#sec'
                   ELSE 'https://site-' || CAST(doc_id % 17 AS VARCHAR) ||
                        '.example.com/p/' || CAST(doc_id % 100 AS VARCHAR) || '?x=1'
                 END AS url
               FROM all_docs),
         s1 AS (SELECT doc_id, text, regexp_replace(url, '#.*$', '') nf FROM r),
         s2 AS (SELECT doc_id, text, regexp_replace(nf, '\?.*$', '') base,
                  coalesce(regexp_extract(nf, '\?(.*)$', 1), '') q FROM s1),
         s3 AS (SELECT doc_id, text, q,
                  lower(regexp_extract(base, '^([^/]*//[^/]*)', 1)) ||
                    regexp_replace(base, '^[^/]*//[^/]*', '') low FROM s2),
         s4 AS (SELECT doc_id, text, q,
                  regexp_replace(regexp_replace(low,
                    '^(https://[^/:]*):443(/|$)', '\1\2'),
                    '^(http://[^/:]*):80(/|$)', '\1\2') np FROM s3),
         s5 AS (SELECT doc_id, text, np,
                  array_to_string(list_sort(list_filter(string_split(q, '&'),
                    p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') ps FROM s4),
         c AS (SELECT doc_id, text,
                 np || CASE WHEN ps <> '' THEN '?' || ps ELSE '' END AS canonical_url
               FROM s5),
         u AS (SELECT doc_id, text, canonical_url,
                 count(*) OVER (PARTITION BY canonical_url) AS n_raw,
                 row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) AS ru
               FROM c),
         k AS (SELECT doc_id, text, canonical_url, n_raw,
                 regexp_extract(canonical_url, '^https://([^/]+)', 1) AS domain
               FROM u WHERE ru = 1),
         d AS (SELECT *, row_number() OVER (PARTITION BY domain
                 ORDER BY length(text) DESC, doc_id) AS rn FROM k),
         e AS (SELECT * FROM d WHERE rn <= 40),
         f AS (SELECT *, row_number() OVER (PARTITION BY
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                 ORDER BY doc_id) AS rf FROM e)
         SELECT domain, CAST(rn AS INTEGER) AS rn, doc_id, canonical_url,
           CAST(n_raw AS BIGINT) AS n_raw
         FROM f WHERE rf = 1 ORDER BY domain, rn""",
    // corpus_datasheet: the same wide aggregate + entropy-term anchor
    // Exact merged payload (counts merge exactly by associativity);
    // the sketch-merge estimates are engine-specific, so the oracle
    // emits literal TRUE for the bound booleans — Spark computes them
    // for real, and a merge regression flips one and hash-mismatches.
    "corpus_datasheet_merged" ->
      s"""WITH t AS (SELECT doc_id, lang, source, n_chars,
                      ${Pipeline.toksSql} AS toks, text
                    FROM documents)
         SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_shards,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN len(toks) >= 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ge64,
           CAST(count(DISTINCT md5(lower(trim(
             regexp_replace(text, '\\s+', ' ', 'g'))))) AS BIGINT)
             AS n_unique_fp,
           TRUE AS lang_ndv_ok, TRUE AS fp_ndv_ok, TRUE AS kll_p50_ok
         FROM t""",
    "corpus_datasheet" ->
      s"""WITH t AS (SELECT doc_id, lang, source, n_chars,
                      ${Pipeline.toksSql} AS toks, text
                    FROM documents),
          base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
              CAST(sum(CASE WHEN len(toks) >= 64 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_ge,
              quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
              CAST(count(DISTINCT md5(lower(trim(
                regexp_replace(text, '\\s+', ' ', 'g'))))) AS BIGINT)
                AS n_unique_fp
            FROM t),
          lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
          n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
          terms AS (SELECT CAST(round(round(-(c / n) * ln(c / n), 6) * 1000000)
                      AS BIGINT) AS t6
                    FROM lc CROSS JOIN n1),
          ent AS (SELECT round(sum(t6) / 1000000.0, 6) + 0.0 AS lang_entropy
                  FROM terms)
          SELECT n_docs, n_langs, n_sources, total_chars, total_tokens,
            round(CAST(total_tokens AS DOUBLE) / n_docs, 6) + 0.0
              AS mean_doc_tokens,
            round(p50, 2) + 0.0 AS p50_chars,
            round(CAST(n_ge AS DOUBLE) / n_docs, 6) + 0.0 AS pct_ge_64_toks,
            n_unique_fp, lang_entropy
          FROM base CROSS JOIN ent""",
    // corpus_datasheet_sketch: exact payload recomputed closed-form;
    // the sketch-within-bound booleans are literal TRUE here and
    // computed for real on the Spark side (profile_sketch pattern)
    "corpus_datasheet_sketch" ->
      s"""WITH t AS (SELECT lang, source, n_chars,
                      ${Pipeline.toksSql} AS toks,
                      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                        AS fp
                    FROM documents)
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
            CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
            CAST(sum(n_chars) AS BIGINT) AS total_chars,
            CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
            round(CAST(sum(len(toks)) AS DOUBLE) / count(*), 6) + 0.0
              AS mean_doc_tokens,
            round(CAST(sum(CASE WHEN len(toks) >= 64 THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*), 6) + 0.0 AS pct_ge_64_toks,
            CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_fp,
            TRUE AS lang_ndv_ok, TRUE AS source_ndv_ok, TRUE AS fp_ndv_ok,
            TRUE AS kll_p50_ok
          FROM t""",
    // domain_blocklist: identical planting, tokenizer and
    // integer-scaled mean; blocked recomputed from the same rounded mean
    "domain_blocklist" ->
      """WITH t AS (
           SELECT doc_id % 17 AS dom,
             CASE WHEN doc_id % 17 IN (3, 11)
                  THEN text || repeat(' lowq', 30) ELSE text END AS tx
           FROM documents),
         w AS (SELECT dom,
                 string_split(lower(trim(regexp_replace(tx, '\s+', ' ', 'g'))), ' ') toks
               FROM t),
         f AS (SELECT 'site-' || CAST(dom AS VARCHAR) || '.example.com' AS domain,
                 CAST(round(CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) * 1000000) AS BIGINT) AS ttr6
               FROM w WHERE len(toks) > 0)
         SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(ttr6) / 1000000.0 / count(*), 6) + 0.0 AS avg_ttr,
           count(*) >= 20 AND round(sum(ttr6) / 1000000.0 / count(*), 6) < 0.4
             AS blocked
         FROM f GROUP BY 1 ORDER BY 1""",
    "split_assign" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                     ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY 1 ORDER BY 1""",
    "time_densify" ->
      """WITH e AS (
           SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) h, value
           FROM events),
         span AS (SELECT user_id, min(h) h0, max(h) h1 FROM e GROUP BY 1),
         grid AS (
           SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) h
           FROM span),
         hourly AS (
           SELECT user_id, h, count(*) n, round(sum(value), 2) sum_value
           FROM e GROUP BY 1, 2)
         SELECT g.user_id,
           strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
           coalesce(n, 0) AS n, coalesce(sum_value, 0.0) AS sum_value
         FROM grid g LEFT JOIN hourly USING (user_id, h)
         ORDER BY g.user_id, hour""",
    "rolling_features" ->
      """WITH e AS (
           SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) h, value
           FROM events),
         span AS (SELECT user_id, min(h) h0, max(h) h1 FROM e GROUP BY 1),
         grid AS (
           SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) h
           FROM span),
         hourly AS (
           SELECT user_id, h, round(sum(value), 2) v FROM e GROUP BY 1, 2),
         dense AS (
           SELECT g.user_id, g.h, coalesce(v, 0.0) v
           FROM grid g LEFT JOIN hourly USING (user_id, h))
         SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, v,
           round(avg(v) OVER w, 6) + 0.0 AS avg_3h,
           round(max(v) OVER w, 2) + 0.0 AS max_3h
         FROM dense
         WINDOW w AS (PARTITION BY user_id ORDER BY h
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, hour""",
    "sample_stratified" ->
      """SELECT doc_id, lang, source, n_chars
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
           CASE WHEN lang = 'en' THEN '4000' ELSE 'c000' END
         ORDER BY doc_id""",
    "dedup_keep_best" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, concat('  ', upper(text), '   ')
           FROM documents WHERE doc_id < 100
         ),
         fps AS (
           SELECT doc_id, text, length(text) AS quality,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) fp
           FROM all_docs),
         ranked AS (
           SELECT fp, doc_id, quality,
             count(*) OVER (PARTITION BY fp) AS n_copies,
             row_number() OVER (PARTITION BY fp
                                ORDER BY quality DESC, doc_id ASC) AS rn
           FROM fps)
         SELECT fp, doc_id, CAST(quality AS INT) AS quality, n_copies
         FROM ranked WHERE rn = 1 AND n_copies > 1 ORDER BY fp""",
    "dedup_incremental" -> incrementalOracleSql,
    // identical contract through the stored-signature path: one oracle
    // pins both execution strategies
    "dedup_signature_store" -> incrementalOracleSql,
    "zscore_norm" ->
      """WITH st AS (
           SELECT l_returnflag, round(avg(l_quantity), 6) mu,
             round(stddev_samp(l_quantity), 6) sd
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l_extendedprice, l.l_returnflag,
           round((l_quantity - mu) / sd, 6) + 0.0 AS z
         FROM lineitem l JOIN st USING (l_returnflag)
         ORDER BY l_orderkey, l_linenumber, l_extendedprice""",
    "dedup_clusters" ->
      s"""WITH RECURSIVE pr AS (${Pipeline.nearPairsSql}),
          edges AS (SELECT i u, j v FROM pr UNION SELECT j, i FROM pr),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          SELECT u AS doc_id, least(u, min(v)) AS cluster
          FROM reach GROUP BY u ORDER BY doc_id""",
    "cluster_keep_best" ->
      s"""WITH RECURSIVE pr AS (${Pipeline.nearPairsSql}),
          edges AS (SELECT i u, j v FROM pr UNION SELECT j, i FROM pr),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          lab AS (SELECT u, least(u, min(v)) AS cluster FROM reach GROUP BY u),
          keyed AS (
            SELECT coalesce(l.cluster, d.doc_id) AS cluster, d.doc_id, d.n_chars
            FROM documents d LEFT JOIN lab l ON d.doc_id = l.u),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY cluster
                        ORDER BY n_chars DESC, doc_id) AS rk
            FROM keyed)
          SELECT cluster, doc_id, n_chars FROM ranked WHERE rk = 1
          ORDER BY cluster""",
    "dedup_clusters_star" ->
      s"""WITH RECURSIVE pr AS (${Pipeline.nearPairsSql}),
          edges AS (SELECT i u, j v FROM pr UNION SELECT j, i FROM pr),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          SELECT u AS doc_id, least(u, min(v)) AS cluster
          FROM reach GROUP BY u ORDER BY doc_id""",
    "sessionize_batch" ->
      """WITH e AS (
           SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value FROM events),
         m AS (
           SELECT *, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END ns
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) sn
           FROM m)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events, round(sum(value), 2) + 0.0 AS sum_value
         FROM s GROUP BY user_id, sn ORDER BY user_id, session_start""",
    "funnel_pairs" ->
      """WITH e AS (
           SELECT event_id, CAST(ts AS TIMESTAMP) ts, user_id, event_type FROM events),
         a AS (SELECT user_id, event_id a_id, ts a_ts FROM e WHERE event_type = 'view'),
         b AS (SELECT user_id, event_id b_id, ts b_ts FROM e WHERE event_type = 'purchase')
         SELECT a.user_id, a_id,
           strftime(a_ts, '%Y-%m-%d %H:%M:%S') AS a_ts,
           b_id,
           strftime(b_ts, '%Y-%m-%d %H:%M:%S') AS b_ts
         FROM a JOIN b ON a.user_id = b.user_id
           AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 30 MINUTE
         ORDER BY a_id, b_id""",
    "sample_hash" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) + 0.0 AS o_totalprice
         FROM orders
         WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '1999'
         ORDER BY o_orderkey""",
    "knn_batch" ->
      """WITH p AS (SELECT vec_id probe_id, embedding::DOUBLE[] pv
                    FROM embeddings WHERE vec_id < 5),
         c AS (
           SELECT probe_id, vec_id,
             round(list_dot_product(e, pv) /
                   (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(pv, pv))), 6) cos
           FROM (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings)
           CROSS JOIN p WHERE vec_id <> probe_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                            ORDER BY cos DESC, vec_id) rk FROM c)
         SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 3
         ORDER BY probe_id, rk""",
    "tfidf_terms" ->
      s"""WITH t AS (
            SELECT doc_id, unnest(${Pipeline.toksSql}) term FROM documents),
          tf AS (SELECT doc_id, term, count(*) tf FROM t GROUP BY 1, 2),
          dft AS (SELECT term, count(*) df
                  FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
          n AS (SELECT count(*) n_docs FROM documents),
          sc AS (
            SELECT doc_id, tf.term, tf, df,
              round(tf * ln(n_docs::DOUBLE / df), 6) score
            FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                             ORDER BY score DESC, term) rk FROM sc)
          SELECT doc_id, rk, term, CAST(tf AS BIGINT) AS tf,
            CAST(df AS BIGINT) AS df, score
          FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    "winsorize" ->
      """WITH s AS (SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) p05raw,
             quantile_cont(l_extendedprice, 0.95) p95raw
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag,
           round(p05raw, 6) + 0.0 AS p05, round(p95raw, 6) + 0.0 AS p95,
           round(avg(least(greatest(l_extendedprice, p05raw), p95raw)), 6) + 0.0 AS avg_wins,
           round(stddev_samp(least(greatest(l_extendedprice, p05raw), p95raw)), 6) + 0.0 AS sd_wins
         FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
         GROUP BY 1, p05raw, p95raw ORDER BY 1""",
    "mad_stats" ->
      """WITH med AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) m
                      FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, round(any_value(m), 6) + 0.0 AS med,
           round(quantile_cont(abs(l_quantity - m), 0.5), 6) + 0.0 AS mad
         FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
         GROUP BY 1 ORDER BY 1""",
    "agg_salted" ->
      """SELECT l_returnflag, count(*) AS n,
           round(sum(l_quantity), 2) + 0.0 AS sum_qty,
           round(avg(l_quantity), 6) + 0.0 AS avg_qty
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "corr_stats" ->
      """SELECT l_returnflag, count(*) AS n,
           round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS qty_price_covar,
           round(covar_pop(l_discount, l_tax), 6) + 0.0 AS disc_tax_covar_pop,
           round(stddev_samp(l_quantity), 6) + 0.0 AS qty_stddev
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "boilerplate_ngrams" ->
      """WITH a AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' subscribe to our newsletter for updates'
                  WHEN doc_id % 7 = 1 THEN text || ' all rights reserved terms of service apply'
                  ELSE text END AS t
           FROM documents),
         s AS (SELECT doc_id, string_split(t, ' ') AS w FROM a),
         f AS (SELECT * FROM s WHERE len(w) >= 5),
         ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM f),
         g AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram FROM ix)
         SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
         FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 5
         ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 20""",
    "lang_id" ->
      """WITH ix AS (SELECT doc_id, lang, text,
             unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i
           FROM documents),
         tri AS (SELECT doc_id, lang, substr(text, i, 3) AS g FROM ix
                 WHERE length(substr(text, i, 3)) = 3),
         prof AS (SELECT lang AS plang, g, count(*) AS c FROM tri GROUP BY 1, 2),
         top AS (SELECT plang, g FROM (
                   SELECT plang, g,
                     row_number() OVER (PARTITION BY plang ORDER BY c DESC, g) AS rk
                   FROM prof) WHERE rk <= 20),
         hits AS (SELECT t.doc_id, t.lang, p.plang, count(*) AS hits
                  FROM tri t JOIN top p ON t.g = p.g GROUP BY 1, 2, 3),
         pred AS (SELECT doc_id, lang, plang FROM (
                    SELECT *,
                      row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rk
                    FROM hits) WHERE rk = 1)
         SELECT lang, plang AS predicted, CAST(count(*) AS BIGINT) AS n_docs
         FROM pred GROUP BY 1, 2 ORDER BY 1, 2""",
    "term_drift" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         tk AS (SELECT * FROM tok WHERE w <> ''),
         corpus AS (SELECT w, count(*) AS cw FROM tk GROUP BY 1),
         tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS t FROM corpus),
         bysrc AS (SELECT source, w, count(*) AS cs FROM tk GROUP BY 1, 2),
         srctot AS (SELECT source, CAST(sum(cs) AS DOUBLE) AS ts FROM bysrc GROUP BY 1)
         SELECT b.source, CAST(count(*) AS BIGINT) AS n_terms,
           round(sum((b.cs / s.ts) * ln((b.cs / s.ts) / (c.cw / t.t))), 6) + 0.0 AS kl
         FROM bysrc b JOIN srctot s ON b.source = s.source
           JOIN corpus c ON b.w = c.w, tot t
         GROUP BY 1 ORDER BY 1""",
    "dedup_attrition" ->
      s"""WITH RECURSIVE pr AS (${Pipeline.nearPairsSql}),
          edges AS (SELECT i u, j v FROM pr UNION SELECT j, i FROM pr),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          lab AS (SELECT u, least(u, min(v)) AS cluster FROM reach GROUP BY u),
          keyed AS (
            SELECT l.cluster, d.doc_id, d.source, d.n_chars
            FROM documents d JOIN lab l ON d.doc_id = l.u),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY cluster
                        ORDER BY n_chars DESC, doc_id) AS rk
            FROM keyed),
          winners AS (SELECT cluster, source AS kept_source FROM ranked WHERE rk = 1)
          SELECT r.source AS lost_source, w.kept_source,
            CAST(count(*) AS BIGINT) AS n_docs_lost
          FROM ranked r JOIN winners w ON r.cluster = w.cluster
          WHERE r.rk > 1
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "split_cluster_safe" ->
      s"""WITH RECURSIVE pr AS (${Pipeline.nearPairsSql}),
          edges AS (SELECT i u, j v FROM pr UNION SELECT j, i FROM pr),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          lab AS (SELECT u, least(u, min(v)) AS cluster FROM reach GROUP BY u),
          keyed AS (
            SELECT d.doc_id, d.n_chars,
              coalesce(l.cluster, d.doc_id) AS cluster
            FROM documents d LEFT JOIN lab l ON d.doc_id = l.u),
          sp AS (
            SELECT doc_id, n_chars,
              CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                   WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                   ELSE 'test' END AS split
            FROM keyed),
          cross_pairs AS (
            SELECT CAST(count(*) AS BIGINT) AS leaked_pairs
            FROM pr JOIN sp a ON pr.i = a.doc_id JOIN sp b ON pr.j = b.doc_id
            WHERE a.split <> b.split)
          SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS total_chars, leaked_pairs
          FROM sp CROSS JOIN cross_pairs
          GROUP BY split, leaked_pairs ORDER BY split""",
    // The full composed pipeline, stage by stage: mix rates with the
    // engineered op order (6-dp pow, ordered prefix-sum fold, 6-dp
    // rate, integer threshold), exact 3-gram Jaccard pairs over the
    // MIXED subset only, drop every pair's j, DSIR log-ratios fit on
    // the survivors, salted split hash, two-stage 6-dp rounding of the
    // score aggregate exactly as the Spark side rounds.
    "curation_pipeline_v2" ->
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                     FROM documents GROUP BY 1),
          w AS (SELECT source, n, round(pow(n, 0.7), 6) + 0.0 AS w FROM c),
          tt AS (SELECT max(ps) AS sumw, max(nn) AS nn FROM
                  (SELECT sum(w) OVER (ORDER BY source) AS ps,
                          sum(n) OVER (ORDER BY source) AS nn FROM w)),
          r AS (SELECT source,
                  round(least(1.0, 0.3 * nn * w / sumw / n), 6) + 0.0 AS rate
                FROM w CROSS JOIN tt),
          mixed AS (
            SELECT d.doc_id, d.source, d.text
            FROM documents d JOIN r ON d.source = r.source
            WHERE ${md5DrawOf("CAST(d.doc_id AS VARCHAR)")} <
                  CAST(floor(rate * 65536.0) AS BIGINT)),
          mt AS (SELECT doc_id, source, ${Pipeline.toksSql} toks FROM mixed),
          msh AS (SELECT doc_id,
                    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                          for i in generate_series(1, len(toks) - 2)])) s
                  FROM mt WHERE len(toks) >= 3),
          msizes AS (SELECT doc_id, count(*) n FROM msh GROUP BY 1),
          mpairs AS (SELECT a.doc_id i, b.doc_id j, count(*) c
                     FROM msh a JOIN msh b ON a.s = b.s AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
          dropped AS (
            SELECT DISTINCT j FROM mpairs
            JOIN msizes na ON na.doc_id = mpairs.i
            JOIN msizes nb ON nb.doc_id = mpairs.j
            WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.5),
          ktok AS (SELECT doc_id, source, unnest(toks) t FROM mt
                   WHERE doc_id NOT IN (SELECT j FROM dropped)),
          craw AS (SELECT t, count(*) cr FROM ktok GROUP BY 1),
          ctgt AS (SELECT t, count(*) ct FROM ktok
                   WHERE source = 'src0' GROUP BY 1),
          tot AS (SELECT CAST(sum(cr) AS DOUBLE) nraw,
                         CAST(count(*) AS DOUBLE) v FROM craw),
          ttot AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) ntgt FROM ctgt),
          lam AS (SELECT craw.t,
                    CAST(round((ln((coalesce(ct, 0) + 1.0) / (ntgt + v)) -
                                ln((cr + 1.0) / (nraw + v))) * 1000000.0)
                         AS BIGINT) AS lam_i
                  FROM craw LEFT JOIN ctgt ON craw.t = ctgt.t
                  CROSS JOIN tot CROSS JOIN ttot),
          scored AS (SELECT doc_id, source, count(*) n_toks,
                       round(CAST(sum(lam_i) AS DOUBLE) / 1000000.0
                             / count(*), 6) + 0.0 AS dsir
                     FROM ktok JOIN lam ON ktok.t = lam.t GROUP BY 1, 2),
          sp AS (SELECT *,
                   CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                        WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                        ELSE 'test' END AS split
                 FROM scored)
          SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_toks,
            round(CAST(sum(CAST(round(dsir * 1000000.0) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 / count(*), 6) + 0.0 AS avg_dsir,
            min(doc_id) AS min_doc
          FROM sp GROUP BY 1, 2 ORDER BY 1, 2""",
    "curation_pipeline_v3" ->
      s"""WITH ${Pipeline.spanRewriteCte},
          v3b AS (
            SELECT r.doc_id, d.lang, r.n_dropped, r.kept_text,
                   string_split(lower(trim(regexp_replace(r.kept_text, '\\s+', ' ', 'g'))), ' ') AS toks
            FROM rewritten r JOIN documents d ON r.doc_id = d.doc_id
            WHERE r.kept_text <> ''),
          v3f AS (
            SELECT doc_id, lang, n_dropped, kept_text,
              CAST(len(toks) AS DOUBLE) / 60.0 AS x1,
              CAST(len(list_distinct(toks)) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) AS x2,
              CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
              CAST(len(toks) AS BIGINT) AS ntoks
            FROM v3b),
          v3w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS b),
          v3g1 AS (SELECT
              round(avg(x1 * (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS d1,
              round(avg(x2 * (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS d2,
              round(avg(     (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS db
            FROM v3f CROSS JOIN v3w0),
          v3w1 AS (SELECT v3w0.w1 - v3g1.d1 AS w1, v3w0.w2 - v3g1.d2 AS w2,
                          v3w0.b - v3g1.db AS b FROM v3w0 CROSS JOIN v3g1),
          v3g2 AS (SELECT
              round(avg(x1 * (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS d1,
              round(avg(x2 * (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS d2,
              round(avg(     (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS db
            FROM v3f CROSS JOIN v3w1),
          v3w2 AS (SELECT v3w1.w1 - v3g2.d1 AS w1, v3w1.w2 - v3g2.d2 AS w2,
                          v3w1.b - v3g2.db AS b FROM v3w1 CROSS JOIN v3g2),
          v3g3 AS (SELECT
              round(avg(x1 * (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS d1,
              round(avg(x2 * (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS d2,
              round(avg(     (1.0/(1.0+exp(-(x1*w1 + x2*w2 + b))) - y)), 6) + 0.0 AS db
            FROM v3f CROSS JOIN v3w2),
          v3w3 AS (SELECT v3w2.w1 - v3g3.d1 AS w1, v3w2.w2 - v3g3.d2 AS w2,
                          v3w2.b - v3g3.db AS b FROM v3w2 CROSS JOIN v3g3),
          v3zb AS (SELECT round(sum(CAST(round((x1*w1 + x2*w2 + b) * 1e6) AS BIGINT)) / 1e6 / count(*), 6) + 0.0 AS zb
                   FROM v3f CROSS JOIN v3w3),
          v3gated AS (
            SELECT v3f.*, x1*w1 + x2*w2 + b AS margin
            FROM v3f CROSS JOIN v3w3 CROSS JOIN v3zb
            WHERE x1*w1 + x2*w2 + b >= zb),
          v3dd AS (SELECT *, row_number() OVER (PARTITION BY md5(kept_text)
                                                ORDER BY doc_id) AS rk
                   FROM v3gated),
          v3sp AS (SELECT *,
                     CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                          WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                          ELSE 'test' END AS split
                   FROM v3dd WHERE rk = 1)
          SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(ntoks) AS BIGINT) AS n_toks,
            CAST(sum(n_dropped) AS BIGINT) AS n_spans_dropped,
            round(sum(CAST(round(margin * 1e6) AS BIGINT)) / 1e6 / count(*), 6) + 0.0 AS avg_margin
          FROM v3sp GROUP BY 1, 2 ORDER BY 1, 2""",
    "pmi_bigrams" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         f AS (SELECT * FROM s WHERE len(w) >= 2),
         ix AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM f),
         bi AS (SELECT w[i] AS a, w[i + 1] AS b, count(*) AS cab FROM ix GROUP BY 1, 2),
         n AS (SELECT CAST(sum(cab) AS DOUBLE) AS nb FROM bi),
         tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         uni AS (SELECT t, count(*) AS ct FROM tok WHERE t <> '' GROUP BY 1)
         SELECT bi.a, bi.b, CAST(bi.cab AS BIGINT) AS n_pair,
           round(ln(bi.cab * n.nb / (ua.ct * ub.ct)), 6) + 0.0 AS pmi
         FROM bi JOIN uni ua ON bi.a = ua.t JOIN uni ub ON bi.b = ub.t, n
         WHERE bi.cab >= 10
         ORDER BY pmi DESC, bi.a, bi.b LIMIT 20""",
    // curation_pipeline_v4: the full web-crawl replay — planted
    // recrawls, the url_canonical regex chain, keep-first per
    // canonical, the closed-form planted-page blocks, block keep-first,
    // integer token budget, md5 split, rollup. No floating point.
    "curation_pipeline_v4" ->
      """WITH r0 AS (
           SELECT doc_id, text,
             CASE WHEN doc_id % 2 = 0
               THEN 'HTTPS://Site-' || CAST(doc_id % 17 AS VARCHAR) ||
                    '.Example.COM:443/p/' || CAST(doc_id AS VARCHAR) ||
                    '?utm_source=crawl&x=1#sec'
               ELSE 'https://site-' || CAST(doc_id % 17 AS VARCHAR) ||
                    '.example.com/p/' || CAST(doc_id AS VARCHAR) || '?x=1'
             END AS url
           FROM documents),
         rec AS (
           SELECT doc_id + 1000000 AS doc_id, text, url FROM (
             SELECT doc_id, text,
               CASE WHEN doc_id % 2 = 0
                 THEN 'https://site-' || CAST(doc_id % 17 AS VARCHAR) ||
                      '.example.com/p/' || CAST(doc_id AS VARCHAR) || '?x=1'
                 ELSE 'HTTPS://Site-' || CAST(doc_id % 17 AS VARCHAR) ||
                      '.Example.COM:443/p/' || CAST(doc_id AS VARCHAR) ||
                      '?utm_source=crawl&x=1#sec'
               END AS url
             FROM documents WHERE doc_id % 10 = 0)),
         r AS (SELECT * FROM r0 UNION ALL SELECT * FROM rec),
         s1 AS (SELECT doc_id, text, regexp_replace(url, '#.*$', '') nf FROM r),
         s2 AS (SELECT doc_id, text, regexp_replace(nf, '\?.*$', '') base,
                  coalesce(regexp_extract(nf, '\?(.*)$', 1), '') q FROM s1),
         s3 AS (SELECT doc_id, text, q,
                  lower(regexp_extract(base, '^([^/]*//[^/]*)', 1)) ||
                    regexp_replace(base, '^[^/]*//[^/]*', '') low FROM s2),
         s4 AS (SELECT doc_id, text, q,
                  regexp_replace(regexp_replace(low,
                    '^(https://[^/:]*):443(/|$)', '\1\2'),
                    '^(http://[^/:]*):80(/|$)', '\1\2') np FROM s3),
         s5 AS (SELECT doc_id, text, np,
                  array_to_string(list_sort(list_filter(string_split(q, '&'),
                    p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') ps FROM s4),
         c AS (SELECT doc_id, text,
                 np || CASE WHEN ps <> '' THEN '?' || ps ELSE '' END AS canonical_url
               FROM s5),
         u AS (SELECT doc_id, text, canonical_url,
                 row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) ru
               FROM c),
         fr AS (SELECT doc_id, text,
                  regexp_extract(canonical_url, '^https://([^/]+)', 1) AS domain
                FROM u WHERE ru = 1),
         w AS (SELECT doc_id, string_split(text, ' ') AS w FROM fr),
         hb AS (
           SELECT doc_id, CAST(0 AS INT) AS block_no,
             'Doc ' || CAST(doc_id AS VARCHAR) AS block FROM w
           UNION ALL SELECT doc_id, CAST(1 AS INT),
             array_to_string(w[1:3], ' ') FROM w
           UNION ALL SELECT doc_id, CAST(2 AS INT),
             array_to_string(w[1:20], ' ') || ' & more!' FROM w
           UNION ALL SELECT doc_id, CAST(3 AS INT), 'Tail <end>' FROM w),
         rk AS (SELECT *, row_number() OVER (PARTITION BY block
                                             ORDER BY doc_id, block_no) rk
                FROM hb),
         kt AS (SELECT doc_id,
                  CAST(sum(CASE WHEN rk = 1
                    THEN len(string_split(block, ' ')) ELSE 0 END) AS BIGINT)
                    AS n_toks_kept
                FROM rk GROUP BY doc_id),
         g AS (SELECT kt.doc_id, kt.n_toks_kept, fr.domain,
                 CASE WHEN substr(md5(CAST(kt.doc_id AS VARCHAR)), 1, 4) < 'cccc'
                        THEN 'train'
                      WHEN substr(md5(CAST(kt.doc_id AS VARCHAR)), 1, 4) < 'e666'
                        THEN 'val'
                      ELSE 'test' END AS split
               FROM kt JOIN fr ON fr.doc_id = kt.doc_id
               WHERE kt.n_toks_kept >= 10)
         SELECT split, domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks_kept) AS BIGINT) AS n_tokens, min(doc_id) AS min_doc
         FROM g GROUP BY 1, 2 ORDER BY 1, 2""",
    "novelty_score" ->
      """WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         f AS (SELECT * FROM s WHERE len(w) >= 8),
         ix AS (SELECT doc_id, source, w, unnest(generate_series(1, len(w) - 7)) AS i FROM f),
         sh AS (SELECT doc_id, source, array_to_string(w[i:i+7], ' ') AS g FROM ix),
         df AS (SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1),
         perdoc AS (SELECT sh.doc_id, sh.source,
             CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
           FROM sh JOIN df ON sh.g = df.g GROUP BY 1, 2)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(novelty), 6) + 0.0 AS mean_novelty
         FROM perdoc GROUP BY 1 ORDER BY 1""",
    "source_overlap" ->
      """WITH s AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         f AS (SELECT * FROM s WHERE len(w) >= 8),
         ix AS (SELECT source, w, unnest(generate_series(1, len(w) - 7)) AS i FROM f),
         sh AS (SELECT DISTINCT source, array_to_string(w[i:i+7], ' ') AS g FROM ix),
         sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.source AS sa, b.source AS sb, count(*) AS inter
                   FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT i.sa, i.sb, CAST(i.inter AS BIGINT) AS n_shared,
           round(i.inter / (za.n + zb.n - i.inter), 6) + 0.0 AS jaccard
         FROM inter i JOIN sizes za ON i.sa = za.source
           JOIN sizes zb ON i.sb = zb.source
         ORDER BY i.sa, i.sb""")
}
