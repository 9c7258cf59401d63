package graft.queries

import graft.Tables
import graft.operators.{ConnectedComponents, FuzzyJoin, Intervals, PageRank, Spread}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 analytic-operator queries: graph centrality, interval
  * algebra, fuzzy matching and regression aggregates — the operator
  * families a curation pipeline reaches for once the relational core
  * and the dedup/ANN stack exist (domain authority for crawl
  * weighting, activity coverage, dirty-name resolution, drift trends).
  */
object Analytics extends QueryModule {

  /** 2024-01-01 00:00:00 UTC in epoch micros: zeroes the hour index so
    * regression x-values are small positive ints (no FP cancellation,
    * and truncating vs flooring integer division can't diverge). */
  private val HourBase = 1704067200000000L

  /** The supplier↔customer trade graph (edges from lineitem⋈orders,
    * both directions) the pagerank query runs over — exposed so the
    * plan guards can drive PageRank's distributed path on the same
    * input (the registered query takes the local endgame at fixture
    * scale). Delegates to [[TradeGraph]], the one pair extraction the
    * graph family shares as code; each query runs its own. */
  def pagerankEdges(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    TradeGraph.edges(s, dir)

  val queries: Map[String, Q] = Map(

    // Cohort retention: users cohorted by the epoch-week of their first
    // event, then counted per (cohort, week-offset) — the product-
    // analytics staple. Week ids are integer micros div a constant, so
    // both engines bucket identically with no calendar semantics in
    // play. Shape: one distinct (user, week) projection, two keyed
    // aggregations, cohort sizes broadcast back — the event table is
    // scanned once and only (user, week) pairs ever shuffle.
    "cohort_retention" -> ((s, dir) => {
      val uw = Tables(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
        .distinct()
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val sizes = first.groupBy(col("cohort_wk"))
        .agg(count(lit(1)).cast("long").as("cohort_n"))
      uw.join(first, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
        .agg(count(lit(1)).cast("long").as("n_active"))
        .join(broadcast(sizes), "cohort_wk")
        .select(col("cohort_wk"), col("wk_offset"), col("n_active"),
          round(col("n_active").cast("double") / col("cohort_n"), 6).as("retention"))
        .orderBy(col("cohort_wk"), col("wk_offset"))
    }),

    // Markov transition matrix over per-user event sequences: lag the
    // event type along each user's (ts, event_id) order, count (prev,
    // next) pairs, normalize rows into transition probabilities. One
    // user-keyed window pass + one tiny keyed aggregation; the
    // normalizing window runs over the 5x5 matrix, not the events.
    "event_transitions" -> ((s, dir) => {
      val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val row = Window.partitionBy(col("prev_type"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(seq))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).cast("long").as("n_trans"))
        .withColumn("prob",
          round(col("n_trans").cast("double") / sum(col("n_trans")).over(row), 6))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // PageRank over the supplier↔customer trade graph (edges from
    // lineitem⋈orders, both directions), 5 rounds of fixed-point
    // integer arithmetic — bit-exact, so a HASH oracle exists for an
    // iterative graph algorithm. Each round is one join + one keyed
    // aggregation; the rank table is one row per node.
    "graph_pagerank" -> ((s, dir) =>
      // assumeDistinct: the keyed edge set is a distinct pair set
      // unioned in two disjoint directions (even->odd vs odd->even) —
      // already duplicate-free, so the operator's dedup shuffle is
      // skipped. Ranks iterate on LONG keys; ids decode at output
      // (rank values are per-node integer arithmetic — key encoding
      // cannot change a bit of them).
      PageRank.ranks(TradeGraph.edgesKeyed(s, dir), iters = 5, assumeDistinct = true)
        .select(TradeGraph.decode(col("node")).as("node"), col("rank_scaled"))
        .orderBy(col("rank_scaled").desc, col("node"))),

    // k-core of the supplier-customer graph: iteratively peel nodes of
    // degree < 40 until stable — the dense-head/sparse-tail separation
    // a crawl-graph curation pass runs. Converges in 2 peel rounds on
    // this graph (measured at sf0.01 AND sf0.1); the oracle unrolls 6
    // rounds (extra rounds past the fixpoint are no-ops, so the margin
    // is free). ORACLE BOUND: 6 unrolled rounds is a FIXTURE property,
    // not an operator one — if the fixture (or a new SF) ever cascades
    // deeper than 6 peels, the engines diverge silently; re-check peel
    // depth (kCore now throws past maxIter, the oracle cannot) before
    // trusting a changed fixture. See operators/KCore.scala for the
    // per-round shape and the monotone-count convergence proof.
    // bipartite peel on the long-keyed PAIR list (half the row mass of
    // the both-directions edge list every round); ids decode at output
    "graph_kcore" -> ((s, dir) =>
      graft.operators.KCore.kCoreBipartite(TradeGraph.pairsKeyed(s, dir), "a", "b", k = 40)
        .select(TradeGraph.decode(col("node")).as("node"), col("core_deg"))
        .orderBy(col("node"))),

    // Degree distribution of the same trade graph: the first diagnostic
    // run on any production graph (hubs, dangling mass, skew — the
    // numbers that decide salting and partitioning strategy before an
    // iterative algorithm runs). Two keyed aggregations, no iteration.
    // runs entirely on the long-encoded keys — the output is a degree
    // HISTOGRAM, so node ids never even need decoding
    "graph_degrees" -> ((s, dir) =>
      TradeGraph.pairsKeyed(s, dir)
        .groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))),

    // Merged-interval activity coverage: each event claims 15 minutes;
    // overlaps collapse via the sweep-line window (one shuffle on
    // user_id) and the per-user covered wall-clock comes out in exact
    // integer micros.
    "interval_union" -> ((s, dir) => {
      val iv = Tables(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + lit(900000000L)).as("e_us"))
      Intervals.coverage(iv, col("user_id"), col("s_us"), col("e_us"))
        .select(col("key").as("user_id"), col("n_spans"), col("covered_us"))
        .orderBy(col("user_id"))
    }),

    // Interval-overlap join via time binning: every (view, purchase)
    // pair of the same user whose 15-minute activity windows overlap —
    // attribution without a cross join (bin equi-join + exact predicate
    // + dedup; bin = the span length, so fan-out is ≤ 2 per row).
    "interval_overlaps" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      def spans(t: String, idAs: String, keyAs: String, sAs: String, eAs: String) =
        ev.filter(col("event_type") === t).select(
          col("event_id").as(idAs), col("user_id").as(keyAs),
          unix_micros(col("ts")).as(sAs),
          (unix_micros(col("ts")) + lit(900000000L)).as(eAs))
      Intervals.overlapJoin(
          spans("view", "view_id", "lu", "ls", "le"),
          "lu", "ls", "le",
          spans("purchase", "purchase_id", "ru", "rs", "re"),
          "ru", "rs", "re",
          binUs = 900000000L)
        // raw micros difference: exact long arithmetic (integer-division
        // semantics on negatives differ between engines — truncate vs
        // floor — so don't divide)
        .select(col("lu").as("user_id"), col("view_id"), col("purchase_id"),
          (col("rs") - col("ls")).as("gap_us"))
        .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
    }),

    // Batch face of the streaming trending sink: top-3 event types per
    // finalized 10-minute window — the same rank-over-finalized-windows
    // shape trendingSink computes incrementally, here hash-checked.
    "events_trending" -> ((s, dir) => {
      val bucketed = Tables(s, dir, "events")
        .select(expr("600000000 * (unix_micros(ts) div 600000000)").as("w_us"),
          col("event_type"))
        .groupBy(col("w_us"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("w_us")).orderBy(col("n").desc, col("event_type"))
      bucketed.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(col("w_us"), col("rk"))
    }),

    // Fuzzy entity match: part names with a deterministic typo (2nd
    // character deleted) resolved back against the canonical part
    // table at edit distance ≤ 2 — deletion-neighborhood blocking, no
    // cross join. The pairwise work runs on DISTINCT strings (the
    // string-dedup-then-re-expand shape: at 100 TB the name vocabulary
    // is orders of magnitude smaller than the row count), then cheap
    // equi-joins fan the matches back out to rows. The oracle verifies
    // with a brute-force levenshtein join, which the blocking + re-
    // expansion must reproduce EXACTLY.
    "fuzzy_match" -> ((s, dir) => {
      val parts = Tables(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val probes = parts.filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("probe_key"),
          concat(substring(col("p_name"), 1, 1), expr("substr(p_name, 3)")).as("probe_name"))
      val matchedNames = FuzzyJoin.join(
        probes.select(col("probe_name").as("pn")).distinct(), col("pn"),
        parts.select(col("p_name").as("cn")).distinct(), col("cn"), maxDist = 2)
      probes.join(matchedNames, col("probe_name") === col("pn"))
        .join(parts, col("p_name") === col("cn"))
        .select(col("probe_key"), col("probe_name"), col("p_partkey"),
          col("p_name"), col("edit_dist"))
        .orderBy(col("probe_key"), col("p_partkey"))
    }),

    // Entity resolution end-to-end: canonical name vocabulary →
    // fuzzy-pair graph (deletion-neighborhood join on DISTINCT names,
    // lev ≤ 2) → connected components → per-cluster rollup. The
    // composition a dirty-catalog consolidation runs: vocabulary-sized
    // pairwise work, row-sized only at the final fan-out. Singleton
    // names (no fuzzy neighbor) keep their own id as cluster label.
    "entity_clusters" -> ((s, dir) => {
      val names = Tables(s, dir, "part").groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"), count(lit(1)).as("n_parts"))
      val pairs = FuzzyJoin.join(
        names.select(col("p_name").as("ln"), col("name_id").as("i")), col("ln"),
        names.select(col("p_name").as("rn"), col("name_id").as("j")), col("rn"),
        maxDist = 2)
        .filter(col("i") < col("j"))
        .select(col("i"), col("j"))
      val labels = ConnectedComponents.connectedComponents(pairs, "i", "j")
      names.join(labels, col("name_id") === col("node"), "left")
        .groupBy(coalesce(col("cluster"), col("name_id")).as("cluster"))
        .agg(count(lit(1)).as("n_names"), sum(col("n_parts")).as("n_parts"))
        .orderBy(col("cluster"))
    }),

    // Sorted-neighborhood record linkage (the Hernandez-Stolfo merge/
    // purge method) with Jaro-Winkler scoring — the OTHER classic name
    // comparator next to fuzzy_match's edit distance, prefix-weighted
    // the way human name typos are. Spark has no jaro_winkler; ours is
    // a native expression pinned digit-for-digit to DuckDB's built-in
    // (plans/NativeExpressions.scala JaroWinklerExpr). Blocking is the
    // textbook sorted neighborhood: a DISTRIBUTED global rank of the
    // (vocabulary-sized) name set (Ranks.globalRowNumber: range
    // partition + per-partition row_number + broadcast offsets — no
    // single-partition WindowExec), then each name meets only its w=8
    // successors via a rank-band equi-join (explode of rk+1..rk+w) —
    // O(n·w) pairs, codegen end to end, never names x names. Dirty
    // variants are planted deterministically (chars 3/4 transposed) so
    // the fixture has real matches to find.
    "record_linkage" -> ((s, dir) => {
      val w = 8
      val names = Tables(s, dir, "part").groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"))
      val dirty = names.filter(col("name_id") % 3 === 0)
        .select(concat(substring(col("p_name"), 1, 2), substring(col("p_name"), 4, 1),
            substring(col("p_name"), 3, 1), expr("substr(p_name, 5)")).as("p_name"),
          (col("name_id") + 100000).as("name_id"))
      val all = names.select(col("p_name"), col("name_id")).unionByName(dirty)
      val ranked = graft.operators.Ranks.globalRowNumber(
        all, Seq(col("p_name"), col("name_id")), "rk")
      val band = ranked.select(col("p_name").as("name_a"), col("name_id").as("id_a"),
        explode(sequence(col("rk") + 1, col("rk") + w)).as("rk"))
      band.join(ranked.select(col("p_name").as("name_b"), col("name_id").as("id_b"),
          col("rk")), "rk")
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          round(org.apache.spark.sql.graft.NativeExpressions
            .jaroWinkler(col("name_a"), col("name_b")), 6).as("jw"))
        .filter(col("jw") >= 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Per-segment OLS trend: value regressed on hours-since-Jan-1 —
    // drift detection over a metric stream as three associative
    // regression aggregates (one partial-agg shuffle, no windows).
    "ols_trend" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_type"), col("value"),
          expr(s"(unix_micros(ts) - ${HourBase}L) div 3600000000").cast("double").as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (round(expr("regr_slope(value, x)"), 6) + lit(0.0)).as("slope"),
          (round(expr("regr_intercept(value, x)"), 6) + lit(0.0)).as("intercept"),
          (round(expr("regr_r2(value, x)"), 6) + lit(0.0)).as("r2"))
        .orderBy(col("event_type"))),

    // Spearman rank correlation: monotone association between value
    // and event time per type. Ranks are deterministic row_numbers
    // (event_id tiebreak), so the only FP is the final Pearson over
    // integer ranks — rounded like corr_stats. Scale shape: the ranks
    // come from Ranks.groupRowNumber, NOT a per-type window — a window
    // partitioned by the handful of event types sorts each type's
    // entire corpus slice in ONE partition (the feature_buckets ntile
    // trap); the distributed construction range-partitions on
    // (type, order key), ranks per partition, and adds broadcast
    // prefix offsets, so both rankings use every core. The two rank
    // frames rejoin on event_id (each carries identical ranks to the
    // window formulation, so the oracle is unchanged).
    "spearman_rank" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"), col("ts"))
      val rv = graft.operators.Ranks.groupRowNumber(
          ev.select(col("event_type"), col("event_id"), col("value")),
          Seq("event_type"), Seq(col("value"), col("event_id")), "rv")
        .select(col("event_type"), col("event_id"), col("rv").cast("double").as("rv"))
      val rt = graft.operators.Ranks.groupRowNumber(
          ev.select(col("event_type"), col("event_id"), col("ts")),
          Seq("event_type"), Seq(col("ts"), col("event_id")), "rt")
        .select(col("event_id"), col("rt").cast("double").as("rt"))
      rv.join(rt, "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (round(corr(col("rv"), col("rt")), 6) + lit(0.0)).as("spearman"))
        .orderBy(col("event_type"))
    }),

    // Linear interpolation over the per-user hourly grid: silent hours
    // get the value a straight line between the neighboring observed
    // hours predicts (pandas `interpolate` semantics) — the gap-repair
    // step before feeding a model a regular series. Shape: the same
    // grid build as time_densify, then TWO frame-bounded ignore-null
    // windows (last-known-before, first-known-after) over ONE
    // (user, hour) sort/exchange; per-row state is O(1).
    "time_interpolate" -> ((s, dir) => {
      // r16 stage profile: the pre-change plan aggregated the raw
      // events TWICE (span and hourly, each a ~2 s SINGLE task on the
      // single-row-group fixture scan — the query's two dominant
      // stages). Now the hourly aggregate is the only events pass
      // (spread across cores when the scan is starved, a no-op at
      // scale) and the span derives from it — min/max of h per user is
      // the same set either way, and at any scale hourly is strictly
      // smaller than the raw events. Both hourly references share one
      // identical exchange subtree, which AQE stage reuse materializes
      // once.
      val ev = Spread.ifNarrow(
          Tables(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
          "user_id")
        .withColumn("h", date_trunc("hour", col("ts")))
      val hourly = ev.groupBy(col("user_id"), col("h"))
        .agg(round(sum(col("value")), 2).as("v"))
      val span = hourly.groupBy(col("user_id")).agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = span.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
      val sparse = grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("hs", col("h").cast("long")) // epoch seconds, exact
      // O(n) last-known propagation in BOTH directions via incremental
      // running last(ignoreNulls) frames. Direction matters for the
      // frame kind: [unboundedPreceding, 0] is Spark's incremental
      // frame (one buffer update per row), while the tempting
      // first()/[0, unboundedFollowing] backward formulation re-scans
      // the frame per row — O(n²) per partition, measured 34s vs ~2s at
      // sf0.1 — so the backward pass is a SECOND running-forward window
      // over the DESCENDING sort: same user_id hash exchange (reused),
      // one extra in-partition sort, no O(n²) frame anywhere. Replaces
      // the earlier running-count + group-max construction (3 window
      // exchanges): measured 1.6 vs 2.0 s warm at sf0.1 and 9.6 vs
      // 10.2 s warm at 30× — and without the earlier plan's cold-run
      // instability (its first 30× pass swung 17-58s; this one holds
      // 9-12s).
      val wF = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wB = Window.partitionBy(col("user_id")).orderBy(col("h").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      sparse
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wF))
        .withColumn("ph", last(when(col("v").isNotNull, col("hs")), ignoreNulls = true).over(wF))
        .withColumn("nv", last(col("v"), ignoreNulls = true).over(wB))
        .withColumn("nh", last(when(col("v").isNotNull, col("hs")), ignoreNulls = true).over(wB))
        .select(col("user_id"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("v").as("observed"),
          (when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            // floor(x*1e6 + 0.5)/1e6, NOT round(x, 6): both engines see
            // the identical IEEE double x (same op order), but their
            // round() implementations break scaled-representation ties
            // differently — floor composed of plain IEEE ops is a pure
            // function of x and cannot diverge.
            .otherwise(
              floor((col("pv") + (col("nv") - col("pv")) *
                ((col("hs") - col("ph")) / (col("nh") - col("ph")))) * 1000000.0 + 0.5)
                / 1000000.0) + lit(0.0))
            .as("interp"))
        .orderBy(col("user_id"), col("hour"))
    }),

    // Fixed-width value histogram: the one-scan distribution profile
    // (bin = floor(price / 25000)); integer bin ids, exact counts.
    "value_histogram" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("bin_total"))
        .withColumn("bin_lo", col("bin") * 25000L)
        .orderBy(col("bin")))
        ,

    // Ingest-volume anomaly detection: hourly arrival counts per
    // event_type scored against the trailing-24h mean/stddev (rows with
    // < 12 prior hours are withheld — no stable baseline), flagging
    // |n - mu| > 3*sd spikes and droughts — the monitor a pipeline runs
    // on every arriving corpus shard. Scale shape: the heavy groupBy is
    // fully parallel over raw events; the trailing window then runs
    // over the AGGREGATED (type, hour) frame — hours x types rows, tiny
    // at any corpus size, so the low-cardinality partition key is
    // harmless here (the window input is bounded by the calendar, not
    // the corpus). Scoring lives in Quality.volumeAnomalies, SHARED
    // with StreamOps.anomalySink so stream and batch verdicts are
    // identical by construction.
    "ingest_anomaly" -> ((s, dir) =>
      graft.operators.Quality.volumeAnomalies(
        Tables(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n")))
        .orderBy(col("event_type"), col("hour")))
  )

  private val edgesSql: String =
    """SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src, 'c' || CAST(o_custkey AS VARCHAR) AS dst
       FROM (SELECT DISTINCT l_suppkey, o_custkey
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       UNION ALL
       SELECT 'c' || CAST(o_custkey AS VARCHAR), 's' || CAST(l_suppkey AS VARCHAR)
       FROM (SELECT DISTINCT l_suppkey, o_custkey
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"""

  val oracle: Map[String, String] = Map(
    "cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
                     FROM events),
         f AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id),
         sz AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_n FROM f GROUP BY cohort_wk),
         act AS (SELECT f.cohort_wk, uw.wk - f.cohort_wk AS wk_offset,
                   CAST(count(*) AS BIGINT) AS n_active
                 FROM uw JOIN f USING (user_id) GROUP BY 1, 2)
         SELECT act.cohort_wk, wk_offset, n_active,
           round(n_active::DOUBLE / cohort_n, 6) + 0.0 AS retention
         FROM act JOIN sz USING (cohort_wk) ORDER BY cohort_wk, wk_offset""",
    "event_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
                    FROM events),
         c AS (SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n_trans
               FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n_trans,
           round(n_trans::DOUBLE / sum(n_trans) OVER (PARTITION BY prev_type), 6) + 0.0 AS prob
         FROM c ORDER BY prev_type, next_type""",
    "graph_pagerank" ->
      (PageRank.ranksSql(edgesSql, iters = 5) + "\nORDER BY rank_scaled DESC, node"),
    "graph_degrees" ->
      """WITH pairs AS (
           SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                  'c' || CAST(o_custkey AS VARCHAR) AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         deg AS (SELECT src, count(*) AS deg FROM pairs GROUP BY src)
         SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg""",
    "graph_kcore" ->
      """WITH p AS (
           SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS a,
                  'c' || CAST(o_custkey AS VARCHAR) AS b
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p
                UNION ALL SELECT b, a FROM p),
         n1 AS (SELECT src FROM e0 GROUP BY 1 HAVING count(*) >= 40),
         e1 AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e
                  JOIN n1 a ON e.src = a.src JOIN n1 b ON e.dst = b.src),
         n2 AS (SELECT src FROM e1 GROUP BY 1 HAVING count(*) >= 40),
         e2 AS MATERIALIZED (SELECT e.src, e.dst FROM e1 e
                  JOIN n2 a ON e.src = a.src JOIN n2 b ON e.dst = b.src),
         n3 AS (SELECT src FROM e2 GROUP BY 1 HAVING count(*) >= 40),
         e3 AS MATERIALIZED (SELECT e.src, e.dst FROM e2 e
                  JOIN n3 a ON e.src = a.src JOIN n3 b ON e.dst = b.src),
         n4 AS (SELECT src FROM e3 GROUP BY 1 HAVING count(*) >= 40),
         e4 AS MATERIALIZED (SELECT e.src, e.dst FROM e3 e
                  JOIN n4 a ON e.src = a.src JOIN n4 b ON e.dst = b.src),
         n5 AS (SELECT src FROM e4 GROUP BY 1 HAVING count(*) >= 40),
         e5 AS MATERIALIZED (SELECT e.src, e.dst FROM e4 e
                  JOIN n5 a ON e.src = a.src JOIN n5 b ON e.dst = b.src),
         n6 AS (SELECT src FROM e5 GROUP BY 1 HAVING count(*) >= 40),
         e6 AS MATERIALIZED (SELECT e.src, e.dst FROM e5 e
                  JOIN n6 a ON e.src = a.src JOIN n6 b ON e.dst = b.src),
         core AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
                  FROM e6 GROUP BY 1)
         SELECT node, core_deg FROM core ORDER BY node""",
    "interval_union" ->
      """WITH iv AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP)) + 900000000 AS e FROM events),
         f AS (SELECT user_id, s, e,
               CASE WHEN s > coalesce(max(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS ng
               FROM iv),
         g AS (SELECT *, sum(ng) OVER (PARTITION BY user_id ORDER BY s, e) AS grp FROM f),
         m AS (SELECT user_id, grp, min(s) AS ss, max(e) AS se FROM g GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_spans, CAST(sum(se - ss) AS BIGINT) AS covered_us
         FROM m GROUP BY 1 ORDER BY 1""",
    "interval_overlaps" ->
      """WITH v AS (SELECT event_id view_id, user_id u,
              epoch_us(CAST(ts AS TIMESTAMP)) s,
              epoch_us(CAST(ts AS TIMESTAMP)) + 900000000 e
            FROM events WHERE event_type = 'view'),
         p AS (SELECT event_id purchase_id, user_id u,
              epoch_us(CAST(ts AS TIMESTAMP)) s,
              epoch_us(CAST(ts AS TIMESTAMP)) + 900000000 e
            FROM events WHERE event_type = 'purchase')
         SELECT v.u AS user_id, view_id, purchase_id,
                CAST(p.s - v.s AS BIGINT) AS gap_us
         FROM v JOIN p ON v.u = p.u AND v.s < p.e AND p.s < v.e
         ORDER BY user_id, view_id, purchase_id""",
    "events_trending" ->
      """WITH b AS (
           SELECT 600000000 * (epoch_us(CAST(ts AS TIMESTAMP)) // 600000000) AS w_us,
                  event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY w_us
                 ORDER BY n DESC, event_type) AS rk FROM b)
         SELECT CAST(w_us AS BIGINT) AS w_us, event_type, n, rk
         FROM r WHERE rk <= 3 ORDER BY w_us, rk""",
    "fuzzy_match" ->
      """WITH probes AS (
           SELECT p_partkey AS probe_key,
                  substr(p_name, 1, 1) || substr(p_name, 3) AS probe_name
           FROM part WHERE p_partkey % 97 = 0)
         SELECT probe_key, probe_name, p.p_partkey, p.p_name,
                levenshtein(probe_name, p.p_name) AS edit_dist
         FROM probes, part p
         WHERE levenshtein(probe_name, p.p_name) <= 2
         ORDER BY probe_key, p.p_partkey""",
    "entity_clusters" ->
      """WITH RECURSIVE names AS (
           SELECT p_name, min(p_partkey) AS name_id, count(*) AS n_parts
           FROM part GROUP BY p_name),
         pr AS (SELECT a.name_id AS i, b.name_id AS j FROM names a, names b
                WHERE a.name_id < b.name_id
                  AND levenshtein(a.p_name, b.p_name) <= 2),
         edges AS (SELECT i u, j v FROM pr UNION SELECT j, i FROM pr),
         reach(u, v) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         lab AS (SELECT u, least(u, min(v)) AS cluster FROM reach GROUP BY u)
         SELECT coalesce(l.cluster, n.name_id) AS cluster,
                count(*) AS n_names, CAST(sum(n.n_parts) AS BIGINT) AS n_parts
         FROM names n LEFT JOIN lab l ON n.name_id = l.u
         GROUP BY 1 ORDER BY 1""",
    // identical sorted-neighborhood semantics; jaro_winkler_similarity
    // is the DuckDB built-in our native expression is pinned to
    "record_linkage" ->
      """WITH names AS (SELECT p_name, min(p_partkey) AS name_id
                        FROM part GROUP BY 1),
         dirty AS (SELECT substr(p_name, 1, 2) || substr(p_name, 4, 1) ||
                          substr(p_name, 3, 1) || substr(p_name, 5) AS p_name,
                          name_id + 100000 AS name_id
                   FROM names WHERE name_id % 3 = 0),
         al AS (SELECT p_name, name_id FROM names
                UNION ALL SELECT p_name, name_id FROM dirty),
         ranked AS (SELECT p_name, name_id,
                      row_number() OVER (ORDER BY p_name, name_id) rk FROM al),
         pairs AS (
           SELECT a.name_id id_a, b.name_id id_b,
                  a.p_name name_a, b.p_name name_b,
                  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) + 0.0 jw
           FROM ranked a JOIN ranked b ON b.rk > a.rk AND b.rk <= a.rk + 8)
         SELECT id_a, id_b, name_a, name_b, jw
         FROM pairs WHERE jw >= 0.9 ORDER BY id_a, id_b""",
    "ols_trend" ->
      """SELECT event_type, count(*) AS n,
           round(regr_slope(value, x), 6) + 0.0 AS slope,
           round(regr_intercept(value, x), 6) + 0.0 AS intercept,
           round(regr_r2(value, x), 6) + 0.0 AS r2
         FROM (SELECT event_type, value,
                 CAST((epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000) // 3600000000 AS DOUBLE) AS x
               FROM events)
         GROUP BY 1 ORDER BY 1""",
    "spearman_rank" ->
      """WITH r AS (
           SELECT event_type,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS DOUBLE) AS rv,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY CAST(ts AS TIMESTAMP), event_id) AS DOUBLE) AS rt
           FROM events)
         SELECT event_type, count(*) AS n, round(corr(rv, rt), 6) + 0.0 AS spearman
         FROM r GROUP BY 1 ORDER BY 1""",
    "time_interpolate" ->
      """WITH e AS (
           SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) h, value FROM events),
         span AS (SELECT user_id, min(h) h0, max(h) h1 FROM e GROUP BY 1),
         grid AS (
           SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) h FROM span),
         hourly AS (SELECT user_id, h, round(sum(value), 2) v FROM e GROUP BY 1, 2),
         sparse AS (
           SELECT g.user_id, g.h, v, epoch_us(g.h) // 1000000 AS hs
           FROM grid g LEFT JOIN hourly USING (user_id, h)),
         n AS (
           SELECT *,
             count(v) OVER (PARTITION BY user_id ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
             count(v) OVER (PARTITION BY user_id ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS nne
           FROM sparse),
         w AS (
           SELECT *,
             max(v) OVER (PARTITION BY user_id, nn) AS pv,
             max(CASE WHEN v IS NOT NULL THEN hs END) OVER (PARTITION BY user_id, nn) AS ph,
             max(v) OVER (PARTITION BY user_id, nne) AS nv,
             max(CASE WHEN v IS NOT NULL THEN hs END) OVER (PARTITION BY user_id, nne) AS nh
           FROM n)
         SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, v AS observed,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE floor((pv + (nv - pv) * ((hs - ph) / (nh - ph))) * 1000000.0 + 0.5)
                     / 1000000.0 END + 0.0 AS interp
         FROM w ORDER BY user_id, hour""",
    "value_histogram" ->
      """SELECT bin, count(*) AS n_orders, round(sum(o_totalprice), 2) + 0.0 AS bin_total,
           bin * 25000 AS bin_lo
         FROM (SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin, o_totalprice
               FROM orders)
         GROUP BY bin ORDER BY bin""",
    "ingest_anomaly" ->
      """WITH c AS (
           SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) h,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, h, n,
             round(avg(n) OVER win, 6) + 0.0 AS mu24,
             round(stddev_samp(n) OVER win, 6) + 0.0 AS sd24,
             count(n) OVER win AS np
           FROM c
           WINDOW win AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(n AS BIGINT) AS n, mu24, sd24,
           (n > mu24 + 3.0 * sd24 OR n < mu24 - 3.0 * sd24) AS anomaly
         FROM w WHERE np >= 12 ORDER BY event_type, hour"""
  )
}
