package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantile bucketing with a count-driven EXACTNESS dispatch — the
  * AutoNlist pattern applied where it is sound.
  *
  * The round-14 100× sweep named `feature_buckets` (ntile) the slowest
  * row (216 s at 100×): ntile's equal-count tie-splitting needs a
  * global sort per window partition, and the partition key's domain (3
  * return flags) caps parallelism at 3 — the known non-scalable plan,
  * kept registered as the equal-count ORACLE ANCHOR. The verdict's
  * prescription was a dispatched default; the sound place for the
  * dispatch is NOT the ntile contract (switching equal-count
  * tie-splitting for value thresholds by corpus size would change
  * ANSWERS silently — a hash-gated engine must never do that) but the
  * VALUE-THRESHOLD bucketizer, where both arms share one bucketing
  * rule and the dispatch changes only how the cut points are computed:
  *
  *  - below [[ExactQuantileRowBudget]]: exact interpolated percentile
  *    cut points (Spark `percentile` == DuckDB `quantile_cont`, the
  *    engine-parity pair feature_buckets_kll already pins) — fully
  *    oracle-replayable;
  *  - above it: mergeable KLL sketch cut points (one partial-agg
  *    shuffle of ~3 KB buffers, no global sort anywhere) — the 100 TB
  *    plan, boundaries within the sketch's published rank error.
  *
  * Both arms then assign buckets with the SAME broadcast range lookup
  * (`bucket = |{cut : v > cut}| + 1`, a codegen'd filter+size over the
  * 9-element boundary array) and aggregate per (group, bucket) — a
  * pure scan with full parallelism either way. The returned `method`
  * column records the dispatch (the nearDupPairsRouted provenance
  * discipline), so a pipeline can see which exactness tier produced
  * its binning table.
  */
object Bucketize {

  /** Row budget for the exact-percentile arm: Spark's `percentile` is
    * an exact aggregate that buffers the values per group — fine at
    * fixture scales (sf0.1's lineitem = 600k rows), the wrong plan at
    * the 30×/100× sweeps (18M/60M rows through per-group sort
    * buffers). 2M keeps every sf-scale run on the oracle-replayable
    * exact arm and dispatches every sweep fixture to the sketch. */
  val ExactQuantileRowBudget: Long = 2000000L

  /** Sentinel: derive the arm from a corpus count. */
  val AutoMethod = "auto"

  /** Per-(group) decile table of `valCol` cut by value thresholds:
    * (grpCol, bucket 1..nBuckets, n, lo, hi, method). `lo`/`hi` are
    * the bucket's enclosing cut points (null at the open ends),
    * rounded to 2 dp. `method` ∈ {exact, kll} per the dispatch;
    * passing `method = "exact"` or `"kll"` pins an arm (the oracle
    * anchors pin exact; a caller with a known-huge corpus skips the
    * count).
    *
    * NULL `valCol` rows are EXCLUDED — from the cut points AND from
    * the bucket counts (one filter, both arms). Without the filter the
    * aggregates already ignored NULLs but a NULL value compared false
    * against every cut and silently inflated bucket 1; a row with no
    * value has no quantile, so it gets no bucket. */
  def byQuantiles(df: DataFrame, grpCol: String, valCol: String,
                  nBuckets: Int = 10, method: String = AutoMethod,
                  rowBudget: Long = ExactQuantileRowBudget): DataFrame = {
    require(nBuckets >= 2, "byQuantiles: nBuckets >= 2")
    require(Seq(AutoMethod, "exact", "kll").contains(method),
      s"byQuantiles: unknown method '$method'")
    val eff = if (method != AutoMethod) method
      else if (df.count() <= rowBudget) "exact" else "kll"
    if (eff == "kll") System.err.println(
      s"[graft-bucketize] byQuantiles: KLL cut points (corpus past " +
        s"$rowBudget rows — exact percentile would sort per-group buffers)")
    val cuts = (1 until nBuckets).map(_.toDouble / nBuckets)
    val vals = df.select(col(grpCol).as("_grp"),
      col(valCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull)
    val bnds = eff match {
      case "exact" =>
        vals.groupBy(col("_grp")).agg(
          expr(s"percentile(_v, array(${cuts.mkString(", ")}))").as("_bnds"))
      case _ =>
        import org.apache.spark.sql.graft.KllFunctions
        vals.groupBy(col("_grp")).agg(
          KllFunctions.kllQuantiles(
            KllFunctions.kllSketchAgg(col("_v")), cuts).as("_bnds"))
    }
    vals.join(broadcast(bnds), Seq("_grp"))
      .select(col("_grp"), col("_bnds"),
        (size(filter(col("_bnds"), b => col("_v") > b)) + 1).as("bucket"))
      .groupBy(col("_grp"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"), first(col("_bnds")).as("_bnds"))
      .select(col("_grp").as(grpCol), col("bucket"), col("n"),
        round2(when(col("bucket") > 1, element_at(col("_bnds"), col("bucket") - 1))).as("lo"),
        round2(when(col("bucket") < nBuckets, element_at(col("_bnds"), col("bucket")))).as("hi"),
        lit(eff).as("method"))
  }

  /** 2-dp rounding the way DuckDB's `round(x, 2)` does it,
    * `std::round(x * 100) / 100`: round the PRODUCT half away from zero
    * (Spark's scale-0 `round` on the same double), then divide. Spark's
    * own `round(x, 2)` rounds x's decimal value instead, and the two
    * disagree on a cut point such as 52724.244999999995, whose product
    * is exactly 5272424.5 (.25 here, .24 under `round(x, 2)`). The
    * `+ 0.0` collapses IEEE −0.0. */
  private def round2(x: Column): Column = round(x * lit(100.0)) / lit(100.0) + lit(0.0)
}
