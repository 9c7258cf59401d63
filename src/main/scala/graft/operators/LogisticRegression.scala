package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed binary logistic regression by full-batch gradient
  * descent — the TRAINABLE counterpart of the heuristic quality gates
  * (fastText-style linear quality classifiers are the standard corpus
  * scorer, cf. the CCNet/LLaMA data pipelines; the reference engine has
  * no model training at all). Deliberately not MLlib: the whole
  * algorithm is three Spark aggregates and a literal-weight projection,
  * so it inherits the session's optimizer, AQE and whole-stage codegen,
  * and the oracle can replay it exactly.
  *
  * Scale shape: each GD round is ONE mergeable aggregate over the
  * feature frame (per-partition partial sums of the k+1 gradient
  * components — the same map-side-combine shuffle as any avg); only the
  * (k+1)-double gradient crosses the driver boundary per round, exactly
  * the [[SimilaritySearch.lloyd]] ladder's model-crossing contract. At
  * 100 TB the caller persists the feature frame once (it is scanned
  * `iters` + 1 times); the frames here are projections of one scan.
  *
  * Engine-portable by construction (the Lloyd ladder's discipline):
  * gradients are rounded to 6 dp THROUGH SPARK'S OWN round before the
  * weight update, re-anchoring both engines every round so sum-order
  * and exp() ulp differences cannot accumulate; the update itself is a
  * plain IEEE subtraction of identical doubles. Feature values must be
  * exact-arithmetic expressions (integer ratios, exactly-rounded
  * divisions) so both engines score identical rows.
  */
object LogisticRegression {

  /** Learned model: one weight per feature column plus the intercept. */
  case class Weights(w: Seq[Double], b: Double)

  /** The margin w·x + b with the literal weights, in FIXED evaluation
    * order (term 1 + term 2 + ... + bias) — the oracle writes the same
    * expression order, so the doubles are bit-identical cross-engine. */
  def margin(wts: Weights, featureCols: Seq[String]): Column =
    featureCols.zip(wts.w)
      .map { case (c, wi) => col(c) * lit(wi) }
      .reduce(_ + _) + lit(wts.b)

  /** `iters` full-batch GD rounds from w = 0 at unit learning rate
    * (fixed: a general rate would make the update w - lr*g a non-exact
    * product and break the bit-identity contract; unit rate keeps it a
    * pure subtraction). Labels must be 0.0/1.0 doubles. */
  def fit(features: DataFrame, featureCols: Seq[String], labelCol: String,
          iters: Int = 3): Weights = {
    var wts = Weights(Seq.fill(featureCols.size)(0.0), 0.0)
    for (_ <- 1 to iters) {
      val p = lit(1.0) / (lit(1.0) + exp(-margin(wts, featureCols)))
      val resid = p - col(labelCol)
      val comps = featureCols.map(c => round(avg(col(c) * resid), 6)) :+
        round(avg(resid), 6)
      val g = features.agg(comps.head, comps.tail: _*).head()
      wts = Weights(
        wts.w.zipWithIndex.map { case (wi, i) => wi - g.getDouble(i) },
        wts.b - g.getDouble(featureCols.size))
    }
    wts
  }
}
