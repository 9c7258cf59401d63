package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-scaling fixture generator for empirical scale validation
  * (SCALING.md): replicate an existing sf directory `replicas`× with
  * key offsetting, preserving the statistical shape each operator's
  * cost depends on — NOT a naive union, which would plant cross-replica
  * duplicate text/vectors and quadratically explode every near-dup
  * pair query for data reasons rather than plan reasons.
  *
  * Per-table strategy:
  *   - facts (orders, lineitem, events): replicate with key offsets
  *     (orderkey/custkey/suppkey/partkey/event_id/user_id), keeping
  *     the same time range — "10× the traffic over the same period",
  *     so per-user session counts and per-window fan-in scale the way
  *     a real corpus grows.
  *   - dims (customer, supplier, part): replicate with offset keys so
  *     fact foreign keys stay valid per replica; region/nation stay
  *     fixed (dims that genuinely don't scale). NAME columns (p_name,
  *     c_name, s_name) get a per-replica 3-char suffix so the name
  *     VOCABULARY scales with the data — without it the fuzzy/linkage
  *     family measured the fixture, not the engine (64 distinct
  *     p_name at every scale, copies×probes output fan-out ≈900× at
  *     30×: the round-11 SCALING.md worst row). Suffixes are one
  *     base-36 char repeated 3× (pairwise edit distance 3), so
  *     cross-replica names can NEVER fuzzy-match at the family's
  *     maxDist=2 — each replica is its own clean vocabulary, the way
  *     a real catalog grows. Pass `fixed-vocab-dims` as a 4th arg to
  *     keep the old unchanged-name behavior as an explicit skew /
  *     fan-out stress case.
  *   - documents: token-shuffle each replica with a replica-seeded
  *     deterministic permutation — same token mass and length
  *     distribution, but different 5-gram shingles, so near-dup pair
  *     counts stay linear like a real corpus.
  *   - embeddings: regenerate deterministically from (vec_id, dim)
  *     hashes — fresh directions per replica, no planted cos≈1 pairs.
  *
  * Usage: runMain graft.tools.ScaleFixture <srcSfDir> <outDir> <replicas>
  *        [fixed-vocab-dims]
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleFixture <srcSfDir> <outDir> <replicas> [fixed-vocab-dims]")
    val (src, out, reps) = (args(0), args(1), args(2).toInt)
    val fixedVocab = args.length == 4 && args(3) == "fixed-vocab-dims"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt, Some(src)).getOrCreate()
    try generate(spark, src, out, reps, fixedVocab)
    finally GraftSession.stop(spark)
  }

  /** Key stride between replicas — far above any key in the source. */
  private val Stride = 100000000L

  /** Per-replica name suffix (replica 0 unchanged): for r <= 36, one
    * base-36 char repeated 3× — byte-identical to every fixture
    * generated before round 13, so historical x30v measurements stay
    * comparable. Past 36, TWO base-36 digits each repeated 3×
    * ("c1c1c1c2c2c2"): any two distinct (c1, c2) pairs differ in at
    * least one digit, i.e. in >= 3 positions — pairwise edit distance
    * >= 3, above every fuzzy query's maxDist=2, for up to 1296
    * replicas. This is what makes a VOCABULARY-SCALED x100 fixture
    * possible (the round-12 x100 runs had to fall back to
    * fixed-vocab-dims). */
  private def nameSuffix(r: Int): String =
    if (r == 0) ""
    else if (r <= 36) s" ${Character.forDigit(r % 36, 36).toString * 3}"
    else {
      val c1 = Character.forDigit(r / 36, 36).toString
      val c2 = Character.forDigit(r % 36, 36).toString
      s" ${c1 * 3}${c2 * 3}"
    }

  def generate(spark: SparkSession, src: String, out: String, reps: Int,
               fixedVocab: Boolean = false): Unit = {
    require(fixedVocab || reps <= 1296,
      "ScaleFixture: two-digit base-36 suffixes cover 1296 replicas; " +
        "past that pass fixed-vocab-dims or extend nameSuffix")
    def tbl(n: String): DataFrame = Tables(spark, src, n)
    def rep(df: DataFrame, f: (DataFrame, Long, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => f(df, r.toLong * Stride, r)).reduce(_ unionByName _)
    def suffixed(c: String, r: Int) =
      if (fixedVocab || r == 0) col(c) else concat(col(c), lit(nameSuffix(r)))

    // fixed dims: copied through once
    Seq("region", "nation").foreach { n =>
      tbl(n).write.mode("overwrite").parquet(s"$out/$n.parquet")
    }

    rep(tbl("customer"), (d, o, r) => d
      .withColumn("c_custkey", col("c_custkey") + o)
      .withColumn("c_name", suffixed("c_name", r)))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    rep(tbl("supplier"), (d, o, r) => d
      .withColumn("s_suppkey", col("s_suppkey") + o)
      .withColumn("s_name", suffixed("s_name", r)))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    rep(tbl("part"), (d, o, r) => d
      .withColumn("p_partkey", col("p_partkey") + o)
      .withColumn("p_name", suffixed("p_name", r)))
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    rep(tbl("orders"), (d, o, _) => d
      .withColumn("o_orderkey", col("o_orderkey") + o)
      .withColumn("o_custkey", col("o_custkey") + o))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    rep(tbl("lineitem"), (d, o, _) => d
      .withColumn("l_orderkey", col("l_orderkey") + o)
      .withColumn("l_partkey", col("l_partkey") + o)
      .withColumn("l_suppkey", col("l_suppkey") + o))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    rep(tbl("events"), (d, o, _) => d
      .withColumn("event_id", col("event_id") + o)
      .withColumn("user_id", col("user_id") + o))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // documents: replica-seeded token shuffle (deterministic: sort
    // tokens by xxhash64(token, position, replica)), same token mass,
    // different shingles
    rep(tbl("documents"), (d, o, _) => d
      .withColumn("doc_id", col("doc_id") + o)
      .withColumn("text",
        when(lit(o) === 0, col("text")).otherwise(
          expr(s"array_join(transform(array_sort(transform(split(text, ' '), " +
            s"(t, i) -> struct(xxhash64(t, i, ${o}L) AS k, t AS t))), s -> s.t), ' ')"))))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: fresh deterministic directions per (vec_id, dim)
    val dim = 64
    rep(tbl("embeddings"), (d, o, _) => d
      .withColumn("vec_id", col("vec_id") + o)
      .withColumn("embedding",
        when(lit(o) === 0, col("embedding")).otherwise(
          expr(s"transform(sequence(0, ${dim - 1}), i -> " +
            "cast((xxhash64(vec_id, i) % 1000000) / 500000.0 - 1.0 as float))"))))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    writeManifest(src, out, reps, fixedVocab)
  }

  /** FIXTURE.json manifest in the output dir — provenance for every
    * SCALING.md measurement row, so cross-round scale comparisons can
    * never silently mix fixture generations (the round-11→12
    * vocabulary-scaling change invalidated several historical rows;
    * this is the guard against a repeat). */
  private def writeManifest(src: String, out: String, reps: Int,
                            fixedVocab: Boolean): Unit = {
    val rev = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val r = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0 && r.matches("[0-9a-f]+")) r else "unknown"
    } catch { case _: Exception => "unknown" }
    val tag = if (fixedVocab) s"x${reps}f" else s"x${reps}v"
    val json =
      s"""{"src": "$src", "replicas": $reps, "tag": "$tag",
         | "vocab": "${if (fixedVocab) "fixed-vocab-dims" else "scaled"}",
         | "generator_rev": "$rev"}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/FIXTURE.json"), json)
  }
}
