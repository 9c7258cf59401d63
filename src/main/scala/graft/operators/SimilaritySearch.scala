package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.{Codebook, GramianFunctions, NativeExpressions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float|double>`):
  * exact brute-force cosine top-k as the baseline, and a multi-table
  * sign-LSH variant as the scale path for HIGH-similarity retrieval.
  *
  * Scale shape: both are single scans with a broadcast one-row probe and
  * a TakeOrderedAndProject top-k — no shuffle of the embedding table.
  * The LSH variant drops ~3/4 of the corpus before any cosine math; at
  * cluster scale (batch probes) the bucket ids become join keys so each
  * probe only meets its bucket-mates.
  */
object SimilaritySearch {

  /** Exact cosine top-k against the row whose `idCol` equals probeId. */
  def topKCosine(emb: DataFrame, idCol: String, vecCol: String,
                 probeId: Long, k: Int): DataFrame = {
    val probe = emb.filter(col(idCol) === probeId).select(col(vecCol).as("_probe"))
    emb.crossJoin(broadcast(probe))
      .filter(col(idCol) =!= probeId)
      .select(col(idCol), round(cosine(col(vecCol), col("_probe")), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Approximate cosine top-k: `tables` independent sign-LSH tables of
    * `bits` hyperplanes each; a row is a candidate iff its bucket is
    * within Hamming `radius` of the probe's bucket in >= 1 table, then
    * survivors are reranked with the exact cosine. Multiple tables are
    * what controls recall variance: P(miss) ~ p_miss_one_table^tables.
    * Designed for high-similarity neighbors (cos >= ~0.9); for
    * weak-similarity top-k use `topKCosine` — no bucketing scheme can
    * prune and recall simultaneously at wide angles. */
  def topKCosineLsh(emb: DataFrame, idCol: String, vecCol: String,
                    probeId: Long, k: Int,
                    bits: Int = 8, radius: Int = 2, tables: Int = 2): DataFrame = {
    val bucketCols: Seq[(String, Column)] = (0 until tables).map { t =>
      s"_bk$t" -> signLshBucket(col(vecCol), signLshPlanes(bits, dimOf(emb, vecCol), seed = 42L + t))
    }
    val withB = bucketCols.foldLeft(emb) { case (d, (name, c)) => d.withColumn(name, c) }
    val probe = withB.filter(col(idCol) === probeId)
      .select((col(vecCol).as("_probe") +: bucketCols.map { case (n, _) => col(n).as(s"_p$n") }): _*)
    val anyClose = bucketCols.map { case (n, _) =>
      bit_count(col(n).bitwiseXOR(col(s"_p$n"))) <= radius
    }.reduce(_ || _)
    withB.crossJoin(broadcast(probe))
      .filter(col(idCol) =!= probeId)
      .filter(anyClose)
      .select(col(idCol), round(cosine(col(vecCol), col("_probe")), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate PAIRS (the all-to-all version of
    * topKCosineLsh): bucket every vector in `tables` sign-LSH tables,
    * self-join on (table, bucket) — the 100 TB shape: vectors only meet
    * their bucket-mates, never the corpus — then exact-cosine rerank at
    * `threshold`. Emits (i, j, cos), i < j. Near-identical vectors
    * (cos ~ 1) agree on every hyperplane sign, so recall is ~1 in the
    * intended near-dup regime; precision is exactly 1 via the rerank.
    * 16 bits (not topKCosineLsh's 8): for PAIR generation the bucket
    * count must outrun |corpus|^2 — at 2^-16 random-collision odds per
    * table the candidate set stays ~linear in the planted dups instead
    * of quadratic in the corpus. */
  def nearDupPairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double = 0.99,
                      bits: Int = 16, tables: Int = 2): DataFrame = {
    val dim = dimOf(emb, vecCol)
    val bucketed = (0 until tables).map { t =>
      emb.select(col(idCol).as("doc"),
        lit(t).as("tbl"),
        signLshBucket(col(vecCol), signLshPlanes(bits, dim, seed = 42L + t)).as("bk"))
    }.reduce(_ unionByName _)
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bk") === col("b.bk") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
      .distinct()
    cand
      .join(emb.select(col(idCol).as("i"), col(vecCol).as("va")), "i")
      .join(emb.select(col(idCol).as("j"), col(vecCol).as("vb")), "j")
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
  }

  /** [[nearDupPairsLsh]]'s contract at the HIERARCHICAL tier: candidate
    * pairs from the two-level quantizer's LEAVES (each vector meets
    * only its leaf-mates — [[semanticDedup]]'s pair shape), exact
    * cosine filter at `threshold`, emitted as (i, j, cos), i < j.
    *
    * Same recall argument as the dedup face: near-identical vectors
    * (the cos >= ~0.99 regime this family targets) share their argmax
    * at BOTH quantizer levels (identical direction ⇒ identical nearest
    * cell and leaf), so every true near-dup pair is leaf-co-located at
    * any codebook; precision is exactly 1 via the in-join cosine
    * filter. Unlike the sign-LSH path, the candidate mass is bounded
    * by LEAF populations — which the TargetClusterSize invariant holds
    * constant as the corpus grows — and the pair rows stream through
    * the leaf-keyed join's iterator instead of being materialized and
    * re-joined to their vectors (see [[pairsWithAssignment]]). */
  def nearDupPairsTwoLevel(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double = 0.99,
                           coarseK: Int = 16, subK: Int = 16): DataFrame = {
    // materialized once for the same reason as dedupWithAssignment's
    // checkpoint: `av` references the assignment on BOTH sides of the
    // pair self-join, and the leaf assignment is the expensive subtree.
    // withIvfCodebook: the checkpoint derives from the TRAINING'S OWN
    // cached cell assignment instead of re-running the coarse scan.
    withIvfCodebook(emb, idCol, vecCol, coarseK, subK) { (_, assigned) =>
      pairsWithAssignment(emb, idCol, vecCol, assigned.localCheckpoint(true),
        threshold)
    }
  }

  /** EXACT sign-LSH candidate mass: Σ over (table, bucket) of
    * cnt·(cnt−1)/2 — precisely the pair rows the bucket self-join in
    * [[nearDupPairsLsh]] would materialize (before the i<j distinct,
    * which halves nothing across tables). One corpus scan + one tiny
    * aggregate (≤ tables·2^bits groups), so measuring the plan costs a
    * scan, not the plan. Returns (mass, n): the corpus count rides the
    * SAME histogram (Σ cnt over table 0), so routing — which needs n
    * only on the two-level branch, for [[twoLevelShape]] — costs
    * exactly one scan, never a second `count()` pass. */
  private[graft] def lshCandidateMass(emb: DataFrame, idCol: String,
      vecCol: String, bits: Int = 16, tables: Int = 2): (Long, Long) = {
    val dim = dimOf(emb, vecCol)
    val r = (0 until tables).map { t =>
      emb.select(lit(t).as("tbl"),
        signLshBucket(col(vecCol), signLshPlanes(bits, dim, seed = 42L + t)).as("bk"))
    }.reduce(_ unionByName _)
      .groupBy(col("tbl"), col("bk")).count()
      // integral end to end (Column `/` would go double); the doubled
      // sum cnt·(cnt−1) is even, so the driver-side halving is exact
      .agg(coalesce(sum(col("count") * (col("count") - 1)), lit(0L)),
        coalesce(sum(when(col("tbl") === 0, col("count"))), lit(0L)))
      .first()
    (r.getLong(0) / 2, r.getLong(1))
  }

  /** Candidate-row budget for the sign-LSH pair route: 2e7 keeps the
    * materialized candidate set (distinct + two vector re-joins) under
    * ~a minute of join work. Calibrated from PairScale: 4.5e7
    * candidates at 200k CLUSTERED vectors took 182 s — already 2× the
    * two-level arm's cost on 5× the data — while the random-bucket
    * regime at sf scales sits orders of magnitude below this line
    * (~2k vectors → ~130 random collisions). */
  val LshCandidateRowBudget: Long = 20000000L

  /** The route [[nearDupPairsAuto]] picks for a measured candidate
    * mass — a pure function so the dispatch rule is spec-pinnable. */
  private[graft] def pairSourceRoute(mass: Long,
      budget: Long = LshCandidateRowBudget): String =
    if (mass <= budget) "lsh" else "two-level"

  /** MEASURED-dispatch front door for embedding near-dup PAIR
    * generation: compute the EXACT candidate mass the sign-LSH route
    * would materialize ([[lshCandidateMass]]) and dispatch on it —
    * below [[LshCandidateRowBudget]] the banded sign-LSH path
    * ([[nearDupPairsLsh]]); above it the leaf-bounded two-level join
    * ([[nearDupPairsTwoLevel]]) at the [[deriveTwoLevel]] shape.
    *
    * Measured, not guessed, because a corpus COUNT cannot see
    * clustering: the fixed 16-bit buckets hold ~tables·N²/2^16 RANDOM
    * collisions (quadratic in the corpus — the count rule would catch
    * that), but on real (clustered) embedding corpora whole clusters
    * share sign patterns and buckets collapse far sooner — PairScale
    * measured the LSH route at 182 s on 200k clustered vectors, a
    * corpus the count rule waves through. The histogram dispatch
    * subsumes the count rule (random mass alone crosses the budget
    * near ~800k vectors) and catches the skew the count cannot.
    *
    * Why the LSH path cannot carry a large candidate mass: its
    * (i, j) rows are MATERIALIZED (distinct + two joins back to the
    * vectors), so the shuffle carries the pair mass itself; the leaf
    * join's shuffle carries only the corpus (N fat rows, linear),
    * with leaf populations pinned by TargetClusterSize — measured at
    * 1M clustered vectors in PairScale (SCALING.md r14 §1). Both
    * sources feed the same exact-cosine filter, so the emitted pair
    * set is identical in the near-dup regime (AnnSpec pins set
    * equality on the planted fixture at both tiers). */
  def nearDupPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double = 0.99,
                       candidateBudget: Long = LshCandidateRowBudget,
                       bits: Int = 16, tables: Int = 2): DataFrame = {
    // bits/tables thread to BOTH the measurement and the lsh route, so
    // the measured plan is the executed plan by construction
    val (mass, n) = lshCandidateMass(emb, idCol, vecCol, bits, tables)
    pairSourceRoute(mass, candidateBudget) match {
      case "two-level" =>
        val (c, s) = twoLevelShape(n)
        System.err.println(s"[graft-ann] nearDupPairsAuto: TWO-LEVEL pair " +
          s"source coarseK=$c subK=$s (${c * s} leaves) — measured LSH " +
          s"candidate mass $mass > $candidateBudget for $n vectors")
        nearDupPairsTwoLevel(emb, idCol, vecCol, threshold, c, s)
      case _ =>
        System.err.println(s"[graft-ann] nearDupPairsAuto: sign-LSH pair " +
          s"source (measured candidate mass $mass within budget $candidateBudget)")
        nearDupPairsLsh(emb, idCol, vecCol, threshold, bits, tables)
    }
  }

  /** Batch ANN: a TABLE of probes against a corpus, joined on sign-LSH
    * bucket keys — the cluster-scale retrieval shape (each probe meets
    * only its bucket-mates; nothing is ever all-pairs). Recall comes
    * from two knobs: `tables` independent hash tables, and MULTIPROBE —
    * each probe also visits every bucket at Hamming distance 1 (its
    * `bits` one-bit flips), the standard trade of probe-side fan-out
    * (cheap, x(bits+1) on the small side) for corpus-side re-hashing.
    * At cos >= 0.95, bits=8, tables=2: per-table hit ~ 0.81, miss-all
    * ~ 0.04. Exact-cosine rerank + WindowGroupLimit top-k per probe.
    *
    * probes: (probeIdCol, vecCol); corpus: (idCol, vecCol). */
  def topKCosineLshBatch(probes: DataFrame, probeIdCol: String,
                         corpus: DataFrame, idCol: String, vecCol: String,
                         k: Int, bits: Int = 8, tables: Int = 2): DataFrame = {
    require(bits > 0 && bits <= 62, "topKCosineLshBatch: bits in [1, 62]")
    val dim = dimOf(corpus, vecCol)
    def planes(t: Int) = signLshPlanes(bits, dim, seed = 42L + t)
    val corpusB = (0 until tables).map { t =>
      corpus.select(col(idCol).as("_cid"), lit(t).as("_tbl"),
        signLshBucket(col(vecCol), planes(t)).as("_bk"))
    }.reduce(_ unionByName _)
    // probe side: own bucket + all `bits` one-bit flips (multiprobe)
    val flips = (c: Column) => array((lit(0L) +: (0 until bits).map(b => lit(1L << b))).map(m => c.bitwiseXOR(m)): _*)
    val probesB = (0 until tables).map { t =>
      probes.select(col(probeIdCol).as("_pid"), lit(t).as("_tbl"),
        explode(flips(signLshBucket(col(vecCol), planes(t)))).as("_bk"))
    }.reduce(_ unionByName _)
    val cand = probesB.join(corpusB, Seq("_tbl", "_bk"))
      .filter(col("_pid") =!= col("_cid"))
      .select(col("_pid"), col("_cid")).distinct()
    cand
      .join(probes.select(col(probeIdCol).as("_pid"), col(vecCol).as("_pv")), "_pid")
      .join(corpus.select(col(idCol).as("_cid"), col(vecCol).as("_cv")), "_cid")
      .select(col("_pid").as("probe_id"), col("_cid").as("id"),
        round(cosine(col("_cv"), col("_pv")), 6).as("cos"))
      .transform(topN("probe_id", "cos", "id", k, "rk"))
  }

  /** IVF (inverted-file) batch ANN — the other classic scale path next
    * to LSH (ref: the brief's "IVF or LSH-bucketed variant"; public
    * design: Faiss IVFFlat, and its two-level / IMI family above it).
    * The index is one [[TwoLevelCodebook]] of shape (coarseK, subK):
    * corpus vectors live in LEAF inverted lists; a probe ranks the
    * coarse cells, visits its `nprobeCells` best, ranks THOSE cells'
    * leaves and searches its `nprobeLeaves` best lists, then
    * exact-cosine rerank + per-probe top-k. A flat index with nlist
    * lists is the shape (1, nlist) searched at (1, nprobe): one cell
    * holds every leaf, so the leaf pick is the flat nprobe best lists.
    *
    * Scale shape: the codebook is tiny and rides in the corpus scan as
    * data ([[nearest]]: one projection, no join, no corpus shuffle);
    * probe routing is [[nearestN]] projections costing coarseK +
    * nprobeCells·subK cosines, and the small probe side is broadcast
    * to the assigned corpus, so the search is one corpus-side scan
    * filtered to the routed lists. Nothing is ever all-pairs.
    *
    * Ranking uses ROUNDED cosines (6 dp) with id tiebreaks everywhere
    * so list assignment and top-k are deterministic and engine-portable:
    * the DuckDB oracle replays training and search end to end. */
  def topKCosineIvf(probes: DataFrame, probeIdCol: String,
                    corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, coarseK: Int, subK: Int,
                    nprobeCells: Int, nprobeLeaves: Int): DataFrame = {
    require(nprobeCells <= coarseK && nprobeLeaves <= coarseK * subK,
      "topKCosineIvf: nprobeCells <= coarseK and nprobeLeaves <= coarseK·subK")
    val cb = trainIvf(corpus, idCol, vecCol, coarseK, subK)
    val assigned = assignLeaves(corpus, idCol, vecCol, cb)
      .select(col("_vid").as("_cid"), col("_vv").as("_cv"), col("_leaf"))
    val probeD = probes.select(col(probeIdCol).as("_pid"), asDoubles(vecCol).as("_pv"))
    // candidates = the routed leaves' inverted lists (the assignment
    // carries each vector, so no corpus re-join); exact rerank
    assigned.join(broadcast(probeLeaves(probeD, cb, nprobeCells, nprobeLeaves)), Seq("_leaf"))
      .filter(col("_pid") =!= col("_cid"))
      .select(col("_pid").as("probe_id"), col("_cid").as("vec_id"),
        round(cosine(col("_cv"), col("_pv")), 6).as("cos"))
      .transform(topN("probe_id", "cos", "vec_id", k, "rk"))
  }

  /** The (nprobeCells, nprobeLeaves) doubling ladder [[autoNprobe]]
    * walks: leaves double 1, 2, 4, ... below coarseK·subK; the cell
    * fan-out tracks them at cells = min(coarseK, ceilPow2(2·leaves /
    * subK)) — enough cells that the leaf pick always has ~2× slack,
    * snapped to powers of two like every knob in the family. The
    * terminal step is (coarseK, coarseK·subK): every leaf searched,
    * recall 1.0, so a ladder walk always terminates with the target
    * met or the full scan reached. Deterministic and closed-form, so
    * the DuckDB oracle splices the same ladder as a VALUES table. */
  def twoLevelLadder(coarseK: Int, subK: Int): Seq[(Int, Int)] = {
    require(coarseK >= 1 && subK >= 1, "twoLevelLadder: coarseK, subK >= 1")
    def ceilPow2(x: Int): Int = { var p = 1; while (p < x) p *= 2; p }
    Iterator.iterate(1)(_ * 2).takeWhile(_ < coarseK * subK).toVector
      .map(lv => (math.min(coarseK, math.max(1, ceilPow2(2 * lv / subK))), lv)) :+
      ((coarseK, coarseK * subK))
  }

  /** Recall-targeted autotune — the accept/reject knob a pipeline turns
    * before trusting an IVF index: the leftmost step of
    * [[twoLevelLadder]] whose MEAN recall@k against the exact
    * brute-force top-k reaches `targetRecall` on the probe set.
    * Returns ((nprobeCells, nprobeLeaves), the mean recall achieved,
    * one (probe id, hits) row per probe at that step, zero-filled, in
    * probe-id order). For a flat (1, nlist) index the ladder is nprobe
    * = 1, 2, 4, ..., nlist; recall is monotone there (a larger nprobe
    * searches a superset of lists), so the leftmost passing step is
    * also the smallest passing nprobe.
    *
    * LINEAR ladder walk, not binary search: above one cell recall is
    * NOT guaranteed monotone across the joint ladder — widening the
    * cell set can re-rank WHICH leaves the probe visits (the
    * top-nprobeLeaves among more cells' leaves is not a superset of
    * the pick among fewer).
    *
    * The walk is driver arithmetic over [[ladderHits]]: no ladder step
    * runs a Spark job. For probe choice at scale, [[sampleProbes]] is
    * the documented default: a deterministic md5-ordered sample, so a
    * 100 TB user never hand-picks probe ids. */
  def autoNprobe(probes: DataFrame, probeIdCol: String,
                 corpus: DataFrame, idCol: String, vecCol: String,
                 k: Int, coarseK: Int, subK: Int,
                 targetRecall: Double = 0.9): ((Int, Int), Double, Seq[(Long, Long)]) = {
    val steps = ladderHits(probes, probeIdCol, corpus, idCol, vecCol, k, coarseK, subK)
    val recalls = steps.map { case (_, hits) => hits.map(_._2).sum.toDouble / (k.toLong * hits.size) }
    System.err.println(s"[graft-ann] autoNprobe: recall@$k by step " + steps.zip(recalls)
      .map { case ((step, _), r) => f"$step=$r%.3f" }.mkString(" "))
    val i = recalls.indexWhere(_ >= targetRecall) match { case -1 => steps.size - 1; case j => j }
    (steps(i)._1, recalls(i), steps(i)._2)
  }

  /** Every [[twoLevelLadder]] step of a freshly trained (coarseK, subK)
    * index with its per-probe hits — (probe id, how many exact top-k
    * members the step's [[topKCosineIvf]] top-k recovers), zero-filled,
    * in probe-id order — from two collects and no per-step job.
    *
    * Exact by structure: the search ranks its candidates by (6-dp
    * cosine desc, id), the same total order the exact top-k ranks the
    * whole corpus by. An exact member among a step's candidates is
    * outranked there only by other exact members, so it is in the
    * step's top-k; and the step's top-k holds only candidates. So the
    * hits are the exact members whose leaf the probe visits at that
    * step: every step's routing ([[routeCells]], then [[routeLeaves]])
    * is one pass over the probe side, and the exact arm is probes × k
    * rows, each member carrying its leaf. The terminal step visits
    * every leaf, so its hits are every exact member. */
  private[graft] def ladderHits(probes: DataFrame, probeIdCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, coarseK: Int, subK: Int): Seq[((Int, Int), Seq[(Long, Long)])] = {
    val cb = trainIvf(corpus, idCol, vecCol, coarseK, subK)
    val ladder = twoLevelLadder(coarseK, subK)
    val probeD = probes.select(col(probeIdCol).as("_pid"), asDoubles(vecCol).as("_pv"))
    // each distinct cell pick is one column the leaf picks read: a cell
    // pick repeated inside one projection is a common subexpression,
    // and Spark orders those by hash — the codebook's identity hash —
    // so the generated code would differ from run to run
    val cellPicks = ladder.map(_._1).distinct.map(c => routeCells(col("_pv"), cb, c).as(s"_c$c"))
    val routes = probeD.select(col("_pid") +: col("_pv") +: cellPicks: _*)
      .select(col("_pid") +: ladder.map { case (c, l) => routeLeaves(col("_pv"), cb, col(s"_c$c"), l) }: _*)
      .collect().map(r => r.getLong(0) -> ladder.indices.map(i => r.getSeq[Long](i + 1).toSet))
      .sortBy(_._1)
    require(routes.nonEmpty, "autoNprobe: empty probe set")
    // the exact top-k: a WindowGroupLimit, so at most k rows per probe
    // per partition reach the shuffle
    val exact = assignLeaves(corpus, idCol, vecCol, cb)
      .crossJoin(broadcast(probeD))
      .filter(col("_vid") =!= col("_pid"))
      .select(col("_pid"), col("_vid"), col("_leaf"),
        round(cosine(col("_vv"), col("_pv")), 6).as("_cos"))
      .transform(topN("_pid", "_cos", "_vid", k, "_rk"))
      .select(col("_pid"), col("_leaf"))
      .collect().groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)) }
    ladder.zipWithIndex.map { case (step, i) =>
      step -> routes.toSeq.map { case (pid, visits) =>
        pid -> exact.getOrElse(pid, Array.empty[Long]).count(visits(i)).toLong
      }
    }
  }

  /** The cell ids (array) a probe vector `pv` searches with `cells`
    * cells: [[nearestN]] over the coarse book. */
  private def routeCells(pv: Column, cb: TwoLevelCodebook, cells: Int): Column =
    nearestN(pv, cb.coarseBook, lit(0L), cells)("id")

  /** The leaf ids (array) `pv` visits among the cells `cellIds`: its
    * `leaves` best leaves of those cells — [[nearestN]] over the leaf
    * book with the cells as the groups. */
  private def routeLeaves(pv: Column, cb: TwoLevelCodebook, cellIds: Column, leaves: Int): Column =
    nearestN(pv, cb.leafBook, cellIds, leaves)("id")

  /** Probe-side IVF routing as rows, (_pid, _pv, _leaf): a probe
    * searching (cells, leaves) visits its `leaves` best leaves among
    * its `cells` best cells, one row per leaf. */
  private def probeLeaves(probeD: DataFrame, cb: TwoLevelCodebook,
                          cells: Int, leaves: Int): DataFrame =
    probeD.select(col("_pid"), col("_pv"),
      explode(routeLeaves(col("_pv"), cb, routeCells(col("_pv"), cb, cells), leaves)).as("_leaf"))

  /** Each `part` group's `n` best rows by (`score` desc, `id`), ranked
    * 1..n in column `rank` — the rounded-score, id-tiebreak top-n every
    * ANN path ranks with (WindowGroupLimit prunes before the sort). */
  private def topN(part: String, score: String, id: String, n: Int,
                   rank: String)(df: DataFrame): DataFrame =
    df.withColumn(rank, row_number().over(
        Window.partitionBy(col(part)).orderBy(col(score).desc, col(id))))
      .filter(col(rank) <= n)

  /** Deterministic probe sample for the recall autotuners: the `n`
    * corpus rows with the smallest md5(id) — the
    * [[Sampling.hashSample]] discipline as a fixed-size pick, executed
    * as a distributed top-n (TakeOrdered — no global sort, no shuffle
    * of the corpus), so a production caller never hand-selects probe
    * ids and two runs over the same corpus tune on the same probes.
    * Returns (idCol, vecCol). */
  def sampleProbes(corpus: DataFrame, idCol: String, vecCol: String,
                   n: Int = 64): DataFrame = {
    require(n >= 1, "sampleProbes: n >= 1")
    corpus.select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(n)
  }

  /** The deterministic IVF quantizer on its own: every vector labeled
    * with its leaf cluster of a freshly trained (coarseK, subK)
    * codebook ([[trainIvf]]; a flat k-means of nlist clusters is the
    * shape (1, nlist)) — clustering for corpus structure analysis
    * (per-cluster profiles, mixture balancing, shard assignment). The
    * codebook rides in the scan as data; the corpus is scanned once
    * per round and never shuffled on the cluster key. Returns (idCol,
    * cluster_id, cent_cos). */
  def assignClusters(corpus: DataFrame, idCol: String, vecCol: String,
                     coarseK: Int, subK: Int): DataFrame =
    assignLeaves(corpus, idCol, vecCol, trainIvf(corpus, idCol, vecCol, coarseK, subK))
      .select(col("_vid").as(idCol), col("_leaf").as("cluster_id"),
        col("_lcos").as("cent_cos"))

  /** Sentinel shape knob: a front door called with coarseK and subK
    * both at AutoNlist derives the shape from a corpus count
    * ([[autoShape]]) instead of taking it on faith — the semantic
    * family's front-door dispatch, mirroring the text-dedup family's
    * count-only cutoff analysis (Dedup.nearDupPairs). */
  val AutoNlist: Int = 0

  /** Target per-cluster population [[deriveNlist]] aims for. The pair
    * stage costs ~N·(N/nlist) cosines, so a fixed cluster size makes
    * per-VECTOR pair work constant as the corpus grows. 1024 puts the
    * 100× fixture (200k vectors) at nlist=256 — the measured flat
    * region of the SCALING.md nlist table (15.7 s where nlist=16
    * ground 184 s pair-bound and nlist=1024 paid 47.9 s of
    * assignment). */
  val TargetClusterSize: Long = 1024L

  /** Bound on the derived codebook: 4096 centroids × d doubles is the
    * largest broadcast table the one-level quantizer should carry
    * (past it, assignment cost N·nlist dominates — the next tier is a
    * hierarchical coarse quantizer, not a bigger flat one). */
  val MaxAutoNlist: Int = 4096

  /** The data-driven nlist: ≈ max(16, N / [[TargetClusterSize]]),
    * snapped UP to a power of two. Powers of two keep the knob coarse
    * and predictable across nearby corpus sizes. */
  def deriveNlist(n: Long,
                  targetClusterSize: Long = TargetClusterSize): Int = {
    require(targetClusterSize > 0, "deriveNlist: targetClusterSize must be > 0")
    val raw = math.max(16L, (n + targetClusterSize - 1) / targetClusterSize)
    var p = 16L
    while (p < raw && p < MaxAutoNlist) p *= 2
    p.toInt
  }

  /** Ceiling on the flat tier's N·nlist (vector, centroid) pairs for
    * [[deriveTwoLevel]]. Set when the wide flat assignment materialized
    * one row per pair (measured dead at 1M×4096 through its sort
    * scratch, clean at 2e8 pairs — SCALING.md rounds 12–13); the native
    * nearest-centroid scan materializes none, but the bound still caps
    * per-vector assignment work at the point where two levels cost ~85×
    * less, and keeping it keeps every derived shape where it was. */
  val FlatAssignRowBudget: Long = 1000000000L

  /** Codebook size up to which [[deriveTwoLevel]] keeps every corpus
    * flat whatever [[FlatAssignRowBudget]] says. 32 was the largest
    * codebook the old literal-fold assignment ran; it stays the
    * threshold so no derived shape moves. */
  private[graft] val SmallFlatNlist: Int = 32

  /** Bytes one fat (id, d-dim vector) row costs in memory: ~8·d payload
    * + ~48 B row overhead (d=64 → ~560 B) — the per-row estimate
    * [[BroadcastIncByteBudget]] sizes the increment broadcast with. */
  def fatAssignBytesPerRow(d: Int): Long = 48L + 8L * d

  /** The tier ABOVE the flat quantizer: dispatch to two-level and
    * return Some((coarseK, subK)) when EITHER (a) the corpus wants
    * more leaves than the flat codebook should carry (raw = N /
    * [[TargetClusterSize]] > [[MaxAutoNlist]], i.e. past ~4M vectors),
    * or (b) the flat assignment's N·deriveNlist(N) (vector, centroid)
    * pairs exceed [[FlatAssignRowBudget]] (past ~1M vectors at the
    * default target). coarseK·subK >= raw leaves at
    * N·(coarseK + subK) assignment work instead of the flat N·raw
    * (a flat 16384-leaf codebook costs 85x more per vector than
    * 128x128). coarseK is the largest power of two with coarseK² <=
    * raw, floored at 16 — best-effort for tiny raw: below raw = 256
    * the 16 floor exceeds √raw, which is unreachable from the current
    * dispatch thresholds (a Some() here implies raw ≳ 1000) but would
    * merely over-split the top level, not break correctness, if the
    * budget constants were ever lowered. subK is the smallest power of
    * two with coarseK·subK >= raw. Below both bounds: None (the flat
    * path is the right plan — one codebook, no second pass). */
  def deriveTwoLevel(n: Long,
                     targetClusterSize: Long = TargetClusterSize): Option[(Int, Int)] = {
    require(targetClusterSize > 0, "deriveTwoLevel: targetClusterSize must be > 0")
    val raw = math.max(16L, (n + targetClusterSize - 1) / targetClusterSize)
    val flatNlist = deriveNlist(n, targetClusterSize)
    val flatRows = n * flatNlist
    if (raw <= MaxAutoNlist &&
        (flatNlist <= SmallFlatNlist || flatRows <= FlatAssignRowBudget)) None
    else Some(twoLevelShape(n, targetClusterSize))
  }

  /** The (coarseK, subK) factorization [[deriveTwoLevel]]'s Some branch
    * uses, exposed on its own for callers whose DISPATCH rule is not
    * the count (the pair source dispatches on measured LSH candidate
    * mass — a skewed 200k corpus can need the tier long before the
    * count rule would fire). Same contract: both powers of two,
    * coarseK² <= raw (16 floor), coarseK·subK >= raw. */
  private[graft] def twoLevelShape(n: Long,
      targetClusterSize: Long = TargetClusterSize): (Int, Int) = {
    val raw = math.max(16L, (n + targetClusterSize - 1) / targetClusterSize)
    var c = 16L
    while (c * 2 * c * 2 <= raw) c *= 2
    var s = c
    while (c * s < raw) s *= 2
    (c.toInt, s.toInt)
  }

  /** The shape a front door runs at: the caller's (coarseK, subK), or —
    * both at [[AutoNlist]] — the one the corpus count `n` derives:
    * [[deriveTwoLevel]]'s past the flat ceiling, else one cell of
    * [[deriveNlist]] lists. `n` is by-name, so a forced shape never
    * pays the count pass. */
  private def autoShape(op: String, coarseK: Int, subK: Int, n: => Long): (Int, Int) =
    if (coarseK != AutoNlist || subK != AutoNlist) (coarseK, subK) else {
      val m = n
      val (c, s) = deriveTwoLevel(m).getOrElse((1, deriveNlist(m)))
      System.err.println(s"[graft-ann] $op: auto coarseK=$c subK=$s " +
        s"(${c * s} lists) for $m vectors (~${m / (c.toLong * s)} per list)")
      (c, s)
    }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster with the IVF quantizer
    * ([[assignClusters]]), compare pairs ONLY within each leaf cluster,
    * and mark the higher id of every pair at cosine >= `threshold` as
    * dropped. Returns one row per input vector:
    * (idCol, cluster_id, is_dropped).
    *
    * The shape is THE scale knob: the pair stage costs ~N²/(coarseK·subK)
    * cosine evaluations while assignment stays N·(coarseK + subK), so
    * growing the leaf count with the corpus keeps per-cluster
    * populations — and per-vector pair work — constant. The default
    * is the [[AutoNlist]] front door: one count pass derives the shape
    * ([[autoShape]]) so the knob turns itself — one cell of
    * N/[[TargetClusterSize]] lists below the flat ceiling, two levels
    * above it — measured at the 100× fixture (200k vectors,
    * SemDedupScale tool): the derived nlist=256 runs in the flat
    * region where a fixed nlist=16 ground 184 s pair-bound (SCALING.md
    * table). Callers that must pin the codebook (the oracle-replayed
    * queries) pass the shape explicitly. Exact twins land in the same
    * cell AND leaf at ANY shape (identical direction ⇒ identical
    * argmax at both levels), so recall on true duplicates does not
    * depend on the knob. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    coarseK: Int = AutoNlist, subK: Int = AutoNlist,
                    threshold: Double = 0.99): DataFrame = {
    val (c, s) = autoShape("semanticDedup", coarseK, subK, corpus.count())
    // dedupWithAssignment checkpoints the assignment eagerly, so inside
    // the loan it reads the training's cached cells instead of re-running
    // the coarse assignment scan
    withIvfCodebook(corpus, idCol, vecCol, c, s) { (_, assigned) =>
      dedupWithAssignment(corpus, idCol, vecCol, assigned, threshold)
    }
  }

  /** The cluster-bounded PAIR stage dedup and the leaf pair source
    * share: pairwise cosine WITHIN each assigned cluster, pairs at
    * cos >= threshold emitted as (i, j, cos), i < j. `assigned` =
    * (idCol, cluster_id). The pair rows are produced INSIDE the
    * cluster-keyed join's output iterator and filtered immediately —
    * the shuffle mass is N fat rows (linear in the corpus), never the
    * pair mass, which is what lets this shape carry a pair stage the
    * candidate-materializing LSH path cannot (see
    * [[nearDupPairsAuto]]). */
  private def pairsWithAssignment(corpus: DataFrame, idCol: String,
      vecCol: String, assigned: DataFrame, threshold: Double): DataFrame = {
    val av = corpus.select(col(idCol), col(vecCol)).join(assigned, Seq(idCol))
    av.as("a")
      .join(av.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("_pcos", cosine(col(s"a.$vecCol"), col(s"b.$vecCol")))
      .filter(col("_pcos") >= threshold)
      .select(col(s"a.$idCol").as("i"), col(s"b.$idCol").as("j"),
        round(col("_pcos"), 6).as("cos"))
  }

  /** The dedup pair stage [[semanticDedup]] and [[buildSemanticIndex]]
    * share: pairwise cosine WITHIN each assigned cluster, drop the
    * higher id at cos >= threshold. `assigned` = (idCol, cluster_id). */
  private def dedupWithAssignment(corpus: DataFrame, idCol: String,
      vecCol: String, assigned: DataFrame, threshold: Double): DataFrame = {
    // The assignment is referenced THREE times below (both sides of the
    // pair self-join via `av`, plus the verdict join) — and above one
    // cell each reference re-ran the whole leaf assignment
    // (the r16 plan audit counted it three times in one
    // semantic_dedup_twolevel plan). Materialize the slim (id,
    // cluster_id) frame ONCE — N 16-byte rows, linear and far smaller
    // than the pair-stage shuffle that follows. localCheckpoint, not
    // persist: see GraftSession's lifetime rule.
    val a = assigned.localCheckpoint(true)
    val dropped = pairsWithAssignment(corpus, idCol, vecCol, a, threshold)
      .select(col("j").as(idCol)).distinct()
      .withColumn("is_dropped", lit(true))
    a.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"),
        coalesce(col("is_dropped"), lit(false)).as("is_dropped"))
  }

  /** The IVF codebook: `coarse` top-level cells plus per-cell
    * sub-centroid `leaves` — (cell_id, leaf_id, vec), leaf ids globally
    * unique (they stay the seed vector ids). Its shape (coarseK, subK)
    * spans both tiers (public design: Faiss IVF and its two-level /
    * IMI family): a flat k-means of nlist lists is (1, nlist) — one
    * cell holding every leaf — and above [[MaxAutoNlist]] the two
    * levels cost N·(coarseK + subK) cosines per assignment instead of
    * the flat N·(coarseK·subK). */
  case class TwoLevelCodebook(coarse: Seq[(Long, Seq[Double])],
                              leaves: Seq[(Long, Long, Seq[Double])]) {
    def leafCount: Int = leaves.size
    @transient private[graft] lazy val coarseBook: Codebook = Codebook.flat(coarse)
    @transient private[graft] lazy val leafBook: Codebook = Codebook(leaves)
  }

  object TwoLevelCodebook {
    /** A flat codebook as the one-cell shape: the cell is keyed by the
      * first entry's id and stores its vector (at one cell routing never
      * reads it — [[cellAssign]]); leaves sorted by id. */
    def oneCell(flat: Seq[(Long, Seq[Double])]): TwoLevelCodebook =
      TwoLevelCodebook(flat.take(1), flat.map(e => (flat.head._1, e._1, e._2)).sortBy(_._2))
  }

  /** Train the IVF codebook at shape (coarseK, subK): coarse k-means
    * ([[trainFlat]] — hash seeds, 6-dp re-anchoring, id tiebreaks),
    * assign every vector to its coarse cell ONCE (persisted), then
    * train subK sub-centroids INSIDE each cell — seeds are the subK
    * smallest-md5 ids per cell (WindowGroupLimit prunes the seed scan
    * in-shuffle, so only ~partitions·coarseK·subK rows ever cross the
    * exchange), and the sub-rounds are the same [[lloyd]] ladder with
    * the cell as each row's group (a vector meets only its own cell's
    * leaves). Only the coarseK·subK × d model crosses the driver
    * boundary between rounds.
    *
    * At coarseK = 1 the leaves ARE the flat quantizer trainFlat(subK)
    * and no coarse work runs: one cell holds everything, so the
    * per-cell seed order is the global md5 order and the sub-Lloyd
    * rounds are the flat Lloyd rounds (AnnSpec pins the results
    * against the flat quantizer's). The cell keeps the first seed's
    * id. Exact/scaled twins land in the same cell AND the same leaf at
    * any codebook (identical direction ⇒ identical argmax at both
    * levels), so dedup recall on true duplicates does not depend on
    * the shape. Training is deterministic, so the tuner and the search
    * train the same codebook from the same corpus. */
  def trainIvf(corpus: DataFrame, idCol: String, vecCol: String,
               coarseK: Int, subK: Int,
               iters: Int = LloydIters): TwoLevelCodebook =
    withIvfCodebook(corpus, idCol, vecCol, coarseK, subK, iters)((cb, _) => cb)

  /** Loan-pattern face of [[trainIvf]]: above one cell, training
    * materializes the coarse cell assignment (`cells`, persisted for
    * the sub-Lloyd rounds) and every dedup/pair caller immediately
    * needs the leaf assignment derived from it. `f` gets that
    * assignment — (idCol, cluster_id), a projection of the cached cells
    * — and runs while they are still cached, so a caller that
    * checkpoints it inside `f` reads the cache instead of re-running
    * the coarse scan; the unpersist stays in-call (invocation-scoped —
    * no cross-run cache leak). Plans that escape `f` lazily stay
    * CORRECT after the unpersist (the logical subtree just
    * recomputes). At one cell nothing is persisted: the assignment is
    * the flat nearest-leaf projection. */
  private[graft] def withIvfCodebook[T](corpus: DataFrame, idCol: String,
      vecCol: String, coarseK: Int, subK: Int, iters: Int = LloydIters)(
      f: (TwoLevelCodebook, DataFrame) => T): T = {
    import org.apache.spark.storage.StorageLevel
    require(coarseK >= 1 && subK >= 1, "trainIvf: coarseK and subK must be >= 1")
    def leafAssignment(cells: DataFrame, cb: TwoLevelCodebook) =
      bestLeaf(cells, cb.leafBook).select(col("_vid").as(idCol), col("_leaf").as("cluster_id"))
    if (coarseK == 1) {
      val cb = TwoLevelCodebook.oneCell(trainFlat(corpus, idCol, vecCol, subK, iters))
      f(cb, leafAssignment(cellAssign(corpus, idCol, vecCol, cb), cb))
    } else {
      val coarse = trainFlat(corpus, idCol, vecCol, coarseK, iters)
      val cells = cellAssign(corpus, idCol, vecCol, TwoLevelCodebook(coarse, Nil))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // per-cell seeds: subK smallest md5(id) in each cell — the
        // hashCentroids sample, partitioned. rk <= subK is pruned by
        // WindowGroupLimit before the exchange.
        val wSeed = Window.partitionBy(col("_cell"))
          .orderBy(md5(col("_vid").cast("string")), col("_vid"))
        val seeds = cells
          .withColumn("_rk", row_number().over(wSeed))
          .filter(col("_rk") <= subK)
          .select(col("_cell"), col("_vid"), col("_vv"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toVector: Seq[Double])).toSeq
          .sortBy(l => (l._1, l._2))
        val cb = TwoLevelCodebook(coarse,
          lloyd(cells, Seq(col("_cell") -> col("_vv")), seeds, l2 = false, iters))
        f(cb, leafAssignment(cells, cb))
      } finally { cells.unpersist(); () }
    }
  }

  /** (idCol -> _vid, double vec -> _vv, coarse cell -> _cell): the
    * one-pass coarse assignment both training and search share. A
    * one-cell codebook routes every vector to its cell without
    * scoring it. */
  private def cellAssign(corpus: DataFrame, idCol: String, vecCol: String,
                         cb: TwoLevelCodebook): DataFrame =
    corpus.select(col(idCol).as("_vid"), asDoubles(vecCol).as("_vv"))
      .withColumn("_cell",
        if (cb.coarse.size == 1) lit(cb.coarse.head._1)
        else nearest(col("_vv"), cb.coarseBook)("id"))

  /** Per-vector best leaf WITHIN its coarse cell — the cell is the
    * row's group in the leaf codebook, so a vector only meets its own
    * cell's <= subK leaves, in one projection (no join, no aggregate).
    * A vector whose cell holds no leaf (a frozen codebook's empty
    * cell) is dropped. Returns (_vid, _vv, _leaf, _lcos). */
  private def bestLeaf(cells: DataFrame, leaves: Codebook): DataFrame =
    cells.select(col("_vid"), col("_vv"),
        nearest(col("_vv"), leaves, col("_cell")).as("_b"))
      .filter(col("_b").isNotNull)
      .select(col("_vid"), col("_vv"), col("_b.id").as("_leaf"),
        col("_b.score").as("_lcos"))

  /** Assignment against a FROZEN codebook (no retraining). */
  def assignLeaves(corpus: DataFrame, idCol: String, vecCol: String,
                   cb: TwoLevelCodebook): DataFrame =
    bestLeaf(cellAssign(corpus, idCol, vecCol, cb), cb.leafBook)

  /** Frozen semantic-dedup index: the trained codebook plus the KEPT
    * (deduplicated) corpus vectors labeled with their leaf clusters —
    * the signature-store contract for embeddings. Build once per
    * corpus; increments then dedup against the store
    * ([[semanticDedupAgainstIndex]]) without retraining centroids or
    * rescanning anything but the matching clusters. */
  case class SemanticIndex(codebook: TwoLevelCodebook, kept: DataFrame,
                           builtN: Long = -1L,
                           // the kept layout's OWN bucket count: read
                           // from the store meta, defaulted for
                           // in-memory indexes; every group filter on
                           // this index must use it, never the constant
                           groups: Int = SemanticStoreGroups)

  /** Train the codebook on the corpus, drop its internal near-dups, and
    * freeze (codebook, kept vectors) as the [[SemanticIndex]]. The
    * default shape is the [[AutoNlist]] front door, so a store frozen
    * from a 100× corpus gets a 100×-appropriate codebook without
    * anyone remembering to turn the knob — and past the flat
    * quantizer's ceiling ([[deriveTwoLevel]]) the frozen codebook has
    * two levels, so a billion-vector store never grinds its build on a
    * flat 4096-leaf assignment; `builtN` records the corpus size the
    * codebook was trained at, the staleness denominator downstream
    * consumers (semanticDedupSink) check against. */
  def buildSemanticIndex(corpus: DataFrame, idCol: String, vecCol: String,
                         coarseK: Int = AutoNlist, subK: Int = AutoNlist,
                         threshold: Double = 0.99): SemanticIndex = {
    val n = corpus.count()
    val (c, s) = autoShape("buildSemanticIndex", coarseK, subK, n)
    withIvfCodebook(corpus, idCol, vecCol, c, s) { (cb, assigned) =>
      SemanticIndex(cb, dedupWithAssignment(corpus, idCol, vecCol, assigned, threshold)
        .filter(!col("is_dropped"))
        .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
        .select(col(idCol), col("cluster_id"), col(vecCol)), builtN = n)
    }
  }

  /** Persist a [[SemanticIndex]] (the writePqIndex discipline): kept
    * vectors PARTITIONED BY cluster group ([[clusterGroup]] — the
    * layout that lets an increment-driven comparison read
    * partition-prune the store to the clusters it can possibly match),
    * the codebook as its coarse (cent_id, cv) and leaf (cell, leaf_id,
    * cv) tables, and a one-row meta table carrying builtN. This is what makes the
    * streaming [[graft.streaming.StreamOps.semanticDedupSink]]
    * RESTARTABLE without retraining: a restarted driver reads the
    * frozen store instead of re-running Lloyd on the corpus (whose
    * verdicts a retrain could silently change). */
  def writeSemanticIndex(index: SemanticIndex, dir: String): Unit = {
    val spark = index.kept.sparkSession
    import spark.implicits._
    // group count derived from the STORE SIZE at write time (builtN
    // bounds the kept count from above and is already known — no
    // re-execution of the kept computation to count it); recorded in
    // the meta table so readers prune with the layout's own count
    val d = index.codebook.leaves.headOption.map(_._3.size).getOrElse(0)
    val grps = deriveStoreGroups(index.builtN, d)
    index.kept
      .withColumn("cluster_grp", clusterGroup(col("cluster_id"), grps))
      // co-locate each group before the partitioned write: ONE file
      // per group directory instead of (write tasks × groups) shards;
      // then ORDER each group file by cluster_id, so parquet row-group
      // min/max stats sub-prune a narrow increment's cluster_id IN
      // filter below group granularity (the round-15 46-of-64-groups
      // finding: group pruning alone is coarse for weakly-clustered
      // traffic).
      .repartition(grps, col("cluster_grp"))
      .sortWithinPartitions(col("cluster_grp"), col("cluster_id"))
      .write.partitionBy("cluster_grp")
      .mode("overwrite").parquet(s"$dir/kept")
    index.codebook.coarse.toDF("cent_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
    index.codebook.leaves.toDF("cell", "leaf_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/leaves")
    Seq((index.builtN, grps)).toDF("built_n", "groups")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted [[SemanticIndex]]. Codebooks come back sorted by
    * id (argmax ties break on the id itself, so Seq order never
    * affects verdicts); `kept` stays a lazy parquet read — at
    * production scale the kept store is corpus-sized and must never
    * transit the driver. The `cluster_grp` partition column rides
    * along so downstream group filters ([[pruneKeptToGroups]])
    * partition-prune the scan; consumers that join the store select
    * their columns explicitly, so the extra column is inert. Stores
    * written before the partitioned layout read fine — the pruner
    * falls back to computing the group — and so do flat stores written
    * before the one-codebook layout (a `cents` table and a false
    * `two_level` meta flag, no leaves table): read as one cell. */
  def readSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String): SemanticIndex = {
    val metaDf = spark.read.parquet(s"$dir/meta")
    val meta = metaDf.collect().head
    // stores written before the size-derived layout carry no `groups`
    // column; they were all bucketed at the 64 constant, so that IS
    // their layout's count
    val grps =
      if (metaDf.columns.contains("groups"))
        meta.getInt(meta.fieldIndex("groups"))
      else SemanticStoreGroups
    val cb =
      if (metaDf.columns.contains("two_level") && !meta.getAs[Boolean]("two_level"))
        TwoLevelCodebook.oneCell(readCodebook(spark, s"$dir/cents"))
      else TwoLevelCodebook(readCodebook(spark, s"$dir/coarse"),
        spark.read.parquet(s"$dir/leaves").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            r.getSeq[Double](2).toVector: Seq[Double]))
          .sortBy(l => (l._1, l._2)).toSeq)
    SemanticIndex(cb, spark.read.parquet(s"$dir/kept"), meta.getLong(0), grps)
  }

  /** A stored (id, vector) codebook table, sorted by id. */
  private def readCodebook(spark: org.apache.spark.sql.SparkSession,
                           path: String): Seq[(Long, Seq[Double])] =
    spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector: Seq[Double]))
      .sortBy(_._1).toSeq

  /** Cluster GROUPS the persisted kept store is bucketed into
    * ([[writeSemanticIndex]] partitions `kept` by
    * `cluster_grp = pmod(hash(cluster_id), SemanticStoreGroups)`).
    * A group, not raw cluster_id, because a scale-sized codebook has
    * thousands of leaves — one directory per leaf shatters the store
    * into tiny files, while 64 groups keep shards size-targeted AND
    * give an increment-driven read everything it needs: the comparison
    * join only ever matches an increment's own clusters, so filtering
    * the scan to the increment's GROUPS (a superset of its clusters)
    * changes nothing and partition-prunes the store read. */
  val SemanticStoreGroups: Int = 64

  /** Group-count ceiling for [[deriveStoreGroups]]: one directory per
    * group, so the knob is also a file-count knob — 4096 keeps a
    * pathological store from shattering into tens of thousands of
    * directories while still giving a ~280 GB kept store (10⁹ rows at
    * d=64) ~68 MiB files. */
  val MaxSemanticStoreGroups: Int = 4096

  /** Per-file size target the group count derives toward: groups
    * double until the estimated store bytes per group fall under this.
    * 128 MiB matches the session's scan split size, so one group file
    * is one scan task. */
  val TargetStoreFileBytes: Long = 128L << 20

  /** Derive the kept-store group count from the store's size instead
    * of pinning the 64 constant (round-15 finding: 64 is right at 1M
    * vectors and silently wrong past it — group pruning coarsens and
    * per-file size grows unbounded). Estimated bytes/row = 4·d (float
    * vector) + 24 (id, cluster_id, overhead); groups = the smallest
    * power of two ≥ [[SemanticStoreGroups]] that lands files under
    * [[TargetStoreFileBytes]], capped at [[MaxSemanticStoreGroups]].
    * Small stores (every fixture) derive exactly the old 64, so
    * existing layouts and oracle contracts are untouched. The WRITER
    * derives; READERS take the count from the store's meta table —
    * never this function — so bumping the constants can never
    * mis-prune a store written before the bump. */
  def deriveStoreGroups(nRows: Long, d: Int): Int = {
    if (nRows <= 0 || d <= 0) SemanticStoreGroups
    else {
      val bytes = nRows * (4L * d + 24L)
      var g = SemanticStoreGroups.toLong
      while (g < MaxSemanticStoreGroups && bytes / g > TargetStoreFileBytes)
        g *= 2
      g.toInt
    }
  }

  /** The store's bucketing rule — one definition, used by the writer,
    * the pruner, and the streaming sink's shard layout. `groups` MUST
    * be the layout's own count (an index's `groups` field / the meta
    * table), not the constant, or the filter prunes wrong buckets. */
  def clusterGroup(clusterId: Column, groups: Int): Column =
    pmod(hash(clusterId), lit(groups))

  /** [[clusterGroup]] at the default layout (in-memory indexes, tools). */
  def clusterGroup(clusterId: Column): Column =
    clusterGroup(clusterId, SemanticStoreGroups)

  /** Byte budget for broadcasting the INCREMENT side of the store
    * comparison join: under it, the kept store — the big side — is
    * never shuffled (broadcast-hash, store streams through in place);
    * over it, the join falls back to the shuffle plan. 128 MiB keeps
    * the broadcast well under executor/driver headroom at any
    * realistic dimensionality (~240k rows at d=64 via
    * [[fatAssignBytesPerRow]]). */
  val BroadcastIncByteBudget: Long = 128L << 20

  /** Prune a kept store to the cluster groups an increment touches.
    * Persisted stores carry the `cluster_grp` partition column — the
    * filter partition-prunes the parquet scan (and pushes through the
    * streaming sink's store∪shards union into every scan). In-memory
    * stores fall back to computing the group per row: no pruned I/O,
    * but the comparison join's input still shrinks to the touched
    * groups. */
  private[graft] def pruneKeptToGroups(kept: DataFrame,
                                       groups: Seq[Int],
                                       layoutGroups: Int = SemanticStoreGroups): DataFrame =
    if (kept.columns.contains("cluster_grp"))
      kept.filter(col("cluster_grp").isin(groups: _*))
    else kept.filter(clusterGroup(col("cluster_id"), layoutGroups).isin(groups: _*))

  /** The frozen-codebook assignment [[semanticDedupAgainstIndex]] keys
    * its joins with, exposed so callers (the streaming sink, store
    * tools) can reuse the exact rule: the increment routes through
    * coarse cell + leaf of the stored codebook — never retrained.
    * Returns (idCol, cluster_id). */
  def assignWithIndex(inc: DataFrame, idCol: String, vecCol: String,
                      index: SemanticIndex): DataFrame =
    assignLeaves(inc, idCol, vecCol, index.codebook)
      .select(col("_vid").as(idCol), col("_leaf").as("cluster_id"))

  /** Incremental semantic dedup against a FROZEN index: assign each
    * increment vector with the stored centroids (never retrained — the
    * encodePq discipline, so verdicts are stable as the store grows),
    * then drop it if it matches a stored kept vector in its cluster at
    * cos >= threshold, or a LOWER-id increment member (the batch drop
    * rule applied intra-increment). Work is increment-sized — enforced
    * by plan shape, not hope: one increment-sized aggregate measures
    * the increment's cluster-group footprint and row count, the store
    * read is pruned to those groups ([[pruneKeptToGroups]] —
    * partition-pruned on persisted stores), and when the increment
    * fits [[BroadcastIncByteBudget]] it is BROADCAST into both
    * comparison joins, so the store is never shuffled (it streams
    * through a broadcast-hash join in place). Verdicts are identical
    * on every route: pruned-away groups cannot match (the join keys on
    * cluster_id), and broadcast changes the plan, not the pairs.
    * Returns (idCol, cluster_id, is_dropped). */
  def semanticDedupAgainstIndex(inc: DataFrame, idCol: String, vecCol: String,
                                index: SemanticIndex,
                                threshold: Double = 0.99): DataFrame = {
    // Materialize the increment assignment ONCE (slim id → cluster
    // rows, increment-sized): the r16 plan audit counted the pre-change
    // plan re-deriving it per reference — the footprint collect, both
    // sides of the intra-increment self-join, the vs-store join and the
    // verdict join each re-ran the assignment over the increment union
    // (34 parquet scans in one semantic_dedup_store plan). Checkpoint
    // before the footprint collect so even that first job reads the
    // materialized frame. localCheckpoint, not persist: see
    // GraftSession's lifetime rule.
    val assigned = assignWithIndex(inc, idCol, vecCol, index).localCheckpoint(true)
    // one increment-sized pass: CLUSTER footprint (and the group
    // footprint it implies) and row count — the broadcast dispatch
    // measures, never guesses. Collect is driver-safe by construction:
    // distinct clusters ≤ the codebook size, and the codebook
    // (index.codebook) is already driver-resident.
    val gc = assigned.groupBy(col("cluster_id"),
        clusterGroup(col("cluster_id"), index.groups).as("_g"))
      .count().collect()
    val clusters = gc.map(_.getLong(0)).toSeq
    val groups = gc.map(_.getInt(1)).distinct.toSeq
    val nInc = gc.map(_.getLong(2)).sum
    // nInc == 0 short-circuits dimOf (a .first() that would throw on an
    // empty increment — a streaming replay/no-data micro-batch is a
    // legitimate caller); an empty broadcast side is free either way
    val bcast = nInc == 0L ||
      nInc * fatAssignBytesPerRow(dimOf(inc, vecCol)) <= BroadcastIncByteBudget
    // two-stage store prune: the group filter partition-prunes the
    // directory scan; the cluster_id IN filter then sub-prunes parquet
    // ROW GROUPS inside each touched group file (the writer orders
    // group files by cluster_id, so min/max stats are tight). Both are
    // superset filters over the comparison join's own cluster_id key —
    // verdicts are unchanged on every route.
    val pruned = pruneKeptToGroups(index.kept, groups, index.groups)
      .filter(col("cluster_id").isin(clusters: _*))
    semanticVerdicts(inc, idCol, vecCol, assigned, pruned, threshold, bcast)
  }

  /** [[semanticDedupAgainstIndex]]'s core on a precomputed assignment
    * and an (already pruned) kept store. `broadcastInc` puts the
    * increment on the build side of both comparison joins. */
  private[graft] def semanticVerdicts(inc: DataFrame, idCol: String,
      vecCol: String, assigned: DataFrame, kept: DataFrame,
      threshold: Double, broadcastInc: Boolean): DataFrame = {
    val av0 = inc.select(col(idCol), col(vecCol)).join(assigned, Seq(idCol))
    val av = if (broadcastInc) broadcast(av0) else av0
    val vsStore = av.as("a")
      .join(kept.select(col("cluster_id"),
          col(idCol).as("_sid"), col(vecCol).as("_sv")),
        Seq("cluster_id"))
      .filter(cosine(col(vecCol), col("_sv")) >= threshold)
      .select(col(idCol))
    val intra = av0.as("a")
      .join(av.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(cosine(col(s"a.$vecCol"), col(s"b.$vecCol")) >= threshold)
      .select(col(s"b.$idCol").as(idCol))
    val dropped = vsStore.unionByName(intra).distinct()
      .withColumn("is_dropped", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"),
        coalesce(col("is_dropped"), lit(false)).as("is_dropped"))
  }

  /** Lloyd rounds the IVF codebook trains with by default. Two rounds
    * capture most of the inertia drop (empirically the elbow on the
    * fixture corpus) while keeping the oracle SQL unrolled and cheap. */
  val LloydIters: Int = 2

  /** One Lloyd ladder for every codebook: flat k-means, the m PQ
    * subspace codebooks and the two-level leaves. `slots` gives each
    * row's (group, vector) pairs: the whole vector in group 0 for flat
    * k-means, subspace s's slice in group s for PQ, the whole vector in
    * its coarse cell for the leaves. `seeds` are (group, id, vector)
    * entries. Each round assigns every slot to its nearest centroid
    * within its group ([[nearest]] — one projection over the codebook
    * as data, the corpus never joined or shuffled) and recenters from
    * ONE mergeable (1+d)-double moment aggregate keyed on (group, id)
    * (vecSumAgg — the sum() shuffle shape), collected once: only the
    * model crosses the driver boundary between rounds.
    *
    * Engine-portable by construction: new components are rounded to
    * 6 dp each round THROUGH SPARK'S OWN round, so the DuckDB oracle's
    * unrolled `round(sum(v[i])/count(*), 6)` lands on the same grid and
    * both engines re-anchor every round. Empty centroids keep their
    * previous vector; ids stay the seed ids. vecSumAgg merges partial
    * buffers with order-sensitive double adds, so equality with other
    * plans of the same rounds (the m separate PQ ladders, the flat
    * quantizer at coarseK = 1) is pinned by AnnSpec and the oracle, not
    * structural. */
  private[graft] def lloyd(rows: DataFrame, slots: Seq[(Column, Column)],
      seeds: Seq[(Long, Long, Seq[Double])], l2: Boolean,
      iters: Int): Seq[(Long, Long, Seq[Double])] = {
    val d = seeds.headOption.map(_._3.size).getOrElse(0)
    var book = seeds
    for (_ <- 1 to iters if book.nonEmpty) {
      val cb = Codebook(book)
      // slice is 1-based, [] is 0-based: _s = [n, s_0..s_{d-1}]
      val sums = rows
        .select(explode(array(slots.map { case (g, v) =>
          struct(g.as("g"), nearest(v, cb, g, l2)("id").as("id"), v.as("v"))
        }: _*)).as("_e"))
        .groupBy(col("_e.g").as("_g"), col("_e.id").as("_id"))
        .agg(GramianFunctions.vecSumAgg(col("_e.v"), d).as("_s"))
        .select(col("_g"), col("_id"),
          expr(s"transform(slice(_s, 2, $d), x -> round(x / _s[0], 6))"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
      book = book.map { case (g, id, prev) => (g, id, sums.getOrElse((g, id), prev)) }
    }
    book
  }

  /** The flat spherical k-means codebook, (cent_id, vec) in seed order:
    * [[hashCentroids]] seeds refined by `iters` cosine [[lloyd]]
    * rounds. */
  private def trainFlat(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = LloydIters): Seq[(Long, Seq[Double])] = {
    val seeds = hashCentroids(corpus, idCol, vecCol, nlist).collect()
      .map(r => (0L, r.getLong(0), r.getSeq[Double](1))).toSeq
    lloyd(corpus.select(asDoubles(vecCol).as("_vv")), Seq(lit(0L) -> col("_vv")),
      seeds, l2 = false, iters).map(e => (e._2, e._3))
  }

  /** struct(score, id) of `vec`'s nearest centroid within its `group`
    * of `book` — [[NearestCentroidExpr]]: 6-dp rounded cosine argmax
    * (or squared-L2 argmin when `l2`), smallest id on ties. The
    * codebook rides as a reference object, so the generated code is
    * the same for every codebook size and value. */
  private def nearest(vec: Column, book: Codebook, group: Column = lit(0L),
                      l2: Boolean = false): Column =
    NativeExpressions.nearestCentroid(vec, group, book, l2)

  /** array<struct(score, id)> of `vec`'s `n` nearest centroids over the
    * union of `groups` (a long key or an array of keys), best first —
    * [[nearest]]'s kernel and order. */
  private def nearestN(vec: Column, book: Codebook, groups: Column, n: Int): Column =
    NativeExpressions.nearestCentroids(vec, groups, book, n, l2 = false)

  /** `df` once per each of its `n` nearest flat lists (`_list`), ranked
    * by [[nearestN]] over its vector column `vec`. */
  private def withLists(df: DataFrame, vec: String, book: Codebook, n: Int): DataFrame =
    df.withColumn("_list", explode(nearestN(col(vec), book, lit(0L), n)("id")))

  /** An embedding column cast element-wise to double. */
  private def asDoubles(vecCol: String): Column =
    expr(s"transform($vecCol, x -> cast(x as double))")

  /** Deterministic coarse-quantizer codebook: the nlist vectors with
    * the smallest md5(id) — an unbiased sample, stable across runs and
    * engines (the DuckDB oracle rebuilds it verbatim). */
  private[graft] def hashCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                            nlist: Int): DataFrame =
    corpus
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nlist)
      // array<double> so every downstream cosine runs in the same
      // precision the DuckDB oracles use — a float-vs-double cosine
      // landing exactly on a 6-dp rounding boundary would diverge
      .select(col(idCol).as("_cent_id"), asDoubles(vecCol).as("_cent_vec"))

  /** The production memory-bounded ANN shape: IVF candidate generation
    * scored against INT8-QUANTIZED vectors (what a 100 TB deployment
    * keeps in RAM — 4x smaller than float32), then an exact float
    * re-rank of only the top `coarseK` candidates per probe (the only
    * rows that ever touch full-precision storage). Same deterministic
    * codebook and tie-breaks as [[topKCosineIvf]]; quantization is the
    * symmetric per-vector absmax/127 scheme the `embed_quantize` oracle
    * pins cross-engine, and every cosine is rounded before ranking so
    * the candidate ordering is engine-portable.
    *
    * Returns (probe_id, vec_id, cos, rk) with EXACT cosines, k rows per
    * probe — coarse scores order candidates but never leave the plan. */
  def topKCosineIvfRerank(probes: DataFrame, probeIdCol: String,
                          corpus: DataFrame, idCol: String, vecCol: String,
                          k: Int, nlist: Int = 16, nprobe: Int = 4,
                          coarseK: Int = 12): DataFrame = {
    require(nprobe <= nlist, "topKCosineIvfRerank: nprobe must be <= nlist")
    require(coarseK >= k, "topKCosineIvfRerank: coarseK must be >= k")
    val book = Codebook.flat(trainFlat(corpus, idCol, vecCol, nlist))
    // int8 reconstruction qv*qscale as a double array: the coarse store
    val recon = corpus.select(col(idCol).as("_mid"), asDoubles(vecCol).as("_fv"))
      .withColumn("_qscale",
        expr("""case when round(array_max(transform(_fv, x -> abs(x))) / 127.0, 9) = 0
                then 1.0 else round(array_max(transform(_fv, x -> abs(x))) / 127.0, 9) end"""))
      .withColumn("_mv",
        expr("transform(_fv, x -> cast(round(x / _qscale, 0) as double) * _qscale)"))
    val assigned = recon.select(col("_mid").as("_cid"), col("_mv").as("_cqv"),
      nearest(col("_mv"), book)("id").as("_list"))
    val probeLists = withLists(probes.select(col(probeIdCol).as("_pid"),
      asDoubles(vecCol).as("_pv")), "_pv", book, nprobe)
    val coarse = assigned.join(broadcast(probeLists), "_list")
      .filter(col("_pid") =!= col("_cid"))
      .select(col("_pid"), col("_cid"),
        round(cosine(col("_cqv"), col("_pv")), 6).as("_ccos"))
      .transform(topN("_pid", "_ccos", "_cid", coarseK, "_crk"))
    // exact re-rank: only coarseK x probes rows read full precision
    coarse
      .join(corpus.select(col(idCol).as("_cid"), asDoubles(vecCol).as("_cfv")), "_cid")
      .join(broadcast(probes.select(col(probeIdCol).as("_pid"),
        asDoubles(vecCol).as("_pfv"))), "_pid")
      .select(col("_pid").as("probe_id"), col("_cid").as("vec_id"),
        round(cosine(col("_cfv"), col("_pfv")), 6).as("cos"))
      .transform(topN("probe_id", "cos", "vec_id", k, "rk"))
  }

  /** IVF-PQ batch ANN — the memory-COMPRESSED production path next to
    * [[topKCosineIvfRerank]]'s int8 store (public design: Faiss IVFPQ;
    * Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search"). Vectors are unit-normalized (6-dp re-anchored, so
    * cos(q, x) becomes a plain dot product) and split into `m`
    * subspaces; each subspace trains a `ks`-entry codebook —
    * hash-ordered seeds + `pqIters` L2 rounds of the same [[lloyd]]
    * ladder as the coarse quantizer, all m subspaces in one ladder. A
    * vector's PQ code is its m argmin sub-centroid
    * positions: m·log2(ks) bits ≈ 1.5 B/vector at the defaults vs
    * 256 B float32. Candidates come from the coarse IVF lists exactly
    * as in [[topKCosineIvf]]; they are scored by ASYMMETRIC DISTANCE
    * COMPUTATION — approx cos(q, x) = Σ_s round(dot(q̂_s,
    * cb_s[code_s]), 6), a literal-codebook lookup per subspace, no
    * decompression — and only the ADC top-`coarseK` rows are
    * exact-cosine reranked against full precision.
    *
    * Scale shape: one corpus scan computes assignment AND codes (pure
    * projection over broadcast centroids/codebooks — the corpus is
    * never shuffled); probes broadcast; the ADC stage reads only the
    * code columns, which is the point — at 100 TB the m code bytes are
    * what stays hot while float vectors live cold until the rerank. At
    * production scale the coded frame is materialized once and reused
    * across probe batches (here it is recomputed per call, like the
    * ann_ivf index).
    *
    * Deterministic end to end (rounded distances/dots, position
    * tiebreaks), so the DuckDB oracle rebuilds codebooks, codes, ADC
    * and rerank and the result is hash-checked like ann_ivf. */
  def topKCosineIvfPq(probes: DataFrame, probeIdCol: String,
                      corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, nlist: Int = 16, nprobe: Int = 4,
                      m: Int = 4, ks: Int = 8, pqIters: Int = 1,
                      coarseK: Int = 12): DataFrame =
    searchPqIndex(probes, probeIdCol, corpus, idCol, vecCol,
      buildPqIndex(corpus, idCol, vecCol, nlist, m, ks, pqIters),
      k, nprobe, coarseK)

  /** The frozen IVF-PQ index — everything the search path needs except
    * the full-precision vectors (those stay with the corpus table and
    * are read only by the rerank): coarse centroids, per-subspace
    * codebooks (sorted by cent_id — POSITION order == cent_id order,
    * so stored codes tiebreak like the oracle's ORDER BY dist,
    * cent_id), and the coded corpus (one row per vector: coarse list +
    * m small code ints, NO floats — the hot store). */
  case class PqIndex(cents: Seq[(Long, Seq[Double])],
                     codebooks: Seq[Seq[(Long, Seq[Double])]],
                     coded: DataFrame, m: Int, sub: Int)

  /** Train the coarse quantizer + per-subspace PQ codebooks and encode
    * the corpus in ONE scan (assignment and all m codes are projections
    * over broadcast centroids/codebooks — the corpus is never
    * shuffled). Persist with [[writePqIndex]]; at 100 TB this runs once
    * per corpus snapshot and every probe batch reuses the store. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int = 16, m: Int = 4, ks: Int = 8,
                   pqIters: Int = 1): PqIndex = {
    val d = dimOf(corpus, vecCol)
    require(d % m == 0, s"buildPqIndex: dim $d must split into $m subspaces")
    val sub = d / m
    val cents = trainFlat(corpus, idCol, vecCol, nlist)
    // unit-normalized, 6-dp re-anchored working vectors
    val ncorp = corpus.select(col(idCol).as("_id0"), asDoubles(vecCol).as("_v0"))
      .withColumn("_nrm", sqrt(dotd(col("_v0"), col("_v0"))))
      .select(col("_id0"), expr("transform(_v0, x -> round(x / _nrm, 6))").as("_nv"))
    val cbs = trainPq(ncorp, "_id0", "_nv", m, sub, ks, pqIters)
    PqIndex(cents, cbs, encode(corpus, idCol, vecCol, cents, cbs, sub), m, sub)
  }

  /** The m PQ subspace codebooks, each sorted by cent_id, in ONE
    * squared-L2 [[lloyd]] ladder with subspace s as group s: one seed
    * collect and one moment collect per round for all m. All m seed
    * from the SAME ks rows — [[hashCentroids]]' md5 order is
    * vector-independent — so one collect, sliced driver-side, seeds
    * every subspace. */
  private[graft] def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, sub: Int, ks: Int, iters: Int): Seq[Seq[(Long, Seq[Double])]] = {
    val seedRows = hashCentroids(corpus, idCol, vecCol, ks).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
    val book = lloyd(corpus.select(asDoubles(vecCol).as("_vv")),
      (0 until m).map(s => lit(s.toLong) -> slice(col("_vv"), s * sub + 1, sub)),
      (0 until m).flatMap(s => seedRows.map { case (cid, v) =>
        (s.toLong, cid, v.slice(s * sub, (s + 1) * sub): Seq[Double]) }),
      l2 = true, iters)
    (0 until m).map(s => book.filter(_._1 == s).map(e => (e._2, e._3)).sortBy(_._1))
  }

  /** Encode vectors against FROZEN coarse centroids + codebooks (no
    * retraining): coarse list + m codes in one projection scan — the
    * incremental form. New corpus shards append their coded rows to
    * the store while the codebooks stay fixed, exactly like the
    * minhash signature store; identical vectors get identical codes by
    * construction, so increments are searchable the moment they land. */
  def encodePq(df: DataFrame, idCol: String, vecCol: String,
               index: PqIndex): DataFrame =
    encode(df, idCol, vecCol, index.cents, index.codebooks, index.sub)

  private def encode(df: DataFrame, idCol: String, vecCol: String,
                     cents: Seq[(Long, Seq[Double])], cbs: Seq[Seq[(Long, Seq[Double])]],
                     sub: Int): DataFrame = {
    val assigned = df.select(col(idCol).as("_cid"), asDoubles(vecCol).as("_cfv"))
      .withColumn("_list", nearest(col("_cfv"), Codebook.flat(cents))("id"))
      .withColumn("_nrm", sqrt(dotd(col("_cfv"), col("_cfv"))))
      .withColumn("_xnv", expr("transform(_cfv, x -> round(x / _nrm, 6))"))
    // a code is the 1-based POSITION in the cent_id-sorted codebook, so
    // position ids tie-break exactly as cent_ids do
    val codes = Codebook(cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case ((_, v), i) => (s.toLong, i + 1L, v) } })
    assigned.select(
      Seq(col("_cid"), col("_list")) ++ cbs.indices.map(s =>
        nearest(slice(col("_xnv"), s * sub + 1, sub), codes, lit(s.toLong), l2 = true)("id")
          .cast("int").as(s"_k$s")): _*)
  }

  /** Persist a [[PqIndex]]: three parquet tables (cents as (_cent_id,
    * _cent_vec) rows, codebooks as (space, pos, cent_id, cv) rows, coded
    * corpus). */
  def writePqIndex(index: PqIndex, dir: String): Unit = {
    val spark = index.coded.sparkSession
    import spark.implicits._
    index.cents.toDF("_cent_id", "_cent_vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cents")
    index.codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case ((cid, v), i) => (s, i + 1, cid, v) }
    }.toDF("space", "pos", "cent_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    index.coded.write.mode("overwrite").parquet(s"$dir/coded")
  }

  /** Load a persisted [[PqIndex]] (codebooks re-sorted to position
    * order — byte-stable with what writePqIndex stored). */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): PqIndex = {
    val cbRows = spark.read.parquet(s"$dir/codebooks")
      .collect().map(r => (r.getAs[Int]("space"), r.getAs[Int]("pos"),
        // toVector: parquet hands back a mutable ArraySeq, which
        // typedLit's nested-array encoder refuses downstream
        r.getAs[Long]("cent_id"), r.getAs[Seq[Double]]("cv").toVector))
    val m = cbRows.map(_._1).max + 1
    val cbs = (0 until m).map { s =>
      cbRows.filter(_._1 == s).sortBy(_._2).map(r => (r._3, r._4)).toSeq
    }
    val sub = cbs.head.head._2.size
    PqIndex(readCodebook(spark, s"$dir/cents"),
      cbs, spark.read.parquet(s"$dir/coded"), m, sub)
  }

  /** ADC search against a (possibly loaded) [[PqIndex]]: candidates
    * from the stored coarse lists, scored by per-subspace
    * literal-codebook lookups, exact rerank of the ADC top-`coarseK`
    * only — the rerank joins the corpus BY ID, so only those rows ever
    * read full-precision storage. */
  def searchPqIndex(probes: DataFrame, probeIdCol: String,
                    corpus: DataFrame, idCol: String, vecCol: String,
                    index: PqIndex, k: Int, nprobe: Int = 4,
                    coarseK: Int = 12): DataFrame = {
    require(coarseK >= k, "searchPqIndex: coarseK must be >= k")
    val (m, sub) = (index.m, index.sub)
    val probeD = probes.select(col(probeIdCol).as("_pid0"), asDoubles(vecCol).as("_pv0"))
    val probeLists = withLists(probeD, "_pv0", Codebook.flat(index.cents), nprobe)
      .withColumn("_pnrm", sqrt(dotd(col("_pv0"), col("_pv0"))))
      .select(col("_pid0").as("_pid"), col("_list"),
        expr("transform(_pv0, x -> round(x / _pnrm, 6))").as("_qnv"))
    // ADC: fixed s = 0..m-1 summation order; the codebook lookup index
    // (_k<s>) is never NULL, so element_at's NULL-index codegen hazard
    // (see ann_eval) cannot fire here
    val adc = (0 until m).map { s =>
      round(dotd(slice(col("_qnv"), s * sub + 1, sub),
        element_at(typedLit(index.codebooks(s).map(_._2)), col(s"_k$s"))), 6)
    }.reduce(_ + _)
    val coarse = index.coded.join(broadcast(probeLists), "_list")
      .filter(col("_pid") =!= col("_cid"))
      .select(col("_pid"), col("_cid"), round(adc, 6).as("_adc"))
      .transform(topN("_pid", "_adc", "_cid", coarseK, "_crk"))
    // exact re-rank: only coarseK x probes rows touch full precision
    coarse
      .join(corpus.select(col(idCol).as("_cid"), asDoubles(vecCol).as("_cfv")), "_cid")
      .join(broadcast(probeD), col("_pid") === col("_pid0"))
      .select(col("_pid").as("probe_id"), col("_cid").as("vec_id"),
        round(cosine(col("_cfv"), col("_pv0")), 6).as("cos"))
      .transform(topN("probe_id", "cos", "vec_id", k, "rk"))
  }

  /** Embedding dimensionality, from the first row (driver-side, one
    * value). The plane constants need it at plan-build time. */
  private def dimOf(emb: DataFrame, vecCol: String): Int =
    emb.select(size(col(vecCol))).first().getInt(0)
}
