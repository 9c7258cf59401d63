package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge learning — the tokenizer-
  * training step of an LLM data pipeline (Sennrich et al. 2016: start
  * from characters, repeatedly merge the most frequent adjacent symbol
  * pair).
  *
  * Scale shape: the corpus is touched ONCE (word-frequency aggregation —
  * map-side partial, one shuffle). Every learning round then works on
  * the WORD VOCABULARY, which is orders of magnitude smaller than the
  * corpus and stays distributed: pair counts are an explode + keyed sum
  * weighted by word frequency; only the single argmax row crosses to the
  * driver each round (merge decisions are inherently sequential — that
  * one-row-per-round sync is the algorithm, not a driver bottleneck).
  * The vocabulary is re-persisted per round and the previous round
  * unpersisted, so lineage stays flat across any number of merges.
  *
  * Determinism: counts are exact longs; argmax ties break on the pair's
  * lexicographic order, so the learned merge table is reproducible
  * across partitionings and cluster sizes.
  */
object BpeTrainer {

  /** One learned merge: the pair, its weighted count, and its rank. */
  final case class Merge(rank: Int, a: String, b: String, count: Long)

  /** Corpus → (word, freq): lowercase, split on non-letters. The single
    * corpus-sized pass; everything after works on this vocabulary. */
  def wordFreq(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(split(lower(textCol), "[^a-z]+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Left-to-right greedy merge of (a,b) occurrences over a symbol
    * array, as a fold: append, or replace the accumulated tail when it
    * is `a` and the incoming symbol is `b`. Built from Column lambdas —
    * the learned symbols travel as literals, never spliced into SQL
    * text, so ANY symbol content (quotes, backslashes, unicode) is
    * safe. The public API accepts arbitrary (word, freq) frames, so
    * this matters beyond the [a-z]+ words `wordFreq` emits. */
  private def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, lit(-1)) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - lit(1)), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Local-endgame threshold (vocabulary rows): BPE learning works on
    * the WORD VOCABULARY, which is tiny relative to any corpus —
    * natural-language vocabularies top out around 10^7 surface forms.
    * Below this cap the per-round argmax is a driver loop over summed
    * pair counts (exact longs, same lexicographic tiebreak — bit-equal
    * to the distributed rounds, spec-pinned), and every distributed
    * round saved is a whole Spark job of fixed scheduling cost. The
    * corpus-scale wordFreq aggregation is unaffected — it always runs
    * distributed; only the learning rounds move. */
  val LocalFinishWords: Long = 1L << 22

  /** Driver-side learning loop — the identical algorithm, pair count
    * and (count desc, pair lexicographic) argmax as the distributed
    * rounds. Long addition is exact, so accumulation order cannot
    * diverge. */
  private def localLearn(rows: Array[(String, Long)], numMerges: Int): Seq[Merge] = {
    var vocab: Array[(Vector[String], Long)] = rows
      .map { case (w, f) => w.split("").filter(_.nonEmpty).toVector -> f }
      .filter(_._1.length > 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    for (r <- 1 to numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) return out.toSeq
      val ((a, b), c) = counts.minBy { case ((x, y), cnt) => (-cnt, x, y) }
      out += Merge(r, a, b, c)
      vocab = vocab.map { case (syms, f) =>
        syms.foldLeft(Vector.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
          else acc :+ s
        } -> f
      }.filter(_._1.length > 1)
    }
    out.toSeq
  }

  /** Learn up to `numMerges` merges from a (word, freq) vocabulary.
    * Stops early if no adjacent pair is left. Pass
    * `localFinishWords = 0` to force the distributed rounds (the
    * equivalence spec does). */
  def learnMerges(wordFreq: DataFrame, numMerges: Int,
                  localFinishWords: Long = LocalFinishWords): Seq[Merge] = {
    require(numMerges >= 1)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the endgame probe rides a persist of wordFreq so the corpus-sized
    // aggregation feeding it runs exactly once whichever path is taken
    // (without it, a vocabulary just over the cap would pay the corpus
    // pass twice)
    val wf = wordFreq.persist(lvl)
    if (localFinishWords > 0) {
      val sample = wf
        .select(col("word").cast("string"), col("freq").cast("long"))
        .limit(localFinishWords.toInt + 1)
        .collect()
      if (sample.length <= localFinishWords) {
        wf.unpersist(blocking = false)
        return localLearn(sample.map(r => (r.getString(0), r.getLong(1))), numMerges)
      }
    }
    // single-symbol words can never contribute a pair, and a merge can
    // only shrink a word's symbol count — drop them up front and after
    // every round so late rounds scan a strictly smaller vocabulary
    // (pair counts are provably unchanged)
    var vocab = wf.select(col("word"), col("freq"),
      expr("filter(split(word, ''), x -> x != '')").as("syms"))
      .filter(size(col("syms")) > 1).persist(lvl)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // one Spark job per round: the argmax action below both reads the
    // previous round's cache and materializes the current one, so the
    // predecessor is unpersisted one round late instead of paying a
    // separate count() job to hand the cache over eagerly
    var retiring: List[DataFrame] = Nil
    try {
      for (r <- 1 to numMerges) {
        val top = vocab
          .select(col("freq"), explode(expr(
            "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), " +
              "(x, y) -> struct(x AS a, y AS b))")).as("pr"))
          .select(col("freq"), col("pr.a").as("a"), col("pr.b").as("b"))
          .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        retiring.foreach(_.unpersist())
        retiring = Nil
        if (top.isEmpty) return merges.toSeq
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(r, a, b, cnt)
        val next = vocab.withColumn("syms", mergePair(col("syms"), a, b))
          .filter(size(col("syms")) > 1).persist(lvl)
        retiring = List(vocab)
        vocab = next
      }
      merges.toSeq
    } finally {
      retiring.foreach(_.unpersist())
      vocab.unpersist()
      wf.unpersist(blocking = false)
    }
  }

  /** Tokenize a vocabulary with an already-learned merge table (applies
    * merges in rank order, each with the same greedy fold the learner
    * used). Returns (word, freq, syms) with post-merge symbols. */
  def applyMerges(wordFreq: DataFrame, merges: Seq[Merge]): DataFrame =
    merges.foldLeft(
      wordFreq.select(col("word"), col("freq"),
        expr("filter(split(word, ''), x -> x != '')").as("syms"))) { (df, m) =>
      df.withColumn("syms", mergePair(col("syms"), m.a, m.b))
    }

  /** The identical learning loop as unrolled DuckDB SQL — the closed
    * form that makes `bpe_merges` hash-comparable. The per-round
    * argmax is inherently sequential, but a FIXED round count unrolls
    * into chained CTEs (the `PageRank.ranksSql` pattern), and the
    * greedy left-to-right pair merge is exactly a left fold — DuckDB's
    * `list_reduce` — accumulating the merged sequence as a
    * space-joined string (symbols are [a-z]+ by construction of
    * `wordFreq`, so the last accumulated token is `[a-z]+$` and a
    * single space is a safe separator). Tie-breaks replay the
    * learner's (count desc, pair lexicographic) exactly; an early
    * vocabulary exhaustion yields an empty `b{r}` whose UNION ALL arm
    * contributes no row, matching `learnMerges` stopping short. Each
    * round reads `v{r-1}` directly and again through `ix{r}`/`p{r}`/`b{r}`,
    * so `v{r}` and `b{r}` are `AS MATERIALIZED`: DuckDB's default
    * inlining would double the work per round. */
  def learnSql(docsTable: String, textCol: String, numMerges: Int): String = {
    val head =
      s"""WITH tok AS (SELECT unnest(string_split_regex(lower($textCol), '[^a-z]+')) AS word
                       FROM $docsTable),
         w AS (SELECT word, count(*) AS freq FROM tok WHERE length(word) > 0 GROUP BY 1),
         v0 AS (SELECT word, freq,
                  list_transform(generate_series(1, length(word)), i -> word[i]) AS toks
                FROM w WHERE length(word) > 1)"""
    val rounds = (1 to numMerges).map { r =>
      val apply =
        if (r == numMerges) "" // the final vocabulary is never read
        else
          s""",
         v$r AS MATERIALIZED (SELECT word, freq,
                  string_split(list_reduce(toks, (acc, s) -> CASE
                    WHEN regexp_extract(acc, '[a-z]+$$') = b$r.a AND s = b$r.b
                    THEN left(acc, length(acc) - length(b$r.a)) || b$r.a || b$r.b
                    ELSE acc || ' ' || s END), ' ') AS toks
                FROM v${r - 1}, b$r)"""
      s""",
         ix$r AS (SELECT freq, toks, unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM v${r - 1}),
         p$r AS (SELECT toks[i] AS a, toks[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS c
                 FROM ix$r GROUP BY 1, 2),
         b$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1)$apply"""
    }
    val sel = (1 to numMerges)
      .map(r => s"SELECT $r AS rank, a AS sym_a, b AS sym_b, c AS pair_count FROM b$r")
      .mkString("\n         UNION ALL ")
    head + rounds.mkString + "\n         " + sel + "\n         ORDER BY rank"
  }
}
