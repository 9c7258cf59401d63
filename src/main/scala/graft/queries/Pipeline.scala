package graft.queries

import graft.Tables
import graft.functions.MultimodalFunctions
import graft.functions.TextFunctions._
import graft.operators.{AsofJoin, Dedup, Pca, SimilaritySearch, Spread}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline queries over `documents` / `embeddings` / `events`:
  * deduplication (exact, exact n-gram Jaccard, MinHash-LSH, SimHash),
  * text profiling (language ID, token/quality stats, fingerprints) and
  * similarity search (cosine top-k, sign-LSH ANN). The reference engine
  * has none of this (SURVEY §2.11) — it is the north-star surface the
  * brief demands for training-data pipelines.
  *
  * Every oracle here is plain DuckDB SQL recomputing the same semantics
  * (the dedup primitives were deliberately chosen to be engine-portable:
  * MD5 content keys, polynomial fingerprints, exact Jaccard reranks).
  */
object Pipeline extends QueryModule {

  /** SQL fragment: normalized whitespace-token array of `text`. */
  private[queries] val toksSql =
    """string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')"""

  /** SQL for the exact 3-gram Jaccard pair list (shared by the near-dup
    * oracles incl. Curation's cluster CTE; mirrors
    * Dedup.nearDupPairsExact at threshold 0.5). */
  private[queries] def nearPairsSqlAt(threshold: Double): String =
    s"""WITH t AS (
          SELECT doc_id, $toksSql toks FROM documents
        ), sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                       for i in generate_series(1, len(toks) - 2)])) s
          FROM t WHERE len(toks) >= 3
        ), sizes AS (
          SELECT doc_id, count(*) n FROM sh GROUP BY 1
        ), pairs AS (
          SELECT a.doc_id i, b.doc_id j, count(*) c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT pairs.i AS i, pairs.j AS j,
               round(c::DOUBLE / (na.n + nb.n - c), 6) + 0.0 AS jac
        FROM pairs
        JOIN sizes na ON na.doc_id = pairs.i
        JOIN sizes nb ON nb.doc_id = pairs.j
        WHERE c::DOUBLE / (na.n + nb.n - c) >= $threshold"""

  private[queries] val nearPairsSql = nearPairsSqlAt(0.5)

  /** The planted-HTML fixture page run through the HtmlBlocksExpr
    * tokenizer → (doc_id, block_no, block). Shared by html_extract
    * (raw block emission), html_block_dedup (keep-first block dedup)
    * and Curation's curation_pipeline_v4 (which renders the page for
    * its frontier survivors); the surviving blocks are a CLOSED FORM
    * of the raw columns, which is what makes all three oracles plain
    * SQL. `docs` must carry (doc_id, text); `carry` names extra
    * columns to pass through the explode (so callers need not re-join
    * the source — v4 carries `domain` this way and keeps the frontier
    * subtree single-use). */
  private[queries] def plantedHtmlBlocksOf(
      docs: org.apache.spark.sql.DataFrame,
      carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val tok = split(col("text"), " ")
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>Doc "),
      col("doc_id").cast("string"),
      lit("</title><style>p { color: #333; }</style>" +
        "<script>if (1 < 2) { alert(\"x&y\"); }</script></head>" +
        "<body data-x=\"a>b\"><!-- boilerplate -->" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav><h1>"),
      array_join(slice(tok, 1, 3), " "),
      lit("</h1><p>"),
      array_join(slice(tok, 1, 20), " "),
      lit(" &amp; more&#33;</p>" +
        "<div><a href=\"/x\">one</a> <a href=\"/y\">two</a> x</div>" +
        "<p>Tail &lt;end&gt;</p><br>" +
        "<footer>&copy; 2026 Example</footer></body></html>"))
    docs.select((col("doc_id") +: carry.map(col)) :+
      posexplode(org.apache.spark.sql.graft.HtmlExpressions.htmlBlocks(html))
        .as(Seq("block_no", "block")): _*)
  }

  private def plantedHtmlBlocks(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    plantedHtmlBlocksOf(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))

  /** The dedup_eval oracle replays the ENTIRE banded-minhash pipeline in
    * DuckDB — portable md5-derived 64-bit base hashes (two 8-hex folds,
    * HUGEINT-combined, sign-corrected to the BIGINT two's-complement
    * value Spark's shiftleft|OR produces), the k=64 permutation
    * signature with the SAME (a, b) literals minhashParams(42-seeded)
    * generates, 16 raw 4-slice band keys, the candidate self-join, and
    * the exact-Jaccard ground truth over the planted-mutant fixture. */
  private lazy val dedupEvalOracleSql: String = {
    val P = graft.functions.TextFunctions.MinHashPrime
    val params = graft.functions.TextFunctions.minhashParams(64)
      .map { case (a, b) => s"{'a': ${a}, 'b': ${b}}" }.mkString("[", ", ", "]")
    def hexFold(start: Int): String =
      (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(m, ${start + i}, 1)) - 1) * " +
          BigInt(16).pow(7 - i)).mkString(" + ")
    val mutants = Seq(4, 6, 10, 20, 40).map { m =>
      s"""UNION ALL SELECT doc_id + ${m * 100000L},
            array_to_string([CASE WHEN i % $m = 0 THEN 'zz$m' ELSE w[i] END
                             for i in generate_series(1, len(w))], ' ')
          FROM bw"""
    }.mkString("\n          ")
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        bw AS (SELECT doc_id, string_split(text, ' ') w FROM base),
        du AS (SELECT doc_id, text FROM base
          $mutants),
        t AS (SELECT doc_id, $toksSql toks FROM du),
        shx AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                       for i in generate_series(1, len(toks) - 2)])) s
          FROM t WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) n FROM shx GROUP BY 1),
        prs AS (
          SELECT a.doc_id i, b.doc_id j, count(*) c
          FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        exact AS (
          SELECT prs.i AS i, prs.j AS j,
                 round(c::DOUBLE / (na.n + nb.n - c), 6) + 0.0 AS jac
          FROM prs
          JOIN sizes na ON na.doc_id = prs.i
          JOIN sizes nb ON nb.doc_id = prs.j
          WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.05),
        ex2 AS (SELECT i, j, CAST(floor(jac * 10) AS BIGINT) bucket FROM exact),
        shl AS (SELECT doc_id,
                  list_distinct([array_to_string(toks[i:i+2], ' ')
                                 for i in generate_series(1, len(toks) - 2)]) sl
                FROM t WHERE len(toks) >= 3),
        hsx AS (SELECT doc_id,
                  [((CAST(CASE WHEN hv >= 9223372036854775808
                          THEN hv - 18446744073709551616 ELSE hv END AS BIGINT)
                     % $P) + $P) % $P
                   for hv in [CAST(${""}(${hexFold(1)})${""} AS HUGEINT) * 4294967296
                              + (${hexFold(9)})
                              for m in [md5(s) for s in sl]]] hs
                FROM shl),
        sg AS (SELECT doc_id,
                 [coalesce(list_min([(p['a'] * h + p['b']) % $P for h in hs]), $P)
                  for p in $params] sig
               FROM hsx),
        bd0 AS (SELECT doc_id,
                  unnest([{'p': b, 'bk': array_to_string(sig[b*4+1:b*4+4], ',')}
                          for b in generate_series(0, 15)]) bd
                FROM sg),
        bd2 AS (SELECT doc_id, bd.p p, bd.bk bk FROM bd0),
        cand AS (SELECT DISTINCT a.doc_id i, b.doc_id j
                 FROM bd2 a JOIN bd2 b
                   ON a.p = b.p AND a.bk = b.bk AND a.doc_id < b.doc_id),
        fnd AS (SELECT bucket, count(*) nf FROM ex2
                WHERE EXISTS (SELECT 1 FROM cand
                              WHERE cand.i = ex2.i AND cand.j = ex2.j)
                GROUP BY 1),
        tru AS (SELECT bucket, count(*) nt FROM ex2 GROUP BY 1)
        SELECT tru.bucket AS bucket, CAST(nt AS BIGINT) AS n_true,
          CAST(coalesce(nf, 0) AS BIGINT) AS n_found,
          round(coalesce(nf, 0)::DOUBLE / nt, 6) + 0.0 AS recall
        FROM tru LEFT JOIN fnd ON tru.bucket = fnd.bucket
        ORDER BY bucket"""
  }

  /** Shared CTE chain for the C4-style duplicate-span rewrite
    * (mirrors Dedup.rewriteDupSpans at chunkTokens = 10): ends in
    * `rewritten(doc_id, n_spans, n_dropped, kept_text)`. Used by the
    * span_rewrite oracle and by Curation's composed pipeline v3. */
  private[queries] lazy val spanRewriteCte: String =
    s"""srt AS (SELECT doc_id, $toksSql toks FROM documents),
          srb AS (SELECT doc_id, toks,
                       CAST(floor(len(toks) / 10) AS BIGINT) AS nc FROM srt),
          src0 AS (
            SELECT doc_id,
                   unnest([{'pos': i,
                            'passage': array_to_string(toks[i*10+1:i*10+10], ' ')}
                           for i in generate_series(0, nc - 1)]) AS ch
            FROM srb WHERE nc >= 1),
          src AS (SELECT doc_id, ch.pos AS pos, ch.passage AS passage FROM src0),
          srk AS (SELECT doc_id, pos, passage,
                       row_number() OVER (PARTITION BY passage
                                          ORDER BY doc_id, pos) AS rk
                FROM src),
          srbody AS (
            SELECT doc_id,
                   count(*) AS n_spans,
                   sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS n_dropped,
                   string_agg(CASE WHEN rk = 1 THEN passage END, ' '
                              ORDER BY pos) AS body
            FROM srk GROUP BY doc_id),
          srtl AS (SELECT doc_id,
                        array_to_string(toks[nc*10+1:len(toks)], ' ') AS tail_txt
                 FROM srb),
          rewritten AS (
            SELECT srtl.doc_id,
              CAST(coalesce(srbody.n_spans, 0) AS BIGINT) AS n_spans,
              CAST(coalesce(srbody.n_dropped, 0) AS BIGINT) AS n_dropped,
              trim(concat(coalesce(srbody.body, ''),
                          CASE WHEN coalesce(srbody.body, '') <> ''
                                AND tail_txt <> '' THEN ' ' ELSE '' END,
                          tail_txt)) AS kept_text
            FROM srtl LEFT JOIN srbody ON srtl.doc_id = srbody.doc_id)"""

  /** nDCG@10 discount table 1/log2(i+1), i = 1..10, computed ONCE here
    * and spliced as a literal into BOTH engines (Spark typedLit, DuckDB
    * list literal via Double.toString round-trip) — engine log2() ulp
    * differences never enter the metric. */
  private val NdcgDiscounts: Seq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  private val Idcg10: Double = NdcgDiscounts.sum

  /** DuckDB CTE chain rebuilding the flat quantizer (SimilaritySearch.trainIvf
    * at one cell, or its coarse level) over an existing `e(vec_id, v)` CTE: hash-seeded codebook + `iters`
    * unrolled Lloyd rounds (assignment by 6-dp rounded cosine with
    * cent_id tiebreaks; per-cluster per-dimension means rounded to the
    * same 6-dp grid Spark rounds on — the per-round rounding is what
    * keeps the two engines' iterations identical). Terminates in a CTE
    * named `cents(cent_id, cv)`. */
  private[queries] def lloydCentsSql(iters: Int, nlist: Int = 16, d: Int = 64): String = {
    val seed =
      s"""cents0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nlist)"""
    val rounds = (1 to iters).map { r =>
      val prev = s"cents${r - 1}"
      s"""lac$r AS (
            SELECT e.vec_id, e.v, c.cent_id,
              round(list_dot_product(e.v, c.cv) /
                    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
            FROM e CROSS JOIN $prev c),
          las$r AS (
            SELECT vec_id, v, cent_id FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY ccos DESC, cent_id) rk
              FROM lac$r) WHERE rk = 1),
          lm$r AS (
            SELECT cent_id, i, round(sum(v[i]) / count(*), 6) + 0.0 AS mv
            FROM las$r CROSS JOIN generate_series(1, $d) g(i)
            GROUP BY 1, 2),
          lmv$r AS (SELECT cent_id, list(mv ORDER BY i) nv FROM lm$r GROUP BY 1),
          cents$r AS (
            SELECT p.cent_id, coalesce(n.nv, p.cv) cv
            FROM $prev p LEFT JOIN lmv$r n ON p.cent_id = n.cent_id)"""
    }
    ((seed +: rounds) :+ s"cents AS (SELECT cent_id, cv FROM cents$iters)")
      .mkString(",\n          ")
  }

  /** DuckDB CTE chain rebuilding the HIERARCHICAL tier
    * (SimilaritySearch.trainIvf above one cell + assignLeaves) on top of
    * `e(vec_id, v)` and the coarse `cents(cent_id, cv)` CTE from
    * [[lloydCentsSql]]: one coarse assignment, per-cell sub-seeds (the
    * subK smallest md5 ids within each cell), `iters` unrolled
    * sub-Lloyd rounds in which a vector meets ONLY its own cell's
    * leaves, then the final leaf assignment. Terminates in
    * `tl_assigned(vec_id, v, leaf_id)`. The rounding/tiebreak grid is
    * identical to the flat chain's — 6-dp cosines, smallest id wins,
    * per-round 6-dp re-anchored means — so the two engines' nested
    * iterations stay bit-identical. */
  private def twoLevelSql(iters: Int, subK: Int, d: Int = 64): String = {
    def lcos(t: String, l: String) =
      s"""round(list_dot_product($t.v, $l.cv) /
                (sqrt(list_dot_product($t.v, $t.v)) * sqrt(list_dot_product($l.cv, $l.cv))), 6)"""
    val cellAssign =
      s"""tlc AS (
            SELECT e.vec_id, e.v, c.cent_id,
              round(list_dot_product(e.v, c.cv) /
                    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
            FROM e CROSS JOIN cents c),
          tcell AS (
            SELECT vec_id, v, cent_id AS cell FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY ccos DESC, cent_id) rk FROM tlc)
            WHERE rk = 1),
          lv0 AS (
            SELECT cell, vec_id AS leaf_id, v AS cv FROM (
              SELECT *, row_number() OVER (PARTITION BY cell
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) rk FROM tcell)
            WHERE rk <= $subK)"""
    val rounds = (1 to iters).map { r =>
      val prev = s"lv${r - 1}"
      s"""tla$r AS (
            SELECT t.vec_id, t.v, l.leaf_id, ${lcos("t", "l")} lcs
            FROM tcell t JOIN $prev l ON t.cell = l.cell),
          tls$r AS (
            SELECT vec_id, v, leaf_id FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY lcs DESC, leaf_id) rk
              FROM tla$r) WHERE rk = 1),
          tlm$r AS (
            SELECT leaf_id, i, round(sum(v[i]) / count(*), 6) + 0.0 AS mv
            FROM tls$r CROSS JOIN generate_series(1, $d) g(i)
            GROUP BY 1, 2),
          tlv$r AS (SELECT leaf_id, list(mv ORDER BY i) nv FROM tlm$r GROUP BY 1),
          lv$r AS (
            SELECT p.cell, p.leaf_id, coalesce(n.nv, p.cv) cv
            FROM $prev p LEFT JOIN tlv$r n ON p.leaf_id = n.leaf_id)"""
    }
    val fin =
      s"""tlfa AS (
            SELECT t.vec_id, t.v, l.leaf_id, ${lcos("t", "l")} lcs
            FROM tcell t JOIN lv$iters l ON t.cell = l.cell),
          tl_assigned AS (
            SELECT vec_id, v, leaf_id FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY lcs DESC, leaf_id) rk
              FROM tlfa) WHERE rk = 1)"""
    ((cellAssign +: rounds) :+ fin).mkString(",\n          ")
  }

  /** DuckDB CTE block rebuilding ONE PQ subspace over the
    * normalized-vector CTE `en(vec_id, nv)`: hash-ordered seeds +
    * `iters` L2 Lloyd rounds (the lloydCentsSql discipline at subspace
    * width; dist² in the same (x·x − 2·x·c) + c·c form Spark's
    * NearestCentroidExpr evaluates), ending in pq{s}_cb(cent_id, cv) and
    * pq{s}_code(vec_id, cent_id). */
  private def pqSubSql(s: Int, iters: Int, ks: Int, sub: Int): String = {
    val a = s * sub + 1
    val b = (s + 1) * sub
    def dist(t: String, c: String) =
      s"round(list_dot_product($t.sv, $t.sv) - 2*list_dot_product($t.sv, $c.cv) + list_dot_product($c.cv, $c.cv), 6)"
    val seed =
      s"""pq${s}_v AS (SELECT vec_id, nv[$a:$b] sv FROM en),
          pq${s}_c0 AS (SELECT vec_id AS cent_id, sv AS cv FROM pq${s}_v
                        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ks)"""
    val rounds = (1 to iters).map { r =>
      val prev = s"pq${s}_c${r - 1}"
      s"""pq${s}_a$r AS (
            SELECT t.vec_id, t.sv, c.cent_id, ${dist("t", "c")} dd
            FROM pq${s}_v t CROSS JOIN $prev c),
          pq${s}_s$r AS (
            SELECT vec_id, sv, cent_id FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dd, cent_id) rk
              FROM pq${s}_a$r) WHERE rk = 1),
          pq${s}_m$r AS (
            SELECT cent_id, i, round(sum(sv[i]) / count(*), 6) + 0.0 AS mv
            FROM pq${s}_s$r CROSS JOIN generate_series(1, $sub) g(i)
            GROUP BY 1, 2),
          pq${s}_mv$r AS (SELECT cent_id, list(mv ORDER BY i) nv
                          FROM pq${s}_m$r GROUP BY 1),
          pq${s}_c$r AS (
            SELECT p.cent_id, coalesce(n.nv, p.cv) cv
            FROM $prev p LEFT JOIN pq${s}_mv$r n ON p.cent_id = n.cent_id)"""
    }
    val fin =
      s"""pq${s}_cb AS (SELECT cent_id, cv FROM pq${s}_c$iters),
          pq${s}_code AS (
            SELECT vec_id, cent_id FROM (
              SELECT t.vec_id, c.cent_id,
                row_number() OVER (PARTITION BY t.vec_id
                                   ORDER BY ${dist("t", "c")}, c.cent_id) rk
              FROM pq${s}_v t CROSS JOIN pq${s}_cb c) WHERE rk = 1),
          pqq$s AS (SELECT vec_id AS probe_id, nv[$a:$b] qs FROM en
                    WHERE vec_id < 5)"""
    ((seed +: rounds) :+ fin).mkString(",\n          ")
  }

  /** SQL mirror of TextFunctions.langId: argmax of marker-word hits with
    * the fixed priority-order tiebreak, 'und' when nothing hits. */
  private val langIdSql: String = {
    def hits(words: Seq[String]): String =
      s"len(list_filter(toks, x -> list_contains([${words.map(w => s"'$w'").mkString(",")}], x)))"
    val scores = LangMarkers.map { case (lang, words) => lang -> hits(words) }
    val best = "greatest(" + scores.map(_._2).mkString(", ") + ")"
    val whens = scores.map { case (lang, s) =>
      s"WHEN $s > 0 AND $s = $best THEN '$lang'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  private val stopHitsSql =
    s"len(list_filter(toks, x -> list_contains([${Stopwords.map(w => s"'$w'").mkString(",")}], x)))"

  /** DuckDB mirror of one sign-LSH bucket id: the planes are
    * deterministic (seeded Gaussians, VectorFunctions.signLshPlanes),
    * so their exact double constants are spliced into the SQL as
    * literals and the oracle rebuilds the SAME buckets bit for bit —
    * Double.toString round-trips exactly, both engines accumulate the
    * dot left-to-right in doubles over the same dim=64 span, and the
    * sign threshold matches SignLshBucketExpr (`dot >= 0`). This is
    * what moves ann_cosine_lsh from a rows-only check to the full
    * rows/schema/hash gate. */
  private def lshBucketSql(vecExpr: String, table: Int): String =
    graft.functions.VectorFunctions.signLshPlanes(8, 64, 42L + table)
      .zipWithIndex.map { case (plane, i) =>
        val arr = plane.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product($vecExpr, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")

  val queries: Map[String, Q] = Map(

    // ---- deduplication ------------------------------------------------------

    // Exact dedup, robust to case/whitespace mangling. The synthetic
    // corpus has no exact duplicates, so the query injects them
    // deterministically: a shouting, re-padded copy of every doc_id<100
    // document must collapse onto its original's fingerprint.
    "dedup_exact" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val mangled = docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("   ")).as("text"))
      Dedup.exactDupGroups(docs.unionByName(mangled), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    // Exact 3-gram Jaccard near-dup pairs (inverted-index join), run
    // with the hot-shingle cutoff ON — the production configuration
    // (see Dedup.HotShingleCutoff; no fixture shingle reaches it, so
    // the exact-Jaccard oracle is unchanged).
    "dedup_near" -> ((s, dir) =>
      Dedup.nearDupPairsExact(Tables(s, dir, "documents"), "doc_id", "text",
          maxDocFreq = Dedup.HotShingleCutoff)
        .orderBy(col("i"), col("j"))),

    // Prefix-filtered exact near-dup (All-Pairs/PPJoin): index each
    // doc's rarest ~20% of shingles only (the t=0.8 prefix bound),
    // generate candidates from those short rare-key posting lists,
    // verify with the exact intersection. Lossless at the threshold, so
    // the oracle is the plain uncut Jaccard — and the pair-explosion
    // stage touches a fraction of the index mass the full inverted-
    // index join pays at 100 TB.
    "dedup_prefix" -> ((s, dir) =>
      Dedup.nearDupPairsPrefix(Tables(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, maxDocFreq = Dedup.HotShingleCutoff)
        .orderBy(col("i"), col("j"))),

    // Exact cross-document substring overlap (Lee et al. 2022): longest
    // shared run of >= 8 consecutive tokens per document pair — catches
    // the long-verbatim-quote case set-overlap metrics miss. Posting
    // lists on the 8-token window (one shuffle, boilerplate df cap),
    // gaps-and-islands over the sparse shared-window rows for the run
    // lengths.
    "substring_overlap" -> ((s, dir) =>
      Dedup.substringOverlap(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("i"), col("j"))),

    // MinHash-LSH candidates + exact rerank: same answer as dedup_near
    // (banded LSH at k=128/r=8 has ~1-3e-11 miss probability at the
    // J>=0.97 separation this corpus has), found without the full
    // inverted-index join.
    "dedup_minhash" -> ((s, dir) =>
      Dedup.nearDupPairsMinhash(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("i"), col("j"))),

    // Dedup-quality EVAL — the ann_eval of the text-dedup family: the
    // banded-LSH candidate recall the `lsh-band-recall` route trades
    // for, MEASURED per Jaccard bucket against exact ground truth. The
    // fixture plants mutants of 200 docs at five mutation periods
    // (every m-th token replaced, m in {4,6,10,20,40}) so true pairs
    // spread across the Jaccard range; the exact inverted-index join
    // at J >= 0.05 is ground truth; the LSH arm is the reroute's own
    // banding (k=64, r=4 -> 16 bands) built on PORTABLE md5-derived
    // base hashes so the DuckDB oracle replays signatures, bands and
    // the candidate join bit-for-bit. Output: per-bucket n_true /
    // n_found / recall — the measured S-curve that tells a pipeline
    // which thresholds the reroute is safe at (recall ~1 at J >= 0.8,
    // materially lossy near J ~ 0.3, exactly as 1-(1-J^4)^16
    // predicts).
    "dedup_eval" -> ((s, dir) => {
      import graft.functions.TextFunctions.{portableHash64, MinHashPrime}
      val base = Tables(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      def mutate(m: Int) = base.select(
        (col("doc_id") + m * 100000L).as("doc_id"),
        array_join(expr(
          s"transform(split(text, ' '), (t, i) -> IF((i + 1) % $m = 0, 'zz$m', t))"),
          " ").as("text"))
      val u = Seq(4, 6, 10, 20, 40).map(mutate).foldLeft(base)(_ unionByName _)
      // The exact pair list is the ground truth for BOTH result columns
      // (n_true and the recall numerator), and the pre-change plan
      // executed the whole inverted-index join twice — once per
      // reference (r16 plan audit: 24 scans). Materialize the pair list
      // once; it is the eval's OUTPUT-SIDE mass (true pairs), bounded
      // far below the candidate stage that produces it.
      // localCheckpoint, not persist: see GraftSession's lifetime rule.
      val exact = Dedup.nearDupPairsExact(u, "doc_id", "text", n = 3, threshold = 0.05)
        .withColumn("bucket", floor(col("jac") * 10).cast("long"))
        .localCheckpoint(true)
      val withSig = Dedup.shingleSets(u, "doc_id", "text", 3)
        .transform(Spread.byKey(_, "doc_id"))
        .withColumn("hs",
          transform(col("sh"), x => pmod(portableHash64(x), lit(MinHashPrime))))
        .withColumn("sig",
          org.apache.spark.sql.graft.NativeExpressions.minhashSignature(col("hs"), 64))
        .transform(Spread.byKey(_, "doc_id"))
      // band key = the raw 4-value slice (not its hash): identical
      // candidate semantics, and the oracle joins on the same string
      // materialized once: the self-join below references the band-key
      // frame on both sides, and each reference re-ran the 64-hash
      // MinHash signature computation over every document (slim 3-col
      // rows, 16 per doc — linear)
      val bandKeys = withSig.select(col("doc_id"), posexplode_outer(expr(
          "transform(sequence(0, 15), b -> " +
            "concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> cast(x as string))))"))
          .as(Seq("p", "bk")))
        .filter(col("bk").isNotNull)
        .localCheckpoint(true)
      val cand = bandKeys.as("a").join(bandKeys.as("b"),
          col("a.p") === col("b.p") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .distinct()
      val found = exact.join(cand, Seq("i", "j"), "left_semi")
        .groupBy(col("bucket")).agg(count(lit(1)).as("nf"))
      exact.groupBy(col("bucket")).agg(count(lit(1)).as("nt"))
        .join(found, Seq("bucket"), "left")
        .select(col("bucket"),
          col("nt").cast("long").as("n_true"),
          coalesce(col("nf"), lit(0L)).cast("long").as("n_found"),
          (round(coalesce(col("nf"), lit(0L)).cast("double") / col("nt"), 6)
            + lit(0.0)).as("recall"))
        .orderBy(col("bucket"))
    }),

    // SimHash chunk-bucket near-dup pair list (ids only — Hamming radius
    // 3 over 64-bit fingerprints of the shingle sets). A deliberately
    // stricter notion than Jaccard 0.5; md5-derived shingle hashes make
    // the whole pipeline engine-portable, so the DuckDB oracle rebuilds
    // fingerprints, pigeonhole buckets and the Hamming filter verbatim
    // and the result is hash-checked (DedupSpec pins the contract too).
    "dedup_simhash" -> ((s, dir) =>
      Dedup.nearDupPairsSimhash(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("i"), col("j"))),

    // The composed curation pipeline — what a training-data run actually
    // executes: drop the lower-id'd member of every near-duplicate pair,
    // then gate on token count and stopword-density quality signals,
    // emitting the kept document set. One declarative plan end to end
    // (anti-join against the LSH-shaped pair list + a profile
    // projection), so Catalyst sees and optimizes the whole thing.
    "curation_keep" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val nearDupJ = Dedup.nearDupPairs(docs, "doc_id", "text",
          maxDocFreq = Dedup.HotShingleCutoff)
        .select(col("j").as("doc_id")).distinct()
      val t = tokens(col("text"))
      docs
        .select(col("doc_id"), size(t).as("n_tokens"),
          round(wordHits(t, Stopwords).cast("double") / size(t), 6).as("stop_ratio"))
        .join(nearDupJ, Seq("doc_id"), "left_anti")
        .filter(col("n_tokens") >= 20 && col("stop_ratio") <= 0.5)
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis ------------------------------------------------------

    // Per-document profile: token counts, language ID, stopword quality
    // ratios, mean token length. One codegen'd projection, no shuffle
    // except the output sort.
    "text_profile" -> ((s, dir) => {
      val t = tokens(col("text"))
      val norm = normalize(col("text"))
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(t).as("n_tokens"),
        length(norm).as("n_chars_norm"),
        langId(t).as("lang_id"),
        wordHits(t, Stopwords).as("stop_hits"),
        round(wordHits(t, Stopwords).cast("double") / size(t), 6).as("stop_ratio"),
        round((length(norm) - size(t) + 1).cast("double") / size(t), 6).as("avg_tok_len"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-level token statistics (two tiny aggregates cross-joined).
    "token_stats" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val perDoc = docs.select(size(tokens(col("text"))).as("n"))
        .agg(sum(col("n")).as("total_tokens"), count(lit(1)).as("total_docs"),
          round(avg(col("n")), 6).as("avg_tokens_per_doc"))
      val distinctToks = docs.select(explode(tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("distinct_tokens"))
      perDoc.crossJoin(distinctToks)
        .select(col("total_tokens"), col("total_docs"),
          col("avg_tokens_per_doc"), col("distinct_tokens"))
    }),

    // Per-document rolling polynomial fingerprint (engine-portable).
    "doc_fingerprint" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), rollingFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // ---- similarity search --------------------------------------------------

    // Brute-force cosine top-10 against the vec_id=0 probe: the exact
    // baseline. Single scan + broadcast of one probe row +
    // TakeOrderedAndProject — no shuffle of the embedding table.
    "knn_cosine" -> ((s, dir) =>
      SimilaritySearch.topKCosine(
        Tables(s, dir, "embeddings"), "vec_id", "embedding", probeId = 0L, k = 10)),

    // Multi-table sign-LSH ANN with exact rerank: the HIGH-similarity
    // retrieval path (see SimilaritySearch.topKCosineLsh — this corpus's
    // nearest neighbors sit at cos ~0.3, where the exact scan is the
    // right plan; AnnSpec pins recall >= 0.9 in the intended cos >= 0.95
    // regime). Approximate vs the EXACT top-k, but fully deterministic
    // given the seeded planes — so the oracle rebuilds the identical
    // buckets from the same plane constants (lshBucketSql) and the
    // result is hash-checked end to end like ann_ivf.
    "ann_cosine_lsh" -> ((s, dir) =>
      SimilaritySearch.topKCosineLsh(
        Tables(s, dir, "embeddings"), "vec_id", "embedding", probeId = 0L, k = 10)),

    // IVF batch ANN: deterministic k-means coarse quantizer (hash
    // seeds + 2 Lloyd rounds, every step 6-dp rounded) ->
    // inverted lists -> nprobe-list search + exact rerank. Fully
    // deterministic (rounded-cosine ranks, id tiebreaks), so unlike the
    // LSH path the DuckDB oracle rebuilds the identical index and the
    // result is hash-checked end to end.
    "ann_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      SimilaritySearch.topKCosineIvf(probes, "probe_id",
          emb, "vec_id", "embedding", k = 3, coarseK = 1, subK = 16,
          nprobeCells = 1, nprobeLeaves = 4)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // The retrieval face of the hierarchical quantizer: probes rank
    // the coarse cells (cost coarseK), then ONLY their nprobeCells
    // best cells' leaves (cost nprobeCells·subK), then search the
    // nprobeLeaves best leaf lists — probe routing never scans the
    // full codebook, mirroring the corpus-side two-level assignment
    // win. Every rank on (6-dp cos, id); the oracle replays the
    // nested training AND the whole search.
    "ann_ivf_twolevel" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      SimilaritySearch.topKCosineIvf(probes, "probe_id",
          emb, "vec_id", "embedding", k = 3, coarseK = 4, subK = 4,
          nprobeCells = 2, nprobeLeaves = 4)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // The memory-bounded production ANN shape: IVF candidates scored
    // against int8-QUANTIZED vectors (the 4x-smaller coarse store a
    // 100 TB deployment keeps hot), exact float re-rank of only the
    // top-12 candidates per probe. Coarse scores order candidates;
    // the output cosines are exact.
    "ann_ivf_rerank" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      SimilaritySearch.topKCosineIvfRerank(probes, "probe_id",
          emb, "vec_id", "embedding", k = 3, nlist = 16, nprobe = 4, coarseK = 12)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // IVF-PQ: the memory-compressed ANN path — product-quantization
    // codes (m=4 subspaces x 8 sub-centroids over unit-normalized
    // vectors) score the coarse candidates by asymmetric distance
    // computation, exact rerank of the ADC top-12 only. Deterministic
    // like ann_ivf, so the oracle rebuilds codebooks, codes, ADC and
    // rerank end to end. See SimilaritySearch.topKCosineIvfPq.
    "ann_ivf_pq" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      SimilaritySearch.topKCosineIvfPq(probes, "probe_id",
          emb, "vec_id", "embedding", k = 3, nlist = 16, nprobe = 4)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Retrieval-quality eval of the IVF index: the nprobe=4 list (k=10)
    // scored against the exact brute-force top-10 — recall@10, MRR and
    // nDCG@10 per probe, the accept/reject gate a pipeline runs before
    // trusting an ANN index at corpus scale. Both arms are the
    // registered queries' deterministic plans (broadcast probes, the
    // corpus scanned but never shuffled); the metric join keys on
    // (probe, vec) and the nDCG discounts are a shared literal table
    // (see NdcgDiscounts), so every metric is hash-checked end to end.
    "ann_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val ivf = SimilaritySearch.topKCosineIvf(probes, "probe_id",
          emb, "vec_id", "embedding", k = 10, coarseK = 1, subK = 16,
          nprobeCells = 1, nprobeLeaves = 4)
        .select(col("probe_id"), col("vec_id"), col("rk").as("ark"))
      val pb = probes.select(col("probe_id"), col("embedding").as("pvec"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val exact = emb.crossJoin(broadcast(pb))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(graft.functions.VectorFunctions.cosine(
            col("embedding"), col("pvec")), 6).as("cos"))
        .withColumn("erk", row_number().over(w))
        .filter(col("erk") <= 10)
      exact.join(ivf, Seq("probe_id", "vec_id"), "left")
        .groupBy(col("probe_id"))
        .agg(
          sum(when(col("ark").isNotNull, 1L).otherwise(0L)).as("n_hits"),
          (sum(when(col("ark").isNotNull, 1L).otherwise(0L)).cast("double") /
            lit(10.0)).as("recall_at_10"),
          coalesce(max(when(col("erk") === 1, lit(1.0) / col("ark"))), lit(0.0))
            .as("mrr"),
          // the isNotNull guard is LOAD-BEARING: Spark's element_at
          // over a literal array with a NULL index does not return
          // NULL (codegen leaves the slot's default/garbage value —
          // observed disc[10] inside sum()); guard before indexing.
          (round(coalesce(sum(when(col("ark").isNotNull,
            element_at(typedLit(NdcgDiscounts), col("ark")))),
            lit(0.0)) / lit(Idcg10), 6) + lit(0.0)).as("ndcg_at_10"))
        .orderBy(col("probe_id"))
    }),

    // Recall-TARGETED retrieval eval: ann_eval reports what the index
    // does at a fixed nprobe; this query closes the loop — autoNprobe
    // walks the doubling ladder 1,2,4,8,16 of the flat (1, 16) index to
    // the first nprobe whose MEAN recall@10 against the exact top-10
    // reaches 0.9 (monotone in nprobe, so that is the smallest one),
    // then reports the per-probe recall AT the tuned setting plus the
    // tuned knob itself and a target_met bound-boolean. The DuckDB
    // oracle replays the whole tuning: recall at EVERY ladder value,
    // min value reaching the target, per-probe stats at that value.
    "ann_eval_tuned" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      // the report is the tuner's own per-probe hits at the tuned nprobe
      val ((_, np), rec, probeHits) = SimilaritySearch.autoNprobe(
        probes, "probe_id", emb, "vec_id", "embedding",
        k = 10, coarseK = 1, subK = 16, targetRecall = 0.9)
      import s.implicits._
      probeHits.toDF("probe_id", "n_hits")
        .select(col("probe_id"), col("n_hits"),
          (col("n_hits").cast("double") / lit(10.0)).as("recall_at_10"))
        .withColumn("nprobe", lit(np.toLong))
        .withColumn("mean_recall", lit(rec) + lit(0.0))
        .withColumn("target_met", lit(rec >= 0.9))
        .orderBy(col("probe_id"))
    }),

    // Recall-targeted autotune at the HIERARCHICAL tier — ann_eval_tuned
    // for the two-level quantizer: autoNprobe walks the
    // (nprobeCells, nprobeLeaves) doubling ladder (LINEAR scan — the
    // joint ladder is not provably monotone, see the operator doc) to
    // the leftmost step whose mean recall@10 vs the exact top-10
    // reaches 0.9, then reports per-probe recall AT the tuned knobs
    // plus the knobs themselves. The DuckDB oracle replays the ladder:
    // recall at EVERY step (the same VALUES table twoLevelLadder
    // generates), leftmost step reaching target, per-probe stats there.
    "ann_eval_twolevel" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      // the report is the tuner's own per-probe hits at the tuned knobs
      val ((cells, leaves), rec, probeHits) = SimilaritySearch.autoNprobe(
        probes, "probe_id", emb, "vec_id", "embedding",
        k = 10, coarseK = 4, subK = 4, targetRecall = 0.9)
      import s.implicits._
      probeHits.toDF("probe_id", "n_hits")
        .select(col("probe_id"), col("n_hits"),
          (col("n_hits").cast("double") / lit(10.0)).as("recall_at_10"))
        .withColumn("nprobe_cells", lit(cells.toLong))
        .withColumn("nprobe_leaves", lit(leaves.toLong))
        .withColumn("mean_recall", lit(rec) + lit(0.0))
        .withColumn("target_met", lit(rec >= 0.9))
        .orderBy(col("probe_id"))
    }),

    // Embedding-cosine near-dup pairs via bucketed sign-LSH + exact
    // rerank. The corpus has no natural near-identical vectors (max
    // pairwise cos ~0.51), so the query plants them deterministically: a
    // scaled copy (x*1.01, same direction, cos ~1) of every vec_id<50.
    // Bucket self-join, never all-pairs; the DuckDB oracle brute-forces
    // the same answer.
    "embed_neardup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val pert = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01)).cast("float")).as("embedding"))
      SimilaritySearch.nearDupPairsLsh(emb.unionByName(pert), "vec_id", "embedding")
        .orderBy(col("i"), col("j"))
    }),

    // SemDeDup-style semantic deduplication (Abbas et al. 2023,
    // arXiv:2303.09540): cluster the embedding corpus with the IVF
    // coarse quantizer, then compare pairs ONLY within each cluster
    // and drop the higher id of every pair at cosine >= 0.99 (the
    // split_cluster_safe argument proves no two survivors are
    // near-dups). This is the SCALABLE form of embedding dedup: the
    // pairwise stage is cluster-bounded quadratic, and at production
    // scale nlist grows with the corpus so per-cluster sizes — and
    // per-cluster pair work — stay constant. Near-identical vectors
    // are planted exactly as in embed_neardup (scaled copies, cos ~1;
    // the natural corpus maxes at cos ~0.51, so 0.99 separates
    // cleanly); the centroids train on the UNION, which the oracle
    // replays.
    "semantic_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val pert = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01)).cast("float")).as("embedding"))
      SimilaritySearch.semanticDedup(emb.unionByName(pert),
          "vec_id", "embedding", coarseK = 1, subK = 16, threshold = 0.99)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(when(col("is_dropped"), 1L).otherwise(0L)).cast("long").as("n_dropped"),
          sum(when(col("is_dropped"), 0L).otherwise(1L)).cast("long").as("n_kept"),
          min(when(!col("is_dropped"), col("vec_id"))).as("min_kept_vec"))
        .orderBy(col("cluster_id"))
    }),

    // Incremental semantic dedup — the signature-store contract for
    // embeddings: build the frozen SemanticIndex from the corpus
    // (centroids + kept vectors), then verdict an increment against
    // it WITHOUT retraining (the encodePq discipline). Increment
    // composition exercises every verdict class: 50 scaled twins of
    // stored vectors (dup vs STORE), 30 reversed vectors (novel —
    // random directions stay uncorrelated under coordinate reversal),
    // and 10 reversed-scaled PAIRS (novel vs store, near-identical to
    // each other AND to the matching reversed novel, so the
    // intra-increment drop-higher-id rule fires in chains). The DuckDB
    // oracle replays the corpus training, the store kept-set, the
    // frozen assignment of the increment and both pair joins.
    "semantic_dedup_store" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val index = SimilaritySearch.buildSemanticIndex(emb, "vec_id", "embedding",
        coarseK = 1, subK = 16, threshold = 0.99)
      def scaled(src: org.apache.spark.sql.DataFrame, offset: Long, f: Double) =
        src.select((col("vec_id") + offset).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(f)).cast("float")).as("embedding"))
      val twins = scaled(emb.filter(col("vec_id") < 50), 10000L, 1.01)
      val novel = emb.filter(col("vec_id") < 30)
        .select((col("vec_id") + 20000).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      val revBase = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val inc = twins.unionByName(novel)
        .unionByName(scaled(revBase, 40000L, 1.01))
        .unionByName(scaled(revBase, 41000L, 1.02))
      SimilaritySearch.semanticDedupAgainstIndex(inc, "vec_id", "embedding",
          index, threshold = 0.99)
        .orderBy(col("vec_id"))
    }),

    // Cross-modal duplicate triage — the judgment SemDeDup-style
    // pipelines make after embedding near-dup detection: of the pairs
    // at cosine >= 0.99, which are VERBATIM copies (exact text dedup
    // would catch them; fingerprints equal) and which are PARAPHRASES
    // (same meaning vector, different surface text — the class only
    // the embedding pass can catch)? Planted both ways: ids < 20 get
    // scaled-embedding verbatim copies, ids in [20, 40) get
    // scaled-embedding copies whose text is deterministically
    // token-shuffled (sorted by md5(token) — an oracle-replayable
    // "paraphrase"). Candidate pairs from the MEASURED-dispatch front
    // door (nearDupPairsAuto): one routing scan computes the exact
    // sign-LSH candidate mass (and the corpus count, off the same
    // histogram); this corpus measures far under LshCandidateRowBudget,
    // so the banded sign-LSH path runs (identical directions collide in
    // every table — deterministic for the cos~1 regime this query
    // targets). Past the budget — ~800k vectors in the random-bucket
    // regime, much earlier on clustered corpora, where fixed 16-bit
    // buckets collapse — the pair source becomes the leaf-bounded
    // two-level join, whose candidate mass stays linear (AnnSpec pins
    // pair-set equality across both tiers on this planting).
    // Exact-cosine rerank, fingerprints joined back by id.
    // The DuckDB oracle uses exact all-pairs ground truth, so the hash
    // gate also proves the dispatched candidates are lossless here —
    // AnnSpec asserts the LSH-vs-exact candidate equality separately
    // with a fixture-drift-pointing message.
    "paraphrase_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = emb.join(docs, col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("embedding"), col("text"))
      def scaledEmb = transform(col("embedding"),
        x => (x.cast("double") * lit(1.01)).cast("float")).as("embedding")
      val verbatim = base.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000).as("vec_id"), scaledEmb, col("text"))
      val para = base.filter(col("vec_id") >= 20 && col("vec_id") < 40)
        .select((col("vec_id") + 20000).as("vec_id"), scaledEmb,
          array_join(transform(array_sort(transform(split(col("text"), " "),
            t => struct(md5(t).as("k"), t.as("t")))), sc => sc("t")), " ").as("text"))
      val corpus = base.unionByName(verbatim).unionByName(para)
      // Round 17 (r16 VERDICT item 7): the 30x profile's dominant
      // stages re-ran the corpus SUBTREE — the embeddings⋈documents
      // join, the union, and (worst) the para branch's per-doc
      // md5-keyed word shuffle — once per reference: the LSH pair
      // source scans its input ~4x (two bucket tables on both sides of
      // the self-join + the i/j rerank joins) and the fp frame twice
      // (i- and j-side textual_dup joins). Materialize ONE slim frame
      // (id, embedding ~80 MB at 30x, fingerprint 32 B/row), so the
      // subtree runs once, and derive the pair source's and the verdict
      // joins' projections from it — the heavy text column never leaves
      // the derivation scan (guide §2.3/§8). localCheckpoint, not
      // persist: see GraftSession's lifetime rule.
      val slim = corpus.select(col("vec_id"), col("embedding"),
          md5(col("text")).as("fp"))
        .localCheckpoint(true)
      val corpusEmb = slim.select(col("vec_id"), col("embedding"))
      val fps = slim.select(col("vec_id"), col("fp"))
      SimilaritySearch.nearDupPairsAuto(
          corpusEmb,
          "vec_id", "embedding", threshold = 0.99)
        .join(fps.select(col("vec_id").as("i"), col("fp").as("_fi")), "i")
        .join(fps.select(col("vec_id").as("j"), col("fp").as("_fj")), "j")
        .select(col("i"), col("j"), col("cos"),
          (col("_fi") === col("_fj")).as("textual_dup"))
        .orderBy(col("i"), col("j"))
    }),

    // Semantic dedup at the HIERARCHICAL tier (the quantizer above
    // AutoNlist's 4096-leaf flat ceiling, forced small here so the
    // oracle can replay it): coarse k-means cells, per-cell
    // sub-codebooks (seeds = smallest-md5 ids within the cell,
    // WindowGroupLimit-pruned), sub-Lloyd rounds in which a vector
    // meets only its own cell's leaves — assignment N·(coarseK+subK)
    // instead of the flat N·nlist — then leaf-bounded pair comparison.
    // Same planted twins as semantic_dedup; the DuckDB oracle rebuilds
    // BOTH nested trainings bit-for-bit (lloydCentsSql + twoLevelSql).
    "semantic_dedup_twolevel" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val pert = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01)).cast("float")).as("embedding"))
      SimilaritySearch.semanticDedup(emb.unionByName(pert),
          "vec_id", "embedding", coarseK = 4, subK = 4, threshold = 0.99)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(when(col("is_dropped"), 1L).otherwise(0L)).cast("long").as("n_dropped"),
          sum(when(col("is_dropped"), 0L).otherwise(1L)).cast("long").as("n_kept"),
          min(when(!col("is_dropped"), col("vec_id"))).as("min_kept_vec"))
        .orderBy(col("cluster_id"))
    }),

    // Corpus mixture report: document and token mass per (source,
    // lang) cell, with each cell's share of the whole — the table a
    // data-mixing run reads before choosing per-source sampling rates.
    // One partial-aggregated shuffle on the tiny composite key; the
    // grand totals ride along as a broadcast scalar row.
    "mix_sources" -> ((s, dir) => {
      val cells = Tables(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          size(tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
      val tot = cells.agg(sum(col("n_docs")).cast("double").as("td"),
        sum(col("n_tokens")).cast("double").as("tt"))
      cells.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("n_chars"),
          round(col("n_docs") / col("td"), 6).as("doc_share"),
          round(col("n_tokens") / col("tt"), 6).as("token_share"))
        .orderBy(col("source"), col("lang"))
    }),

    // Flat clustering of the embedding corpus: the IVF coarse quantizer
    // on its own — every vector assigned to its nearest k-means
    // centroid (hash-seeded codebook + 2 deterministic Lloyd rounds;
    // centroids broadcast, one corpus pass per round, the corpus never
    // shuffled), profiled per cluster. The corpus-structure /
    // mixture-balancing view a pipeline wants before sampling
    // decisions. The DuckDB oracle rebuilds the identical iterations.
    "embed_clusters" -> ((s, dir) =>
      SimilaritySearch.assignClusters(
          Tables(s, dir, "embeddings"), "vec_id", "embedding", coarseK = 1, subK = 16)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("cent_cos")), 6).as("avg_cos"),
          min(col("vec_id")).as("min_vec"))
        .orderBy(col("cluster_id"))),

    // Distributed PCA over the embedding corpus: the data pass is ONE
    // mergeable moment aggregation (X^T X + means + count in a single
    // fixed-size buffer, plans/GramianExpressions.scala), then a
    // driver-side 64x64 Jacobi eigensolve (operators/Pca.scala — the
    // model, not the data, crosses the driver boundary). Payload: the
    // exact population covariance matrix, which DuckDB recomputes with
    // covar_pop; the eigensolve gates through `eig_ok` — max |Cv - λv|
    // residual, orthonormality defect, and the trace identity, all
    // checked on the fitted model and emitted as one deterministic
    // boolean the oracle states closed-form.
    "embed_pca" -> ((s, dir) => {
      import s.implicits._
      val d = 64
      val model = Pca.fit(Tables(s, dir, "embeddings"), "embedding", d)
      val (resid, ortho, traceDef) = Pca.solverDefects(model, 4)
      val scale = math.max(model.eigenvalues.head, 1e-12)
      val ok = resid <= 1e-9 * scale && ortho <= 1e-10 &&
        traceDef <= 1e-9 * scale * d
      val rows = for (i <- 0 until d; j <- i until d)
        yield (i + 1, j + 1, model.cov(i)(j))
      rows.toDF("i", "j", "cov")
        .select(col("i"), col("j"), round(col("cov"), 6).as("cov"),
          lit(ok).as("eig_ok"))
        .orderBy(col("i"), col("j"))
    }),

    // Symmetric int8 quantization per embedding (max-abs scaling) with
    // the reconstruction RMSE — the compression step before shipping a
    // 100 TB embedding corpus to an ANN index (4x smaller, error
    // reported per vector). One codegen-bounded projection per row; the
    // oracle rebuilds codes and error with list comprehensions and must
    // agree on the md5 of the code array itself. The rounded scale is
    // what both engines divide by, so codes are bit-identical.
    "embed_quantize" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("qscale",
          expr("""case when round(array_max(transform(v, x -> abs(x))) / 127.0, 9) = 0
                  then 1.0 else round(array_max(transform(v, x -> abs(x))) / 127.0, 9) end"""))
        .withColumn("qv", expr("transform(v, x -> cast(round(x / qscale, 0) as int))"))
        .select(col("vec_id"), col("qscale"),
          md5(concat_ws(",", expr("transform(qv, x -> cast(x as string))"))).as("q_md5"),
          expr("""round(sqrt(aggregate(zip_with(v, qv, (x, q) -> pow(x - q * qscale, 2)),
                  cast(0 as double), (acc, e) -> acc + e) / size(v)), 6)""").as("recon_rmse"))
        .orderBy(col("vec_id"))),

    // Per-document mean bigram log-probability under the corpus bigram
    // MLE — the cheap "language-model surprise" quality signal: junk
    // and boilerplate sit far from the corpus distribution. Bigram
    // counts shuffle on the bigram key (inverted-index shape); the
    // grand total rides along as a broadcast scalar.
    "bigram_logprob" -> ((s, dir) => {
      // NOT shingles(): the MLE weights every occurrence, shingles()
      // dedups. Native WordNgramsExpr — the interpreted transform/slice
      // lambda benched 10x slower at sf0.1.
      val big = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graft.NativeExpressions
            .wordNgrams(tokens(col("text")), 2)).as("bg"))
      val counts = big.groupBy(col("bg")).agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(col("c")).cast("double").as("t"))
      big.join(counts, "bg").crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(col("c") / col("t"))), 6).as("avg_logp"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    // Chen & Goodman 1999) — the smoothing real n-gram LMs ship with,
    // built entirely from exact distributed counts: absolute discount
    // D=0.75 off every bigram count, mass redistributed via the
    // CONTINUATION probability (how many distinct contexts a word
    // follows, not how often it occurs — the "San Francisco" fix).
    // Every aggregate is a keyed partial-agg shuffle over the bigram /
    // prefix / suffix key; the type total rides as a broadcast scalar.
    // Payload: the top-30 bigrams by count with their exact P_KN.
    "kneser_ney" -> ((s, dir) => {
      val D = 0.75
      val cnt = Tables(s, dir, "documents")
        .select(explode(org.apache.spark.sql.graft.NativeExpressions
          .wordNgrams(tokens(col("text")), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c"))
        .select(col("bg"), col("c"),
          substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
      // c(w1 •) and N1+(w1 •): one aggregation over the type table,
      // keyed on the prefix; N1+(• w2) keyed on the suffix; N1+(• •)
      // is a single scalar.
      val pre = cnt.groupBy(col("w1"))
        .agg(sum(col("c")).as("c1"), count(lit(1)).as("nfwd"))
      val suf = cnt.groupBy(col("w2")).agg(count(lit(1)).as("nrev"))
      val types = cnt.agg(count(lit(1)).cast("double").as("tt"))
      cnt.join(pre, "w1").join(suf, "w2").crossJoin(broadcast(types))
        .select(col("bg"), col("c"),
          round(greatest(col("c") - lit(D), lit(0.0)) / col("c1") +
            (lit(D) * col("nfwd") / col("c1")) * (col("nrev") / col("tt")), 6)
            .as("p_kn"))
        .orderBy(col("c").desc, col("bg"))
        .limit(30)
    }),

    // Passage-level exact dedup: verbatim 10-token chunks appearing in
    // more than one document (the planted near-dup pairs share chunk-
    // aligned passages). See Dedup.dupPassages for the scale shape.
    "passage_dedup" -> ((s, dir) =>
      Dedup.dupPassages(Tables(s, dir, "documents"), "doc_id", "text", chunkTokens = 10)
        .orderBy(col("passage"))),

    // C4-style duplicate-span REMOVAL: every 10-token span duplicated
    // across the corpus survives only at its globally first occurrence
    // and documents are rewritten from the surviving spans (sub-chunk
    // tails always kept) — the rewrite step passage_dedup's removal
    // list feeds. See Dedup.rewriteDupSpans for the scale shape.
    "span_rewrite" -> ((s, dir) =>
      Dedup.rewriteDupSpans(Tables(s, dir, "documents"), "doc_id", "text", chunkTokens = 10)
        .orderBy(col("doc_id"))),

    // Content-defined chunking dedup: boundaries from a rolling
    // window hash (pure function of local content), so chunks realign
    // after insertions — the shifted-duplicate case fixed 10-token
    // chunking (passage_dedup) misses. See Dedup.contentDefinedChunks.
    "cdc_chunks" -> ((s, dir) =>
      Dedup.contentDefinedChunks(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("chunk_md5"))),

    // Benchmark decontamination: 5-gram overlap of every training doc
    // (doc_id % 20 != 0) against the benchmark split (doc_id % 20 == 0).
    // The planted near-dup pairs that straddle the split are exactly
    // what this must catch. Benchmark shingle vocabulary is broadcast;
    // the train side is one scan (see Dedup.benchmarkOverlap).
    "contamination" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.benchmarkOverlap(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", n = 5, flagAt = 0.1)
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal ---------------------------------------------------------

    // Media-metadata extraction over binary columns: documents' text
    // bytes stand in for media payloads (no real media in the synthetic
    // tables), with deterministic magic-byte prefixes planted by
    // doc_id%3 so the MIME sniffer has something to find. The binary
    // column plumbing (concat, octet_length, hex-prefix dispatch) is the
    // real 100 TB shape; only the payloads are synthetic.
    "media_meta" -> ((s, dir) => {
      val payload = col("text").cast("binary")
      val media = when(pmod(col("doc_id"), lit(3)) === 0, concat(expr("X'FFD8FFE0'"), payload))
        .when(pmod(col("doc_id"), lit(3)) === 1, concat(expr("X'89504E470D0A1A0A'"), payload))
        .otherwise(payload)
      MultimodalFunctions
        .withMediaMeta(Tables(s, dir, "documents").withColumn("media", media), "media")
        .select(col("doc_id"), col("media_mime"),
          col("media_bytes").cast("long").as("media_bytes"),
          md5(col("text").cast("binary")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio-metadata decode: each document's text bytes are
    // wrapped in a canonical 44-byte RIFF/WAVE header (sample rate /
    // channels varied deterministically by doc_id; header bytes built
    // with codegen'd hex/unhex arithmetic), and decodeWavMeta walks the
    // ACTUAL chunk list to recover rate/channels/bits/duration. The
    // oracle recomputes the expected values from the same doc_id
    // arithmetic — agreement proves the parser read the header right.
    "media_audio" -> ((s, dir) => {
      def le16(x: org.apache.spark.sql.Column) =
        format_string("%02x%02x", pmod(x, lit(256)), pmod(x.divide(lit(256)).cast("int"), lit(256)))
      def le32(x: org.apache.spark.sql.Column) =
        concat(le16(pmod(x, lit(65536))), le16((x / 65536).cast("int")))
      val rate = element_at(array(lit(8000), lit(11025), lit(22050)),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val ch = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
      val blockAlign = ch * 2 // 16-bit PCM
      val byteRate = rate * blockAlign
      val dataLen = octet_length(col("text").cast("binary"))
      val headerHex = concat(
        hex(lit("RIFF")), le32(dataLen + 36), hex(lit("WAVE")),
        hex(lit("fmt ")), le32(lit(16)), le16(lit(1)), le16(ch),
        le32(rate), le32(byteRate), le16(blockAlign), le16(lit(16)),
        hex(lit("data")), le32(dataLen))
      val wav = concat(unhex(headerHex), col("text").cast("binary"))
      MultimodalFunctions.decodeWavMeta(
          Tables(s, dir, "documents").withColumn("wav", wav), "wav")
        .select(col("doc_id"), col("wav_sample_rate"), col("wav_channels"),
          col("wav_bits"), col("wav_duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // REAL multi-frame pipeline end-to-end: synthesize an animated GIF
    // per document (2-4 uniform-gray frames, gray level a closed-form
    // function of doc_id and frame index) through the genuine JDK GIF
    // writer, then decodeGifFrames reads every frame back and features
    // it. Uniform single-color frames survive GIF's palette exactly, so
    // the oracle recomputes frame count, dimensions and per-frame mean
    // red arithmetically — the video-shaped one-row-in/n-frames-out
    // path made real on an actual codec.
    "media_gif_frames" -> ((s, dir) => {
      // repartition before the codec mapPartitions: the doc_id scan is
      // one small input split, and GIF encode/decode is CPU-bound —
      // without the spread, all codec work runs on a single core (the
      // same reasoning as the shingle repartition in Dedup)
      val src = Tables(s, dir, "documents").select(col("doc_id"))
        .transform(Spread.byKey(_, "doc_id"))
      val schema = org.apache.spark.sql.types.StructType(src.schema.fields :+
        org.apache.spark.sql.types.StructField("gif",
          org.apache.spark.sql.types.BinaryType, nullable = false))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      val synth = src.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val nFrames = 2 + (id % 3).toInt
          val (w, h) = (6, 4)
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            for (f <- 0 until nFrames) {
              val g = ((id * 31 + f * 53) % 256).toInt
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val rgb = (g << 16) | (g << 8) | g
              var y = 0
              while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
              writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
            }
            writer.endWriteSequence()
          } finally { writer.dispose(); ios.close() }
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bos.toByteArray)
        }
      }(enc)
      MultimodalFunctions.decodeGifFrames(synth, "gif")
        .select(col("doc_id"), col("frame_idx"), col("frame_width"),
          col("frame_height"), col("frame_mean_red"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // REAL PCM pipeline end-to-end: synthesize a WAV whose 16-bit
    // samples follow a closed-form formula (v_i from doc_id and i),
    // byte-encode it (codegen'd hex), then decodePcmFeatures walks the
    // ACTUAL data chunk and reduces the samples to exact integer
    // features. The oracle recomputes energy/peak/crossings from the
    // same formula — agreement proves the byte-level decode
    // reconstructed exactly the intended signal.
    "media_pcm" -> ((s, dir) => {
      def le16(x: org.apache.spark.sql.Column) =
        format_string("%02x%02x", pmod(x, lit(256)), pmod(x.divide(lit(256)).cast("int"), lit(256)))
      def le32(x: org.apache.spark.sql.Column) =
        concat(le16(pmod(x, lit(65536))), le16((x / 65536).cast("int")))
      val n = (lit(200) + pmod(col("doc_id"), lit(100))).cast("int")
      // u_i in [0, 65536); the stored LE bytes decode to the signed
      // sample v_i = u_i < 32768 ? u_i : u_i - 65536
      val payloadHex = array_join(transform(sequence(lit(0), n - 1), i =>
        le16(pmod(col("doc_id") * 7 + i * 13, lit(65536)))), "")
      val dataLen = n * 2
      val headerHex = concat(
        hex(lit("RIFF")), le32(dataLen + 36), hex(lit("WAVE")),
        hex(lit("fmt ")), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(16)),
        hex(lit("data")), le32(dataLen))
      val wav = unhex(concat(headerHex, payloadHex))
      // repartition: the per-row hex synthesis + sample walk is
      // CPU-bound over one small input split (see media_gif_frames);
      // project to doc_id FIRST so the spread shuffles 8 bytes per row,
      // not the document text
      MultimodalFunctions.decodePcmFeatures(
          Tables(s, dir, "documents").select(col("doc_id"))
            .transform(Spread.byKey(_, "doc_id"))
            .withColumn("wav", wav), "wav")
        .select(col("doc_id"), col("n_samples"), col("sum_sq"),
          col("peak"), col("zero_crossings"))
        .orderBy(col("doc_id"))
    }),

    // REAL image pipeline end-to-end: synthesize a solid-gray PNG per
    // document (dimensions and gray level varied by doc_id), decode →
    // bilinear-resize to 8x8 → decode again → luminance-histogram the
    // pixels. Every step runs the real JDK codec path; the oracle
    // recomputes the expected dimensions, dominant luma bin and mass
    // from doc_id arithmetic (bilinear resize of a uniform color is the
    // same color, so the histogram is fully predictable).
    "media_resize" -> ((s, dir) => {
      // spread the PNG encode -> resize -> decode codec chain across
      // cores (single small input split otherwise; see media_gif_frames)
      val src = Tables(s, dir, "documents").select(col("doc_id"))
        .transform(Spread.byKey(_, "doc_id"))
      val schema = org.apache.spark.sql.types.StructType(src.schema.fields :+
        org.apache.spark.sql.types.StructField("img",
          org.apache.spark.sql.types.BinaryType, nullable = false))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      val synth = src.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val w = 4 + (id % 5).toInt; val h = 3 + (id % 3).toInt
          val g = ((id * 37) % 256).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bos.toByteArray)
        }
      }(enc)
      val resized = MultimodalFunctions.resizeImage(synth, "img", 8, 8)
      val feat = MultimodalFunctions.imageLumaHistogram(
        MultimodalFunctions.decodeImageMeta(resized.drop("img")
          .withColumnRenamed("resized", "img"), "img"), "img", bins = 16)
      feat.select(col("doc_id"), col("img_width"), col("img_height"),
          expr("array_position(luma_hist, array_max(luma_hist))").cast("int").as("top_bin1"),
          round(expr("array_max(luma_hist)"), 6).as("top_mass"))
        .orderBy(col("doc_id"))
    }),

    // REAL perceptual-hash image dedup: synthesize a 9x8 gradient PNG
    // per document whose column-luma pattern depends only on
    // doc_id % 24, push it through the real resize path (identity blit
    // at equal dims — still the full encode→decode→re-encode codec
    // chain), dHash the decoded pixels, and group equal hashes into
    // duplicate clusters. The scale shape is the one that matters at
    // 100 TB: pixels never shuffle — only the 16-byte hash does, and
    // the dedup is a plain hash-partition groupBy. The oracle
    // recomputes each group's hash arithmetically (adjacent-column luma
    // comparisons from doc_id math; the codec chain is lossless).
    "media_phash_dedup" -> ((s, dir) => {
      val src = Tables(s, dir, "documents").select(col("doc_id"))
        .transform(Spread.byKey(_, "doc_id"))
      val schema = org.apache.spark.sql.types.StructType(src.schema.fields :+
        org.apache.spark.sql.types.StructField("img",
          org.apache.spark.sql.types.BinaryType, nullable = false))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      val synth = src.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val g = (id % 24).toInt
          val img = new java.awt.image.BufferedImage(9, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var x = 0
          while (x < 9) {
            val l = ((g + 3) * (x + 1) * 19 + x * x * 11) % 256
            val rgb = (l << 16) | (l << 8) | l
            var y = 0
            while (y < 8) { img.setRGB(x, y, rgb); y += 1 }
            x += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bos.toByteArray)
        }
      }(enc)
      val resized = MultimodalFunctions.resizeImage(synth, "img", 9, 8)
        .drop("img").withColumnRenamed("resized", "img")
      MultimodalFunctions.imageDHash(resized, "img")
        .groupBy(col("dhash"))
        .agg(count(lit(1)).cast("long").as("n_docs"), min(col("doc_id")).as("min_doc"))
        .filter(col("n_docs") > 1)
        .orderBy(col("dhash"))
    }),

    // Frame-sampling plumbing (video/audio batch shape): 4 evenly
    // spaced 16-byte windows per binary payload via frameSampleStub,
    // posexploded to one row per frame — the real one-row-in, n-frames-
    // out pipeline a frame extractor feeds; only the window extraction
    // is the stub. The payloads (text bytes) are pure ASCII, so the
    // DuckDB oracle reproduces the byte windows with VARCHAR substr.
    "media_frames" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("frames",
          MultimodalFunctions.frameSampleStub(col("text").cast("binary"), 4, 16))
        .select(col("doc_id"), posexplode(col("frames")).as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx"),
          md5(col("frame")).as("frame_md5"),
          octet_length(col("frame")).cast("long").as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // Text cleaning: strip URLs, mask emails, drop HTML tags, collapse
    // whitespace — the pre-tokenization scrub every corpus pass runs.
    // RE2-safe patterns (no lookarounds) so the DuckDB oracle applies
    // the identical regexes; one codegen'd projection.
    "text_clean" -> ((s, dir) => {
      val url = "https?://[^\\s]+"
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val html = "<[^>]+>"
      val t = col("text")
      val cleaned = trim(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(t, url, " "), email, "[EMAIL]"),
          html, " "), "\\s+", " "))
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(t, lit(url), lit(0))).as("n_urls"),
        size(regexp_extract_all(t, lit(email), lit(0))).as("n_emails"),
        length(cleaned).as("clean_len"),
        substring(cleaned, 1, 80).as("clean_prefix"))
        .orderBy(col("doc_id"))
    }),

    // Real HTML/DOM block extraction in front of text_clean — the
    // jusText-style stage a WEB corpus needs (script/style payloads
    // must not survive as "text", entities must decode, nav/footer
    // boilerplate must drop by tag and link density; the regex
    // text_clean is only right for tags-in-prose). Each document is
    // wrapped in a planted HTML page (the media_* closed-form fixture
    // pattern: raw-text script with a bare `<`, quoted `>` in an
    // attribute, a comment, entities incl. numeric, a link-only div
    // above the density cutoff, nav+footer) and run through the
    // HtmlBlocksExpr tokenizer; the oracle computes the expected
    // blocks directly from the raw columns. One codegen'd projection +
    // posexplode — no shuffle at all.
    "html_extract" -> ((s, dir) =>
      plantedHtmlBlocks(s, dir).orderBy(col("doc_id"), col("block_no"))),

    // C4-style LINE-level dedup at DOM-block granularity — the
    // composition a web pipeline actually runs: extract blocks
    // (html_extract's tokenizer), then keep every distinct block text
    // only at its globally FIRST (doc_id, block_no) occurrence and
    // reassemble documents from the survivors. Boilerplate shared by
    // every page (the planted tail paragraph) survives exactly once
    // corpus-wide; short h1 prefixes collide across docs and dedup
    // too; unique blocks pass untouched. One block-keyed window
    // shuffle (full key-cardinality parallelism — the span_rewrite
    // shape at block granularity) + one doc-keyed aggregation.
    "html_block_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("block")).orderBy(col("doc_id"), col("block_no"))
      plantedHtmlBlocks(s, dir)
        .withColumn("rk", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_blocks"),
          sum(when(col("rk") === 1, 1L).otherwise(0L)).cast("long").as("n_kept"),
          // collect_list skips the nulls the unmatched `when` leaves,
          // so only survivors enter; struct sort restores block order
          array_join(transform(
            array_sort(collect_list(when(col("rk") === 1,
              struct(col("block_no"), col("block"))))),
            b => b("block")), " ").as("kept_text"))
        .orderBy(col("doc_id"))
    }),

    // Repetition signals (Gopher-style quality filters): distinct-token
    // ratio, top-token mass fraction, duplicate-bigram fraction — the
    // gates that drop boilerplate/spam before training. Per-token
    // grouping shuffles on (doc, token); everything else is projection.
    "text_repetition" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
      val ratios = base.select(col("doc_id"),
        size(col("toks")).as("n_toks"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6)
          .as("distinct_ratio"),
        round(when(size(col("toks")) >= 2,
          lit(1.0) - size(array_distinct(shingles(col("toks"), 2))).cast("double") /
            (size(col("toks")) - 1)).otherwise(lit(0.0)), 6).as("dup_bigram_frac"))
      val top = base.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_c"), sum(col("c")).as("tot_c"))
        .select(col("doc_id"),
          round(col("top_c").cast("double") / col("tot_c"), 6).as("top_token_frac"))
      ratios.join(top, "doc_id")
        .select(col("doc_id"), col("n_toks"), col("distinct_ratio"),
          col("dup_bigram_frac"), col("top_token_frac"))
        .orderBy(col("doc_id"))
    }),

    // Per-document quality/token metrics: BPE-ish subword counts (the
    // corpus-size estimate a training pipeline budgets by), whitespace
    // tokens, and character-class ratios. One projection; the regexes
    // are RE2-safe so the DuckDB oracle runs the identical patterns.
    "text_quality" -> ((s, dir) => {
      val t = col("text")
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(bpeishTokens(t)).as("bpe_tokens"),
        size(tokens(t)).as("ws_tokens"),
        round(length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") / length(t), 6).as("alpha_ratio"),
        round(length(regexp_replace(t, "[^\\p{N}]", "")).cast("double") / length(t), 6).as("digit_ratio"),
        round(length(regexp_replace(t, "[\\p{L}\\p{N}\\s]", "")).cast("double") / length(t), 6).as("punct_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Semi-structured: JSON string column parsed two ways — path
    // extraction (get_json_object) and schema-based from_json — both
    // codegen'd projections over the scan; no UDFs, no driver parsing.
    "json_props" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_path"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
            .getField("k").as("k_schema"))
        .orderBy(col("event_id"))),

    // ---- events -------------------------------------------------------------

    // As-of join: each click event picks up the value of the same
    // user's LATEST prior (or simultaneous) view — the trades->quotes
    // shape. Views are pre-aggregated to unique (user, ts) first; ties
    // would otherwise be nondeterministic in ANY engine. Oracle is
    // DuckDB's native ASOF LEFT JOIN.
    "asof_join" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsofJoin.asofJoinLast(clicks, views, "user_id", "ts", Seq("view_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          round(col("view_value"), 2).as("view_value"))
        .orderBy(col("event_id"))
    }),

    // As-of join WITH TOLERANCE (pandas merge_asof semantics): the
    // matched view must be within 15 minutes or the payload nulls out —
    // same single-shuffle window plan, one extra gating predicate.
    "asof_tolerance" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsofJoin.asofJoinLast(clicks, views, "user_id", "ts", Seq("view_value"),
        Some(15L * 60 * 1000000))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          round(col("view_value"), 2).as("view_value"))
        .orderBy(col("event_id"))
    }),

    // Range join: price points into overlapping price bands via the
    // binned equi-join (RangeJoin.pointInRange) instead of a
    // nested-loop BETWEEN join.
    "range_join" -> ((s, dir) => {
      // p_retailprice spans [900, 1000); bands split it and the last
      // band overlaps all others (points match multiple intervals).
      // Seq[Any], NOT Seq(...): scalac would otherwise widen the Long ids
      // to Double at compile time (r2's range_join hash mismatch — the
      // oracle emits BIGINT band_ids, Spark emitted 0.0/1.0/...).
      val bands = graft.Graft.fromValues(s, Seq("band_id", "lo", "hi"), Seq(
        Seq[Any](0L, 900.0, 920.0), Seq[Any](1L, 920.0, 940.0), Seq[Any](2L, 940.0, 960.0),
        Seq[Any](3L, 960.0, 980.0), Seq[Any](4L, 980.0, 1000.0), Seq[Any](5L, 900.0, 1000.0)))
      graft.operators.RangeJoin.pointInRange(
        Tables(s, dir, "part"), "p_retailprice", bands, "lo", "hi", binWidth = 20.0)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"), round(avg(col("p_retailprice")), 6).as("avg_price"))
        .orderBy(col("band_id"))
    }),

    // Tumbling 10-minute window aggregation over the event stream table
    // (the batch face of the streaming surface; StreamOps runs the same
    // shape incrementally). Window start serialized as a string so the
    // cross-engine timestamp comparison is unambiguous.
    "events_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))),

    // Hopping (sliding) windows: 30-minute windows every 10 minutes,
    // so each event lands in exactly 3 overlapping windows — Spark's
    // window() expands the rows before one keyed aggregation (the
    // batch face of the streaming sliding-window agg). The oracle
    // reproduces the expansion as bucket - k*slide for k in 0..2.
    "events_hopping" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("n"), col("sum_value"))
        .orderBy(col("w_start"))))

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, concat('  ', upper(text), '   ')
           FROM documents WHERE doc_id < 100
         )
         SELECT fp, count(*) AS n_copies, min(doc_id) AS keep_id
         FROM (SELECT doc_id,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) fp
               FROM all_docs)
         GROUP BY fp HAVING count(*) > 1 ORDER BY fp""",
    "dedup_near" -> (nearPairsSql + " ORDER BY i, j"),
    // same exact-Jaccard answer at t=0.8 — the prefix filter is lossless
    "dedup_prefix" -> (nearPairsSqlAt(0.8) + " ORDER BY i, j"),
    "substring_overlap" ->
      s"""WITH t AS (SELECT doc_id, $toksSql toks FROM documents),
          e AS (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 7)) AS i
                FROM t WHERE len(toks) >= 8),
          ww AS (SELECT doc_id, i - 1 AS pos,
                        array_to_string(toks[i:i+7], ' ') AS w FROM e),
          ok AS (SELECT w FROM ww GROUP BY w
                 HAVING count(*) >= 2 AND count(*) <= 64),
          pr AS (SELECT a.doc_id i, b.doc_id j, a.pos pi, b.pos pj
                 FROM ww a JOIN ww b ON a.w = b.w AND a.doc_id < b.doc_id
                 WHERE a.w IN (SELECT w FROM ok)),
          isl AS (SELECT i, j, pj - pi AS diag, pi,
                         pi - row_number() OVER (PARTITION BY i, j, pj - pi
                                                 ORDER BY pi) AS grp
                  FROM pr),
          runs AS (SELECT i, j, diag, grp, count(*) AS run
                   FROM isl GROUP BY 1, 2, 3, 4)
          SELECT i, j, CAST(sum(run) AS BIGINT) AS n_shared_windows,
                 CAST(max(run) + 7 AS BIGINT) AS max_run_tokens
          FROM runs GROUP BY 1, 2 ORDER BY i, j""",
    // identical Horner-with-mod hash arithmetic, boundaries, chunk
    // strings and md5 fingerprints rebuilt with list comprehensions
    "cdc_chunks" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql toks FROM documents),
          t AS (SELECT doc_id, toks FROM t0 WHERE len(toks) >= 4),
          h AS (SELECT doc_id, toks,
                  [list_reduce(list_prepend(CAST(0 AS BIGINT),
                     [CAST(ascii(c) AS BIGINT) for c in string_split(tk, '')]),
                     (acc, x) -> (acc * 31 + x) % 1000000007) for tk in toks] th
                FROM t),
          wb AS (SELECT doc_id, toks,
                   [CAST(i + 3 AS BIGINT) for i in generate_series(1, len(th) - 3)
                    if list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+3]),
                         (acc, x) -> (acc * 1000003 + x) % 1000000007) % 16 = 0
                       AND i + 3 < len(toks)] ends
                 FROM h),
          b AS (SELECT doc_id, toks,
                  list_concat(list_concat([CAST(0 AS BIGINT)], ends),
                              [CAST(len(toks) AS BIGINT)]) bounds
                FROM wb),
          c AS (SELECT doc_id,
                  unnest([array_to_string(toks[bounds[k]+1:bounds[k+1]], ' ')
                          for k in generate_series(1, len(bounds) - 1)]) chunk
                FROM b),
          d AS (SELECT DISTINCT doc_id, md5(chunk) chunk_md5 FROM c)
          SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_docs,
                 min(doc_id) AS keep_id
          FROM d GROUP BY 1 HAVING count(*) >= 2 ORDER BY chunk_md5""",
    "dedup_minhash" -> (nearPairsSql + " ORDER BY i, j"),
    "dedup_eval" -> dedupEvalOracleSql,
    // dedup_simhash: the oracle rebuilds the ENTIRE simhash pipeline —
    // md5-derived 64-bit shingle hashes (hex fold in HUGEINT), per-bit
    // strict-majority votes folded into the fingerprint, 4x16-bit
    // pigeonhole buckets, exact Hamming filter — so the pair list is
    // hash-checked end to end, not rows-only. All bit arithmetic stays
    // in unsigned HUGEINT; Spark's signed longs share the bit patterns.
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql toks FROM documents),
          sh AS (
            SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                                 for i in generate_series(1, len(toks) - 2)])) s
            FROM t WHERE len(toks) >= 3),
          hh AS (
            SELECT doc_id,
              list_reduce(list_prepend(CAST(0 AS HUGEINT),
                [CAST(strpos('0123456789abcdef', c) - 1 AS HUGEINT)
                 for c in string_split(substr(md5(s), 1, 16), '')]),
                (a, x) -> a * 16 + x) h
            FROM sh),
          fps AS (
            SELECT doc_id,
              list_reduce(list_prepend(CAST(0 AS HUGEINT),
                [CASE WHEN len([x for x in hs if (x >> (63 - i)) & 1 = 1]) * 2 > len(hs)
                      THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
                 for i in generate_series(0, 63)]),
                (a, b) -> a * 2 + b) fp
            FROM (SELECT doc_id, list(h) hs FROM hh GROUP BY 1)),
          ch AS (
            SELECT doc_id, fp, k, (fp >> (16 * k)) & 65535 ck
            FROM fps, generate_series(0, 3) g(k)),
          cand AS (
            SELECT DISTINCT a.doc_id i, b.doc_id j, a.fp fa, b.fp fb
            FROM ch a JOIN ch b ON a.k = b.k AND a.ck = b.ck AND a.doc_id < b.doc_id)
          SELECT i, j FROM cand
          WHERE len([x for x in generate_series(0, 63)
                     if ((xor(fa, fb) >> x) & 1) = 1]) <= 3
          ORDER BY i, j""",
    "curation_keep" ->
      s"""WITH near AS (SELECT DISTINCT j FROM ($nearPairsSql)),
          t AS (SELECT doc_id, $toksSql toks FROM documents)
          SELECT doc_id, len(toks) AS n_tokens,
            round($stopHitsSql::DOUBLE / len(toks), 6) + 0.0 AS stop_ratio
          FROM t
          WHERE doc_id NOT IN (SELECT j FROM near)
            AND len(toks) >= 20
            AND $stopHitsSql::DOUBLE / len(toks) <= 0.5
          ORDER BY doc_id""",
    "text_profile" ->
      s"""SELECT doc_id, len(toks) AS n_tokens, length(norm) AS n_chars_norm,
            $langIdSql AS lang_id,
            $stopHitsSql AS stop_hits,
            round($stopHitsSql::DOUBLE / len(toks), 6) + 0.0 AS stop_ratio,
            round((length(norm) - len(toks) + 1)::DOUBLE / len(toks), 6) + 0.0 AS avg_tok_len
          FROM (SELECT doc_id, $toksSql toks,
                  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) norm
                FROM documents)
          ORDER BY doc_id""",
    "token_stats" ->
      s"""SELECT CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
            count(*) AS total_docs,
            round(avg(len(toks)), 6) + 0.0 AS avg_tokens_per_doc,
            (SELECT count(DISTINCT t) FROM
              (SELECT unnest(toks2) t FROM
                (SELECT $toksSql toks2 FROM documents))) AS distinct_tokens
          FROM (SELECT $toksSql toks FROM documents)""",
    "doc_fingerprint" ->
      s"""SELECT doc_id,
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                [CAST(ascii(c) AS BIGINT)
                 for c in string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '')]),
              (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
          FROM documents ORDER BY doc_id""",
    "text_clean" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           length(cleaned) AS clean_len,
           substr(cleaned, 1, 80) AS clean_prefix
         FROM (
           SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, 'https?://[^\s]+', ' ', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '\s+', ' ', 'g')) cleaned
           FROM documents)
         ORDER BY doc_id""",
    // The fixture is closed-form (the media_* pattern): the planted
    // page's surviving blocks are a known function of the raw columns
    // — title, first-3-token h1, the 20-token paragraph with decoded
    // entities, and the literal tail paragraph; nav/footer/script/
    // style and the link-dense div never appear.
    "html_extract" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id, block_no, block FROM (
           SELECT doc_id, CAST(0 AS INT) AS block_no,
             'Doc ' || CAST(doc_id AS VARCHAR) AS block FROM w
           UNION ALL SELECT doc_id, CAST(1 AS INT),
             array_to_string(w[1:3], ' ') FROM w
           UNION ALL SELECT doc_id, CAST(2 AS INT),
             array_to_string(w[1:20], ' ') || ' & more!' FROM w
           UNION ALL SELECT doc_id, CAST(3 AS INT), 'Tail <end>' FROM w)
         ORDER BY doc_id, block_no""",
    "html_block_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
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
                FROM hb)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rk = 1 THEN block END, ' '
                               ORDER BY block_no), '') AS kept_text
         FROM rk GROUP BY doc_id ORDER BY doc_id""",
    "text_repetition" ->
      s"""WITH t AS (
            SELECT doc_id, $toksSql toks FROM documents
            WHERE len($toksSql) > 0),
          ratios AS (
            SELECT doc_id, len(toks) n_toks,
              round(len(list_distinct(toks))::DOUBLE / len(toks), 6) distinct_ratio,
              round(CASE WHEN len(toks) >= 2
                THEN 1.0 - len(list_distinct([array_to_string(toks[i:i+1], ' ')
                       for i in generate_series(1, len(toks) - 1)]))::DOUBLE / (len(toks) - 1)
                ELSE 0.0 END, 6) dup_bigram_frac
            FROM t),
          top AS (
            SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) top_token_frac
            FROM (SELECT doc_id, tok, count(*) c
                  FROM (SELECT doc_id, unnest(toks) tok FROM t)
                  GROUP BY 1, 2)
            GROUP BY 1)
          SELECT r.doc_id, n_toks, distinct_ratio, dup_bigram_frac, top_token_frac
          FROM ratios r JOIN top USING (doc_id)
          ORDER BY doc_id""",
    "text_quality" ->
      s"""SELECT doc_id,
            len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+')) AS bpe_tokens,
            len($toksSql) AS ws_tokens,
            round(length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::DOUBLE / length(text), 6) + 0.0 AS alpha_ratio,
            round(length(regexp_replace(text, '[^\\p{N}]', '', 'g'))::DOUBLE / length(text), 6) + 0.0 AS digit_ratio,
            round(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))::DOUBLE / length(text), 6) + 0.0 AS punct_ratio
          FROM documents ORDER BY doc_id""",
    "asof_join" ->
      """WITH v AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) ts, max(value) view_value
           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         c AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts
           FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           round(v.view_value, 2) + 0.0 AS view_value
         FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
         ORDER BY c.event_id""",
    "asof_tolerance" ->
      """WITH v AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) ts, max(value) view_value
           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         c AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts
           FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           CASE WHEN epoch_us(c.ts) - epoch_us(v.ts) <= 900000000
                THEN round(v.view_value, 2) END AS view_value
         FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
         ORDER BY c.event_id""",
    "range_join" ->
      """SELECT band_id, count(*) AS n, round(avg(p_retailprice), 6) + 0.0 AS avg_price
         FROM part
         JOIN (VALUES (CAST(0 AS BIGINT), 900.0, 920.0), (1, 920.0, 940.0),
                      (2, 940.0, 960.0), (3, 960.0, 980.0),
                      (4, 980.0, 1000.0), (5, 900.0, 1000.0)) b(band_id, lo, hi)
           ON p_retailprice BETWEEN lo AND hi
         GROUP BY 1 ORDER BY 1""",
    "embed_neardup" ->
      """WITH u AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT))
           FROM embeddings WHERE vec_id < 50
         ), e AS (SELECT vec_id, embedding::DOUBLE[] v FROM u),
         p AS (
           SELECT a.vec_id i, b.vec_id j,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) cos
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT i, j, round(cos, 6) + 0.0 AS cos FROM p WHERE cos >= 0.99 ORDER BY i, j""",
    "semantic_dedup" ->
      s"""WITH u AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT))
           FROM embeddings WHERE vec_id < 50
         ), e AS (SELECT vec_id, embedding::DOUBLE[] v FROM u),
         ${lloydCentsSql(2)},
         ac AS (
           SELECT e.vec_id, c.cent_id,
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
           FROM e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk FROM ac)
           WHERE rk = 1),
         av AS (SELECT a.vec_id, a.cent_id, e.v
                FROM assigned a JOIN e ON a.vec_id = e.vec_id),
         dropped AS (
           SELECT DISTINCT b.vec_id AS j
           FROM av a JOIN av b
             ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 >= 0.99)
         SELECT cent_id AS cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(d.j) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.j) AS BIGINT) AS n_kept,
           min(CASE WHEN d.j IS NULL THEN assigned.vec_id END) AS min_kept_vec
         FROM assigned LEFT JOIN dropped d ON assigned.vec_id = d.j
         GROUP BY 1 ORDER BY 1""",
    "semantic_dedup_store" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          ${lloydCentsSql(2)},
          sca AS (
            SELECT e.vec_id, e.v, c.cent_id,
              round(list_dot_product(e.v, c.cv) /
                    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
            FROM e CROSS JOIN cents c),
          scs AS (
            SELECT vec_id, v, cent_id FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY ccos DESC, cent_id) rk FROM sca)
            WHERE rk = 1),
          scdrop AS (
            SELECT DISTINCT b.vec_id AS j
            FROM scs a JOIN scs b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                  >= 0.99),
          skept AS (
            SELECT vec_id, v, cent_id FROM scs
            WHERE vec_id NOT IN (SELECT j FROM scdrop)),
          siu AS (
            SELECT vec_id + 10000 AS vec_id,
              list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT)) AS embedding
            FROM embeddings WHERE vec_id < 50
            UNION ALL
            SELECT vec_id + 20000, list_reverse(embedding)
            FROM embeddings WHERE vec_id < 30
            UNION ALL
            SELECT vec_id + 40000,
              list_transform(list_reverse(embedding), x -> CAST(x * 1.01 AS FLOAT))
            FROM embeddings WHERE vec_id < 10
            UNION ALL
            SELECT vec_id + 41000,
              list_transform(list_reverse(embedding), x -> CAST(x * 1.02 AS FLOAT))
            FROM embeddings WHERE vec_id < 10),
          sie AS (SELECT vec_id, embedding::DOUBLE[] v FROM siu),
          sia AS (
            SELECT sie.vec_id, sie.v, c.cent_id,
              round(list_dot_product(sie.v, c.cv) /
                    (sqrt(list_dot_product(sie.v, sie.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
            FROM sie CROSS JOIN cents c),
          sis AS (
            SELECT vec_id, v, cent_id FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY ccos DESC, cent_id) rk FROM sia)
            WHERE rk = 1),
          sivstore AS (
            SELECT DISTINCT i.vec_id
            FROM sis i JOIN skept k ON i.cent_id = k.cent_id
            WHERE list_dot_product(i.v, k.v) /
                  (sqrt(list_dot_product(i.v, i.v)) * sqrt(list_dot_product(k.v, k.v)))
                  >= 0.99),
          siintra AS (
            SELECT DISTINCT b.vec_id
            FROM sis a JOIN sis b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                  >= 0.99)
          SELECT vec_id, cent_id AS cluster_id,
            (vec_id IN (SELECT vec_id FROM sivstore)
             OR vec_id IN (SELECT vec_id FROM siintra)) AS is_dropped
          FROM sis ORDER BY vec_id""",
    "paraphrase_dedup" ->
      s"""WITH base AS (
           SELECT e.vec_id, e.embedding, d.text
           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         shuf AS (
           SELECT vec_id,
             (SELECT string_agg(tok, ' ' ORDER BY md5(tok), tok)
              FROM unnest(string_split(base.text, ' ')) AS t(tok)) AS text
           FROM base WHERE vec_id >= 20 AND vec_id < 40),
         u AS (
           SELECT vec_id, embedding, text FROM base
           UNION ALL
           SELECT vec_id + 10000,
             list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT)), text
           FROM base WHERE vec_id < 20
           UNION ALL
           SELECT b.vec_id + 20000,
             list_transform(b.embedding, x -> CAST(x * 1.01 AS FLOAT)), s.text
           FROM base b JOIN shuf s ON b.vec_id = s.vec_id),
         v AS (SELECT vec_id, embedding::DOUBLE[] vv, md5(text) fp FROM u),
         p AS (
           SELECT a.vec_id i, b.vec_id j,
             list_dot_product(a.vv, b.vv) /
               (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(b.vv, b.vv))) cos,
             a.fp = b.fp AS textual_dup
           FROM v a JOIN v b ON a.vec_id < b.vec_id)
         SELECT i, j, round(cos, 6) + 0.0 AS cos, textual_dup
         FROM p WHERE cos >= 0.99 ORDER BY i, j""",
    "semantic_dedup_twolevel" ->
      s"""WITH u AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT))
           FROM embeddings WHERE vec_id < 50
         ), e AS (SELECT vec_id, embedding::DOUBLE[] v FROM u),
         ${lloydCentsSql(2, 4)},
         ${twoLevelSql(2, 4)},
         tdrop AS (
           SELECT DISTINCT b.vec_id AS j
           FROM tl_assigned a JOIN tl_assigned b
             ON a.leaf_id = b.leaf_id AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 >= 0.99)
         SELECT leaf_id AS cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(d.j) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.j) AS BIGINT) AS n_kept,
           min(CASE WHEN d.j IS NULL THEN tl_assigned.vec_id END) AS min_kept_vec
         FROM tl_assigned LEFT JOIN tdrop d ON tl_assigned.vec_id = d.j
         GROUP BY 1 ORDER BY 1""",
    "media_frames" ->
      """WITH f AS (
           SELECT doc_id, k AS frame_idx,
             substr(text, CAST(floor(k * length(text) / 4) AS INTEGER) + 1, 16) AS frame
           FROM documents, generate_series(0, 3) t(k))
         SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           md5(frame) AS frame_md5,
           CAST(length(frame) AS BIGINT) AS frame_bytes
         FROM f ORDER BY doc_id, frame_idx""",
    "media_resize" ->
      """SELECT doc_id,
           CAST(8 AS INTEGER) AS img_width, CAST(8 AS INTEGER) AS img_height,
           CAST(((doc_id * 37) % 256) * 16 // 256 + 1 AS INTEGER) AS top_bin1,
           CAST(1.0 AS DOUBLE) AS top_mass
         FROM documents ORDER BY doc_id""",
    "media_phash_dedup" ->
      """WITH d AS (SELECT DISTINCT doc_id % 24 AS grp FROM documents),
         b AS (SELECT grp,
                 (SELECT sum(CASE WHEN ((grp+3)*((x+1)+1)*19 + (x+1)*(x+1)*11) % 256
                                     > ((grp+3)*(x+1)*19 + x*x*11) % 256
                                  THEN 1 << x ELSE 0 END)
                  FROM generate_series(0, 7) t(x)) AS rowbyte
               FROM d),
         h AS (SELECT grp, lower(repeat(lpad(to_hex(rowbyte), 2, '0'), 8)) AS dhash FROM b),
         g AS (SELECT h.dhash, documents.doc_id
               FROM documents JOIN h ON documents.doc_id % 24 = h.grp)
         SELECT dhash, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_doc
         FROM g GROUP BY dhash HAVING count(*) > 1 ORDER BY dhash""",
    "media_audio" ->
      """SELECT doc_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 11025 ELSE 22050 END AS INTEGER) AS wav_sample_rate,
           CAST(doc_id % 2 + 1 AS INTEGER) AS wav_channels,
           CAST(16 AS INTEGER) AS wav_bits,
           CAST(octet_length(text::BLOB) * 1000 //
                ((CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 11025 ELSE 22050 END) *
                 (doc_id % 2 + 1) * 2) AS BIGINT) AS wav_duration_ms
         FROM documents ORDER BY doc_id""",
    "media_gif_frames" ->
      """WITH f AS (
           SELECT doc_id, unnest(generate_series(0, 1 + doc_id % 3)) AS frame_idx
           FROM documents)
         SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(6 AS INTEGER) AS frame_width, CAST(4 AS INTEGER) AS frame_height,
           CAST((doc_id * 31 + frame_idx * 53) % 256 AS INTEGER) AS frame_mean_red
         FROM f ORDER BY doc_id, frame_idx""",
    "media_pcm" ->
      """WITH g AS (
           SELECT doc_id, unnest(generate_series(0, 199 + doc_id % 100)) AS i
           FROM documents),
         s AS (
           SELECT doc_id, i,
             CASE WHEN (doc_id*7 + i*13) % 65536 < 32768
                  THEN (doc_id*7 + i*13) % 65536
                  ELSE (doc_id*7 + i*13) % 65536 - 65536 END AS v
           FROM g),
         z AS (
           SELECT doc_id, v,
             CASE WHEN lag(v) OVER w IS NOT NULL
                   AND ((lag(v) OVER w >= 0) != (v >= 0))
                  THEN 1 ELSE 0 END AS zc
           FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i))
         SELECT doc_id,
           CAST(200 + doc_id % 100 AS INTEGER) AS n_samples,
           CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
           CAST(max(abs(v)) AS INTEGER) AS peak,
           CAST(sum(zc) AS BIGINT) AS zero_crossings
         FROM z GROUP BY doc_id ORDER BY doc_id""",
    "media_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
                WHEN doc_id % 3 = 1 THEN 'image/png'
                ELSE 'application/octet-stream' END AS media_mime,
           CAST(octet_length(text::BLOB) +
                CASE WHEN doc_id % 3 = 0 THEN 4
                     WHEN doc_id % 3 = 1 THEN 8 ELSE 0 END AS BIGINT) AS media_bytes,
           md5(text) AS content_md5
         FROM documents ORDER BY doc_id""",
    "passage_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksSql toks FROM documents),
          c AS (
            SELECT doc_id,
                   unnest([array_to_string(toks[i*10+1:i*10+10], ' ')
                           for i in generate_series(0, CAST(floor(len(toks)/10) AS BIGINT) - 1)]) passage
            FROM t WHERE len(toks) >= 10)
          SELECT passage,
            count(DISTINCT doc_id) AS n_docs,
            count(*) AS n_occurrences,
            min(doc_id) AS first_doc
          FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
          ORDER BY passage""",
    "span_rewrite" ->
      s"""WITH $spanRewriteCte
          SELECT doc_id, n_spans, n_dropped, kept_text
          FROM rewritten ORDER BY doc_id""",
    "contamination" ->
      s"""WITH t AS (SELECT doc_id, $toksSql toks FROM documents),
          sh AS (
            SELECT doc_id,
                   unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
                                         for i in generate_series(1, len(toks) - 4)])) s
            FROM t WHERE len(toks) >= 5),
          bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
          tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0)
          SELECT tr.doc_id,
            count(*) AS n_shingles,
            count(b.s) AS n_matched,
            round(count(b.s)::DOUBLE / count(*), 6) + 0.0 AS overlap_frac,
            (count(b.s)::DOUBLE / count(*)) >= 0.1 AS contaminated
          FROM tr LEFT JOIN bench b ON tr.s = b.s
          GROUP BY 1 ORDER BY 1""",
    "ann_cosine_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         b AS (SELECT vec_id, v,
                 ${lshBucketSql("v", 0)} AS bk0,
                 ${lshBucketSql("v", 1)} AS bk1
               FROM e),
         p AS (SELECT v AS pv, bk0 AS pb0, bk1 AS pb1 FROM b WHERE vec_id = 0)
         SELECT b.vec_id,
           round(list_dot_product(b.v, p.pv) /
                 (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) + 0.0 AS cos
         FROM b CROSS JOIN p
         WHERE b.vec_id <> 0
           AND (bit_count(xor(b.bk0, p.pb0)) <= 2 OR bit_count(xor(b.bk1, p.pb1)) <= 2)
         ORDER BY cos DESC, vec_id LIMIT 10""",
    "ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          ${lloydCentsSql(2)},
         ac AS (
           SELECT e.vec_id, e.v, c.cent_id,
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
           FROM e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, v, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk FROM ac)
           WHERE rk = 1),
         plists AS (
           SELECT vec_id AS probe_id, v AS pv, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk
             FROM ac WHERE vec_id < 5)
           WHERE rk <= 4),
         cand AS (
           SELECT p.probe_id, a.vec_id,
             round(list_dot_product(a.v, p.pv) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) cos
           FROM plists p JOIN assigned a ON p.cent_id = a.cent_id
           WHERE a.vec_id <> p.probe_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                            ORDER BY cos DESC, vec_id) rk FROM cand)
         SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 3
         ORDER BY probe_id, rk""",
    "ann_ivf_twolevel" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         ${lloydCentsSql(2, 4)},
         ${twoLevelSql(2, 4)},
         pcell AS (
           SELECT vec_id AS probe_id, v AS pv, cent_id AS cell FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk
             FROM tlc WHERE vec_id < 5)
           WHERE rk <= 2),
         plc AS (
           SELECT p.probe_id, p.pv, l.leaf_id,
             round(list_dot_product(p.pv, l.cv) /
                   (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(l.cv, l.cv))), 6) lcs
           FROM pcell p JOIN lv2 l ON p.cell = l.cell),
         pleaf AS (
           SELECT probe_id, pv, leaf_id FROM (
             SELECT *, row_number() OVER (PARTITION BY probe_id
                                          ORDER BY lcs DESC, leaf_id) rk FROM plc)
           WHERE rk <= 4),
         cand AS (
           SELECT pl.probe_id, a.vec_id,
             round(list_dot_product(a.v, pl.pv) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(pl.pv, pl.pv))), 6) cos
           FROM pleaf pl JOIN tl_assigned a ON pl.leaf_id = a.leaf_id
           WHERE a.vec_id <> pl.probe_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                            ORDER BY cos DESC, vec_id) rk FROM cand)
         SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 3
         ORDER BY probe_id, rk""",
    "ann_eval" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          ${lloydCentsSql(2)},
         ac AS (
           SELECT e.vec_id, e.v, c.cent_id,
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
           FROM e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, v, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk FROM ac)
           WHERE rk = 1),
         plists AS (
           SELECT vec_id AS probe_id, v AS pv, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk
             FROM ac WHERE vec_id < 5)
           WHERE rk <= 4),
         cand AS (
           SELECT p.probe_id, a.vec_id,
             round(list_dot_product(a.v, p.pv) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) cos
           FROM plists p JOIN assigned a ON p.cent_id = a.cent_id
           WHERE a.vec_id <> p.probe_id),
         ivf AS (SELECT probe_id, vec_id, rk AS ark FROM (
                   SELECT *, row_number() OVER (PARTITION BY probe_id
                                                ORDER BY cos DESC, vec_id) rk FROM cand)
                 WHERE rk <= 10),
         p2 AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
         xc AS (SELECT probe_id, e.vec_id,
                  round(list_dot_product(e.v, pv) /
                        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(pv, pv))), 6) cos
                FROM e CROSS JOIN p2 WHERE e.vec_id <> probe_id),
         ex AS (SELECT probe_id, vec_id,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cos DESC, vec_id) erk
                FROM xc),
         j AS (SELECT ex.probe_id, ex.erk, ivf.ark
               FROM ex LEFT JOIN ivf ON ex.probe_id = ivf.probe_id
                                    AND ex.vec_id = ivf.vec_id
               WHERE ex.erk <= 10),
         d AS (SELECT ${NdcgDiscounts.mkString("[", ", ", "]")}::DOUBLE[] AS disc)
         SELECT probe_id,
           CAST(sum(CASE WHEN ark IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           sum(CASE WHEN ark IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 10.0 AS recall_at_10,
           coalesce(max(CASE WHEN erk = 1 THEN 1.0 / ark END), 0.0) AS mrr,
           round(coalesce(sum(disc[ark]), 0.0) / ${Idcg10}, 6) + 0.0 AS ndcg_at_10
         FROM j CROSS JOIN d GROUP BY probe_id ORDER BY probe_id""",
    // Replays the FULL autotune: candidate lists keep their probe-side
    // rank (prk), so "searched at nprobe=p" is just prk <= p; recall
    // is computed at every ladder value, the tuned value is the
    // smallest reaching 0.9 (== the monotone binary search), and the
    // per-probe stats are emitted at that value.
    "ann_eval_tuned" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          ${lloydCentsSql(2)},
         ac AS (
           SELECT e.vec_id, e.v, c.cent_id,
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
           FROM e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, v, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk FROM ac)
           WHERE rk = 1),
         plall AS (
           SELECT vec_id AS probe_id, v AS pv, cent_id, rk AS prk FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk
             FROM ac WHERE vec_id < 5)),
         cand AS (
           SELECT p.probe_id, p.prk, a.vec_id,
             round(list_dot_product(a.v, p.pv) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) cos
           FROM plall p JOIN assigned a ON p.cent_id = a.cent_id
           WHERE a.vec_id <> p.probe_id),
         p2 AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
         xc AS (SELECT probe_id, e.vec_id,
                  round(list_dot_product(e.v, pv) /
                        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(pv, pv))), 6) cos
                FROM e CROSS JOIN p2 WHERE e.vec_id <> probe_id),
         ex10 AS (SELECT probe_id, vec_id FROM (
                    SELECT probe_id, vec_id,
                      row_number() OVER (PARTITION BY probe_id
                                         ORDER BY cos DESC, vec_id) erk
                    FROM xc) WHERE erk <= 10),
         lad AS (SELECT unnest([1, 2, 4, 8, 16]) AS p),
         ivfp AS (SELECT p, probe_id, vec_id FROM (
                    SELECT lad.p, c.probe_id, c.vec_id,
                      row_number() OVER (PARTITION BY lad.p, c.probe_id
                                         ORDER BY c.cos DESC, c.vec_id) rk
                    FROM cand c JOIN lad ON c.prk <= lad.p) WHERE rk <= 10),
         recp AS (SELECT lad.p,
                    (SELECT count(*) FROM ivfp i
                     JOIN ex10 x ON i.probe_id = x.probe_id AND i.vec_id = x.vec_id
                     WHERE i.p = lad.p)::DOUBLE / (10.0 * 5) AS mr
                  FROM lad),
         tuned AS (SELECT coalesce(min(p), 16) AS np FROM recp WHERE mr >= 0.9),
         mrt AS (SELECT recp.p AS np, recp.mr FROM recp JOIN tuned ON recp.p = tuned.np),
         j AS (SELECT x.probe_id,
                 CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
               FROM ex10 x LEFT JOIN
                 (SELECT probe_id, vec_id FROM ivfp JOIN tuned ON ivfp.p = tuned.np) i
                 ON x.probe_id = i.probe_id AND x.vec_id = i.vec_id)
         SELECT j.probe_id,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           sum(hit)::DOUBLE / 10.0 AS recall_at_10,
           CAST(mrt.np AS BIGINT) AS nprobe,
           mrt.mr + 0.0 AS mean_recall,
           mrt.mr >= 0.9 AS target_met
         FROM j CROSS JOIN mrt
         GROUP BY j.probe_id, mrt.np, mrt.mr
         ORDER BY j.probe_id""",
    // Replays the two-level autotune end to end: nested training
    // (lloydCentsSql + twoLevelSql), probe cell ranks, the SAME
    // (cells, leaves) ladder twoLevelLadder generates (spliced as a
    // VALUES table), recall at every step, leftmost step reaching 0.9,
    // per-probe stats at that step.
    "ann_eval_twolevel" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         ${lloydCentsSql(2, 4)},
         ${twoLevelSql(2, 4)},
         pall AS (
           SELECT vec_id AS probe_id, v AS pv, cent_id AS cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY ccos DESC, cent_id) crk
           FROM tlc WHERE vec_id < 5),
         lad AS (SELECT * FROM (VALUES ${
        graft.operators.SimilaritySearch.twoLevelLadder(4, 4).zipWithIndex
          .map { case ((c, l), t) => s"($t, $c, $l)" }.mkString(", ")
      }) t(t, cells, leaves)),
         plx AS (
           SELECT lad.t, lad.leaves, p.probe_id, p.pv, l.leaf_id,
             round(list_dot_product(p.pv, l.cv) /
                   (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(l.cv, l.cv))), 6) lcs
           FROM lad JOIN pall p ON p.crk <= lad.cells
           JOIN lv2 l ON p.cell = l.cell),
         pleaf AS (SELECT t, probe_id, pv, leaf_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY t, probe_id
                                                  ORDER BY lcs DESC, leaf_id) lrk
                     FROM plx) WHERE lrk <= leaves),
         cand AS (
           SELECT pl.t, pl.probe_id, a.vec_id,
             round(list_dot_product(a.v, pl.pv) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(pl.pv, pl.pv))), 6) cos
           FROM pleaf pl JOIN tl_assigned a ON pl.leaf_id = a.leaf_id
           WHERE a.vec_id <> pl.probe_id),
         ivfp AS (SELECT t, probe_id, vec_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY t, probe_id
                                                 ORDER BY cos DESC, vec_id) rk
                    FROM cand) WHERE rk <= 10),
         p2 AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
         xc AS (SELECT probe_id, e.vec_id,
                  round(list_dot_product(e.v, pv) /
                        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(pv, pv))), 6) cos
                FROM e CROSS JOIN p2 WHERE e.vec_id <> probe_id),
         ex10 AS (SELECT probe_id, vec_id FROM (
                    SELECT probe_id, vec_id,
                      row_number() OVER (PARTITION BY probe_id
                                         ORDER BY cos DESC, vec_id) erk
                    FROM xc) WHERE erk <= 10),
         recp AS (SELECT lad.t, lad.cells, lad.leaves,
                    (SELECT count(*) FROM ivfp i
                     JOIN ex10 x ON i.probe_id = x.probe_id AND i.vec_id = x.vec_id
                     WHERE i.t = lad.t)::DOUBLE / (10.0 * 5) AS mr
                  FROM lad),
         tuned AS (SELECT coalesce(min(t), ${
        graft.operators.SimilaritySearch.twoLevelLadder(4, 4).size - 1
      }) AS tt FROM recp WHERE mr >= 0.9),
         mrt AS (SELECT recp.cells, recp.leaves, recp.mr
                 FROM recp JOIN tuned ON recp.t = tuned.tt),
         j AS (SELECT x.probe_id,
                 CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
               FROM ex10 x LEFT JOIN
                 (SELECT probe_id, vec_id FROM ivfp JOIN tuned ON ivfp.t = tuned.tt) i
                 ON x.probe_id = i.probe_id AND x.vec_id = i.vec_id)
         SELECT j.probe_id,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           sum(hit)::DOUBLE / 10.0 AS recall_at_10,
           CAST(mrt.cells AS BIGINT) AS nprobe_cells,
           CAST(mrt.leaves AS BIGINT) AS nprobe_leaves,
           mrt.mr + 0.0 AS mean_recall,
           mrt.mr >= 0.9 AS target_met
         FROM j CROSS JOIN mrt
         GROUP BY j.probe_id, mrt.cells, mrt.leaves, mrt.mr
         ORDER BY j.probe_id""",
    "ann_ivf_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          ${lloydCentsSql(2)},
         ac AS (
           SELECT e.vec_id, e.v, c.cent_id,
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
           FROM e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, v, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk FROM ac)
           WHERE rk = 1),
         plists AS (
           SELECT vec_id AS probe_id, v AS pv, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk
             FROM ac WHERE vec_id < 5)
           WHERE rk <= 4),
         cand AS (
           SELECT p.probe_id, a.vec_id
           FROM plists p JOIN assigned a ON p.cent_id = a.cent_id
           WHERE a.vec_id <> p.probe_id),
         en AS (SELECT vec_id,
                  list_transform(v, x -> round(x / sqrt(list_dot_product(v, v)), 6)) nv
                FROM e),
          ${pqSubSql(0, 1, 8, 16)},
          ${pqSubSql(1, 1, 8, 16)},
          ${pqSubSql(2, 1, 8, 16)},
          ${pqSubSql(3, 1, 8, 16)},
         pqadc AS (
           SELECT c.probe_id, c.vec_id,
             round(round(list_dot_product(q0.qs, b0.cv), 6) + round(list_dot_product(q1.qs, b1.cv), 6) + round(list_dot_product(q2.qs, b2.cv), 6) + round(list_dot_product(q3.qs, b3.cv), 6), 6) adc
           FROM cand c
           JOIN pq0_code k0 ON k0.vec_id = c.vec_id JOIN pq0_cb b0 ON b0.cent_id = k0.cent_id
           JOIN pq1_code k1 ON k1.vec_id = c.vec_id JOIN pq1_cb b1 ON b1.cent_id = k1.cent_id
           JOIN pq2_code k2 ON k2.vec_id = c.vec_id JOIN pq2_cb b2 ON b2.cent_id = k2.cent_id
           JOIN pq3_code k3 ON k3.vec_id = c.vec_id JOIN pq3_cb b3 ON b3.cent_id = k3.cent_id
           JOIN pqq0 q0 ON q0.probe_id = c.probe_id
           JOIN pqq1 q1 ON q1.probe_id = c.probe_id
           JOIN pqq2 q2 ON q2.probe_id = c.probe_id
           JOIN pqq3 q3 ON q3.probe_id = c.probe_id),
         ck AS (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY probe_id
                                               ORDER BY adc DESC, vec_id) crk
                  FROM pqadc) WHERE crk <= 12),
         rr AS (
           SELECT ck.probe_id, ck.vec_id,
             round(list_dot_product(e.v, p.pv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) + 0.0 AS cos
           FROM ck JOIN e ON e.vec_id = ck.vec_id
                   JOIN (SELECT vec_id AS probe_id, v AS pv FROM e
                         WHERE vec_id < 5) p ON p.probe_id = ck.probe_id),
         fr AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                             ORDER BY cos DESC, vec_id) rk FROM rr)
         SELECT probe_id, vec_id, cos, rk FROM fr WHERE rk <= 3
         ORDER BY probe_id, rk""",
    "ann_ivf_rerank" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          ${lloydCentsSql(2)},
         q AS (SELECT vec_id, v,
                 CASE WHEN round(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) = 0
                      THEN 1.0
                      ELSE round(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) END AS qscale
               FROM e),
         rec AS (SELECT vec_id, list_transform(v, x -> round(x / qscale, 0) * qscale) AS rv
                 FROM q),
         acq AS (
           SELECT r.vec_id, r.rv, c.cent_id,
             round(list_dot_product(r.rv, c.cv) /
                   (sqrt(list_dot_product(r.rv, r.rv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
           FROM rec r CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, rv, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk FROM acq)
           WHERE rk = 1),
         acp AS (
           SELECT e.vec_id, e.v, c.cent_id,
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
           FROM e CROSS JOIN cents c WHERE e.vec_id < 5),
         plists AS (
           SELECT vec_id AS probe_id, v AS pv, cent_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk FROM acp)
           WHERE rk <= 4),
         coarse AS (
           SELECT p.probe_id, a.vec_id, p.pv,
             round(list_dot_product(a.rv, p.pv) /
                   (sqrt(list_dot_product(a.rv, a.rv)) * sqrt(list_dot_product(p.pv, p.pv))), 6) ccos
           FROM plists p JOIN assigned a ON p.cent_id = a.cent_id
           WHERE a.vec_id <> p.probe_id),
         ck AS (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY probe_id
                                               ORDER BY ccos DESC, vec_id) crk FROM coarse)
                WHERE crk <= 12),
         rr AS (
           SELECT ck.probe_id, ck.vec_id,
             round(list_dot_product(e.v, ck.pv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(ck.pv, ck.pv))), 6) cos
           FROM ck JOIN e ON ck.vec_id = e.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                            ORDER BY cos DESC, vec_id) rk FROM rr)
         SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 3
         ORDER BY probe_id, rk""",
    "knn_cosine" ->
      """WITH p AS (SELECT embedding::DOUBLE[] pe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           round(list_dot_product(e, pe) /
                 (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(pe, pe))), 6) + 0.0 AS cos
         FROM (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings WHERE vec_id <> 0), p
         ORDER BY cos DESC, vec_id LIMIT 10""",
    "json_props" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_schema
         FROM events ORDER BY event_id""",
    "events_window" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)),
                 '%Y-%m-%d %H:%M:%S') AS w_start,
           event_type, count(*) AS n, round(sum(value), 2) + 0.0 AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "mix_sources" ->
      s"""WITH cells AS (
            SELECT source, lang, count(*) n_docs,
              CAST(sum(len($toksSql)) AS BIGINT) n_tokens,
              CAST(sum(n_chars) AS BIGINT) n_chars
            FROM documents GROUP BY 1, 2),
          tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) td,
                         CAST(sum(n_tokens) AS DOUBLE) tt FROM cells)
          SELECT source, lang, n_docs, n_tokens, n_chars,
            round(n_docs / td, 6) + 0.0 AS doc_share,
            round(n_tokens / tt, 6) + 0.0 AS token_share
          FROM cells CROSS JOIN tot
          ORDER BY source, lang""",
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         s AS (SELECT vec_id, v,
                 CASE WHEN round(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) = 0
                      THEN 1.0
                      ELSE round(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) END AS qscale
               FROM e),
         q AS (SELECT vec_id, qscale, v,
                 [CAST(round(v[i] / qscale, 0) AS INTEGER) for i in generate_series(1, len(v))] AS qv
               FROM s)
         SELECT vec_id, qscale,
           md5(array_to_string(qv, ',')) AS q_md5,
           round(sqrt(list_sum([pow(v[i] - qv[i] * qscale, 2)
                                for i in generate_series(1, len(v))]) / len(v)), 6) + 0.0 AS recon_rmse
         FROM q ORDER BY vec_id""",
    "embed_clusters" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          ${lloydCentsSql(2)},
         ac AS (
           SELECT e.vec_id, c.cent_id,
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) ccos
           FROM e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, cent_id, ccos FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rk FROM ac)
           WHERE rk = 1)
         SELECT cent_id AS cluster_id, count(*) AS n_vecs,
           round(avg(ccos), 6) + 0.0 AS avg_cos, min(vec_id) AS min_vec
         FROM assigned GROUP BY 1 ORDER BY 1""",
    // Exact covariance payload recomputed with covar_pop; the
    // eigensolve's residual/orthonormality/trace checks are computed
    // for real Spark-side and stated closed-form here.
    "embed_pca" ->
      """WITH idx AS (SELECT CAST(i AS INT) i FROM generate_series(1, 64) g(i)),
          p AS (SELECT a.i i, b.i j FROM idx a JOIN idx b ON a.i <= b.i)
          SELECT p.i AS i, p.j AS j,
            round(covar_pop(embedding[p.i], embedding[p.j]), 6) + 0.0 AS cov,
            TRUE AS eig_ok
          FROM embeddings CROSS JOIN p
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "bigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, $toksSql toks FROM documents),
          bg AS (SELECT doc_id,
                   unnest([array_to_string(toks[i:i+1], ' ')
                           for i in generate_series(1, len(toks) - 1)]) bg
                 FROM t WHERE len(toks) >= 2),
          cnt AS (SELECT bg, count(*) c FROM bg GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS DOUBLE) t FROM cnt)
          SELECT doc_id, count(*) AS n_bigrams,
            round(avg(ln(c / t)), 6) + 0.0 AS avg_logp
          FROM bg JOIN cnt USING (bg) CROSS JOIN tot
          GROUP BY 1 ORDER BY 1""",
    "kneser_ney" ->
      s"""WITH t AS (SELECT doc_id, $toksSql toks FROM documents),
          bg AS (SELECT unnest([array_to_string(toks[i:i+1], ' ')
                                for i in generate_series(1, len(toks) - 1)]) bg
                 FROM t WHERE len(toks) >= 2),
          cnt AS (SELECT bg, count(*) c,
                    split_part(bg, ' ', 1) w1, split_part(bg, ' ', -1) w2
                  FROM bg GROUP BY 1),
          pre AS (SELECT w1, sum(c) c1, count(*) nfwd FROM cnt GROUP BY 1),
          suf AS (SELECT w2, count(*) nrev FROM cnt GROUP BY 1),
          tt AS (SELECT CAST(count(*) AS DOUBLE) tt FROM cnt)
          SELECT bg, CAST(c AS BIGINT) AS c,
            round(greatest(c - 0.75, 0) / c1 +
                  (0.75 * nfwd / c1) * (nrev / tt), 6) + 0.0 AS p_kn
          FROM cnt JOIN pre USING (w1) JOIN suf USING (w2) CROSS JOIN tt
          ORDER BY c DESC, bg LIMIT 30""",
    "events_hopping" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
                   - CAST(k AS INTEGER) * INTERVAL '10 minutes',
                 '%Y-%m-%d %H:%M:%S') AS w_start,
           count(*) AS n, round(sum(value), 2) + 0.0 AS sum_value
         FROM events, generate_series(0, 2) g(k)
         GROUP BY 1 ORDER BY 1""")
}
