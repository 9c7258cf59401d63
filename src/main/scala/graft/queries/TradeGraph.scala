package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The supplier↔customer trade graph the graph family (degrees,
  * PageRank, k-core — and any future centrality) runs over: distinct
  * (supplier, customer) pairs from lineitem⋈orders.
  *
  * The pair EXTRACTION (a fact-fact join plus a distinct over the
  * result) costs more than most of the algorithms that consume it —
  * the round-11 30× sweep attributed the bulk of graph_kcore's 12×
  * ratio to exactly this stage. Each graph query still pays for its
  * own extraction: a lineage persist shared across the family would
  * stay registered in the session, so every later graph query, and
  * every repeat, would plan over a frame another run built (the
  * cross-run caching GraftSession's lifetime rule forbids). The
  * iterative consumers materialize their own copy per call (k-core
  * checkpoints its input; PageRank persists and releases it). At
  * 100 TB the sharing belongs in storage: materialize the edge list to
  * parquet once per corpus snapshot.
  *
  * Node ids are LONG-ENCODED in the pair list (even = 2·suppkey for
  * suppliers, odd = 2·custkey+1 for customers) and decoded to the
  * display strings ("s123"/"c456") only at query OUTPUT: iterative
  * algorithms shuffle and checkpoint the node key every round, and an
  * 8-byte long against a formatted string is the difference between a
  * peel that spills and one that doesn't (measured at the 30×
  * fixture: the string-keyed k-core peel spilled 17 GB of execution
  * memory; long keys cut the round payload to a fraction). The same
  * rule a 100 TB graph pipeline applies at ingest: dictionary-encode
  * once, compute on integers, format never.
  *
  * Oracles are untouched: key encoding changes what shuffles, never
  * what the queries produce. */
object TradeGraph {
  /** Distinct trade pairs, LONG-encoded: `a` = 2·suppkey (supplier,
    * even), `b` = 2·custkey+1 (customer, odd) — one row per undirected
    * pair. A plain frame: each call extracts anew. */
  def pairsKeyed(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey").cast("long") * 2).as("a"),
        (col("o_custkey").cast("long") * 2 + 1).as("b"))
      .distinct()

  /** Decode a long node key back to the display id ("s"+suppkey /
    * "c"+custkey) — applied once, at query output. */
  def decode(node: Column): Column =
    concat(when(node % 2 === 0, lit("s")).otherwise(lit("c")),
      shiftright(node, 1).cast("string"))

  /** Both directions as long-keyed (src, dst) — the edge convention
    * the iterative operators consume. Duplicate-free by construction:
    * the two directions are disjoint (even→odd vs odd→even), so
    * consumers may skip their own dedup shuffle (PageRank's
    * assumeDistinct). */
  def edgesKeyed(s: SparkSession, dir: String): DataFrame = {
    val p = pairsKeyed(s, dir)
    p.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p.select(col("b").as("src"), col("a").as("dst")))
  }

  /** The string-keyed edge view (both directions), for consumers that
    * want display ids end to end — plan guards, ad-hoc exploration.
    * Same extraction; decode is a projection. */
  def edges(s: SparkSession, dir: String): DataFrame =
    edgesKeyed(s, dir)
      .select(decode(col("src")).as("src"), decode(col("dst")).as("dst"))
}
