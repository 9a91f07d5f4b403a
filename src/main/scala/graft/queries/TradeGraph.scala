package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bounded, Staged, Tables}

/** The nation trade graph's fact collapse, staged ONCE per fixture dir
  * and process — the cross-query sharing layer for the eight graph
  * queries (HITS, PageRank, triangles, modularity, label propagation,
  * clustering coefficient, hop distances, shortest path) that all
  * start from the same 4-way star join.
  *
  * Each of those queries needs the corpus collapsed to the directed
  * (customer-nation → supplier-nation, lineitem-count) edge list — a
  * relation bounded by |nations|² (≤625 rows) at ANY corpus size, i.e.
  * bounded metadata by construction. Before this memo every query
  * re-ran the corpus star join; a 372-query sweep paid it eight times.
  * Now the FIRST graph query in a process runs the one distributed
  * collapse and the rest reuse the collected rows as local relations
  * (memoized per dir through [[graft.Staged]]).
  *
  * 100 TB posture: the memo holds ≤625 (int,int,long) tuples per dir,
  * and [[graft.Bounded]] fails the build past that bound — driver memory
  * is never a function of corpus size. The star join itself stays
  * fully distributed (dimension sides broadcast) and runs exactly once
  * per process instead of once per query.
  */
object TradeGraph {

  /** The 25 TPC-H nations. */
  val maxNations = 25

  /** Directed collapse (src = c_nationkey, dst = s_nationkey,
    * w = lineitem count), self-loops kept — the superset every
    * consumer derives from. Memoized per dir. */
  def directed(s: SparkSession, dir: String): Array[(Int, Int, Long)] =
    Staged.once("trade_graph", dir) {
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))
      val edges = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      Bounded.collect(edges, maxNations * maxNations,
          "edges (|nations|²) in the trade graph stage")
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    }

  /** [[directed]] as a local relation (src int, dst int, w long) —
    * plan-compatible drop-in for the per-query star joins. */
  def directedDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    directed(s, dir).toSeq.toDF("src", "dst", "w")
  }

  /** Undirected collapse: self-loops dropped, endpoints ordered,
    * weight summed across both directions — equals the historical
    * `filter(c≠s).groupBy(least,greatest).count` collapse exactly
    * (the per-(src,dst) counts partition the unordered pair's rows). */
  def undirected(s: SparkSession, dir: String): Array[(Int, Int, Long)] =
    directed(s, dir).toSeq
      .collect { case (u, v, w) if u != v => ((math.min(u, v), math.max(u, v)), w) }
      .groupMapReduce(_._1)(_._2)(_ + _)
      .toArray.map { case ((u, v), w) => (u, v, w) }

  /** [[undirected]] as a local relation (u int, v int, w long). */
  def undirectedDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    undirected(s, dir).toSeq.toDF("u", "v", "w")
  }

  /** Above-mean-weight backbone of [[undirected]] — the sparsification
    * the coefficient and distance queries share (the full nation graph
    * is near-complete at any SF, so unthresholded structure measures
    * saturate; the mean-weight cut keeps only the strong trade lanes).
    * Same arithmetic as the historical in-plan cut: exact long sum,
    * one double division, w ≥ cut compared in double. */
  def backboneEdges(s: SparkSession, dir: String): Array[(Int, Int)] = {
    val und = undirected(s, dir)
    if (und.isEmpty) Array.empty
    else {
      val cut = und.map(_._3).sum.toDouble / und.length
      und.collect { case (u, v, w) if w.toDouble >= cut => (u, v) }
    }
  }

  /** [[backboneEdges]] as a local relation (u int, v int). */
  def backboneDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    backboneEdges(s, dir).toSeq.toDF("u", "v")
  }
}
