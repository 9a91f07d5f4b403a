package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Round-10 network-analytics pack: the graph-structure measures next
  * to PageRank/triangles/k-core (W9/W13/W45) — degree assortativity
  * (do high-degree parts attach to high-degree suppliers?), HITS
  * hubs/authorities (the asymmetric companion to PageRank on the
  * directed trade graph), and partition modularity (the QA score for
  * any community assignment, here the region partition of nations).
  * All three collapse facts to bounded relations first and run the
  * graph arithmetic in exact integers (fixed-point iterations follow
  * the W9 PageRank integer-DIV pattern).
  */
object Network {

  /** Undirected weighted nation graph: self-loops dropped, endpoints
    * ordered, weight = lineitem count — served from the process-wide
    * [[TradeGraph]] stage (ONE corpus star join per sweep, shared with
    * PageRank/triangles/shortest-path; bounded ≤ |nations|² rows). */
  private def undirectedTradeGraph(s: SparkSession, dir: String): DataFrame =
    TradeGraph.undirectedDf(s, dir)

  /** DuckDB twin of [[undirectedTradeGraph]] (CTE body, no WITH). */
  private val undirectedTradeCte: String =
    """SELECT least(c_nationkey, s_nationkey) AS u,
      |    greatest(c_nationkey, s_nationkey) AS v, count(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE c_nationkey <> s_nationkey
      |  GROUP BY 1, 2""".stripMargin

  /** W56 — bipartite degree assortativity: the Pearson correlation
    * between part-degree and supplier-degree across the distinct
    * (part, supplier) supply edges — positive means busy suppliers
    * carry popular parts (hub-hub attachment), negative means a
    * hub-and-spoke layout. All five moment sums are exact integer/
    * decimal(38,0) accumulations over the edge relation; the
    * correlation is the one rounded double at the end. Scale shape:
    * one distinct on the projected fact, two degree aggregates joined
    * back by key, one moment aggregate — no pair stream, no window. */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sg"))
      .distinct()
      .persistScoped() // supplier census + the part-moment pass
    val ds = e.groupBy(col("sg")).agg(count(lit(1)).as("ds"))
      .persistScoped() // edge join + the supplier-moment pass
    // Moment regrouping (exact integer sums, guide §2.3): every
    // edge-level moment collapses to a per-part or per-supplier
    // census — Σ_e dp = Σ_p dp², Σ_e dp² = Σ_p dp³, Σ_e ds = Σ_s ds²,
    // Σ_e ds² = Σ_s ds³, and Σ_e dp·ds = Σ_p dp·(Σ_{s∈N(p)} ds) — so
    // the edge relation is joined ONCE (with the smaller supplier
    // census) and never exchanged against the part census; dp and
    // t = Σ ds come out of the SAME part-keyed aggregate, which
    // partial-aggregates map-side into ≤|parts| rows.
    val perPart = e.join(ds, Seq("sg"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("dp"), sum(col("ds")).as("t"))
    val suppMoments = ds.agg(
      sum((col("ds").cast("decimal(38,0)") * col("ds"))
        .cast("decimal(38,0)")).as("sy38"),
      sum((col("ds").cast("decimal(38,0)") * col("ds") * col("ds"))
        .cast("decimal(38,0)")).as("syy"))
    perPart
      .agg(sum(col("dp")).as("n"), sum(col("dp") * col("dp")).as("sx"),
        sum((col("dp").cast("decimal(38,0)") * col("t"))
          .cast("decimal(38,0)")).as("sxy"),
        sum((col("dp").cast("decimal(38,0)") * col("dp") * col("dp"))
          .cast("decimal(38,0)")).as("sxx"))
      .crossJoin(broadcast(suppMoments))
      .select(col("n"), col("sx"), col("sy38").cast("bigint").as("sy"),
        col("sxy"), col("sxx"), col("syy"))
      .select(col("n").as("n_edges"),
        round(col("sx").cast("double") / col("n").cast("double"), 6)
          .as("mean_part_degree"),
        round(col("sy").cast("double") / col("n").cast("double"), 6)
          .as("mean_supp_degree"),
        (col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).as("num"),
        (col("n").cast("decimal(38,0)") * col("sxx") -
          col("sx").cast("decimal(38,0)") * col("sx")).as("dx"),
        (col("n").cast("decimal(38,0)") * col("syy") -
          col("sy").cast("decimal(38,0)") * col("sy")).as("dy"))
      .select(col("n_edges"), col("mean_part_degree"),
        col("mean_supp_degree"),
        when(col("dx") <= 0 || col("dy") <= 0, lit(0.0))
          .otherwise(round(col("num").cast("double") /
            sqrt(col("dx").cast("double") * col("dy").cast("double")), 6))
          .as("assortativity"))
  }

  // MATERIALIZED pins each multiply-referenced CTE to one evaluation —
  // DuckDB inlines CTEs by default, so the edge relation would
  // otherwise recompute once per reference (the kcore-oracle lesson)
  val assortativitySql: String =
    """WITH e AS MATERIALIZED (SELECT DISTINCT l_partkey AS p,
      |             l_suppkey AS sg
      |           FROM lineitem),
      |dp AS MATERIALIZED (SELECT p, count(*) AS dp FROM e GROUP BY p),
      |ds AS MATERIALIZED (SELECT sg, count(*) AS ds FROM e GROUP BY sg),
      |mo AS (SELECT count(*) AS n, CAST(sum(dp.dp) AS BIGINT) AS sx,
      |         CAST(sum(ds.ds) AS BIGINT) AS sy,
      |         sum(CAST(dp.dp AS HUGEINT) * ds.ds) AS sxy,
      |         sum(CAST(dp.dp AS HUGEINT) * dp.dp) AS sxx,
      |         sum(CAST(ds.ds AS HUGEINT) * ds.ds) AS syy
      |       FROM e JOIN dp USING (p) JOIN ds USING (sg)),
      |d AS (SELECT n, sx, sy,
      |        CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |        CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
      |        CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
      |      FROM mo)
      |SELECT n AS n_edges,
      |  round(CAST(sx AS DOUBLE) / n, 6) AS mean_part_degree,
      |  round(CAST(sy AS DOUBLE) / n, 6) AS mean_supp_degree,
      |  CASE WHEN dx <= 0 OR dy <= 0 THEN 0.0
      |       ELSE round(CAST(num AS DOUBLE) /
      |         sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6)
      |  END AS assortativity
      |FROM d""".stripMargin

  /** W57 — HITS hubs & authorities: the asymmetric centrality pair on
    * the DIRECTED nation trade graph (customer-nation → supplier-
    * nation, weight = lineitem count) — a good HUB buys from the
    * nations everyone supplies through; a good AUTHORITY supplies the
    * nations everyone buys from. PageRank (W9) cannot separate the two
    * roles. Arithmetic follows W9's integer fixed-point pattern:
    * weights quantize once to ppm shares of the global total, each
    * half-iteration is Σ(share·score) DIV 10⁶ followed by a max-
    * normalization to 10¹² units via exact decimal/HUGEINT division —
    * every round is pure integer algebra, so `iters` rounds are
    * bit-identical to the oracle's unrolled CTEs. */
  def hits(s: SparkSession, dir: String, iters: Int = 4): DataFrame = {
    // The ONE distributed pass: collapse the fact table to the
    // directed nation graph. The contracted relation is ≤ |nations|²
    // rows — METADATA by construction (bounded by the nation dimension
    // at any corpus size) — so the integer fixed point runs on the
    // driver, exactly like the PCA eigen-solve and the PQ codebook
    // training: 8 half-iterations over ≤625 literal edges cost zero
    // jobs, where the previous in-plan loop paid a localCheckpoint +
    // aggregate per half-round (16 jobs to move 25 rows). Every
    // arithmetic step below mirrors the oracle's unrolled CTEs
    // bit-for-bit: share = (w·10⁶) div Σw, half-round contribution
    // (share·v) div 10⁶ summed per node, max-normalize
    // (v·10¹²) div mx in BigInt (HUGEINT), all operands non-negative
    // so trunc-div ≡ the oracle's floor-div.
    val edgeRows = TradeGraph.directed(s, dir) // ≤ |nations|² — bounded
      .map { case (src, dst, w) => (src.toLong, dst.toLong, w) }
    val wtot = edgeRows.map(_._3).sum
    val shares = edgeRows.map { case (src, dst, w) =>
      (src, dst, if (wtot == 0) 0L else w * 1000000L / wtot)
    }
    val nations = Tables.nation(s, dir).select(col("n_nationkey").as("node"))
    val nodeKeys = graft.Bounded.collect(nations, TradeGraph.maxNations, "nations in the HITS nodes")
      .map(_.getAs[Number]("node").longValue).toSeq
    val unit = 1000000000000L
    def normalize(raw: Map[Long, Long]): Map[Long, Long] = {
      val mx = if (raw.isEmpty) 0L else raw.values.max
      nodeKeys.map(n => n -> (if (mx <= 0) 0L
        else (BigInt(raw.getOrElse(n, 0L)) * unit / mx).toLong)).toMap
    }
    // score.get mirrors the oracle's INNER join of sh against the
    // previous score relation: an edge endpoint outside the nation
    // dimension contributes nothing
    def halfRound(score: Map[Long, Long], in: ((Long, Long, Long)) => Long,
                  out: ((Long, Long, Long)) => Long): Map[Long, Long] =
      normalize(shares.groupBy(out).map { case (node, es) =>
        node -> es.flatMap(e => score.get(in(e))
          .map(v => e._3 * v / 1000000L)).sum
      })
    var h = nodeKeys.map(_ -> unit).toMap
    var a = h
    for (_ <- 1 to iters) {
      a = halfRound(h, _._1, _._2) // auth(dst) ← Σ share·hub(src)
      h = halfRound(a, _._2, _._1) // hub(src) ← Σ share·auth(dst)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node_l",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("hub_units",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("auth_units",
        org.apache.spark.sql.types.LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    val res = s.createDataFrame(new java.util.ArrayList(nodeKeys.map(n =>
      org.apache.spark.sql.Row(n, h(n), a(n))).asJava), schema)
    // join back through the nation dimension so `node` keeps its
    // source type (the literal result is keyed by long)
    nations.join(broadcast(res), col("node").cast("long") === col("node_l"))
      .select(col("node"), col("hub_units"), col("auth_units"),
        (col("hub_units").cast("double") / 1e12).as("hub"),
        (col("auth_units").cast("double") / 1e12).as("authority"))
      .orderBy(col("node"))
  }

  /** Oracle: the same `iters` rounds unrolled as CTE pairs — each
    * half-iteration is one aggregate + one max-normalization, exactly
    * the engine's integer operations. */
  def hitsSql(iters: Int = 4): String = {
    // every per-round CTE is MATERIALIZED: the rounds chain 2-3
    // references deep, and DuckDB's default inlining would expand the
    // unrolled recursion multiplicatively (3^iters plan copies)
    def half(iter: Int, out: String, in: String, joinKey: String,
             emitKey: String): String =
      s"""${out}r$iter AS MATERIALIZED (SELECT sh.$emitKey AS node,
         |    CAST(sum((sh.share * x.v) // 1000000) AS BIGINT) AS v
         |  FROM sh JOIN ${in} x ON sh.$joinKey = x.node GROUP BY 1),
         |$out$iter AS MATERIALIZED (SELECT n.node,
         |    CASE WHEN mx.mx IS NULL OR mx.mx <= 0 THEN 0
         |         ELSE CAST(CAST(coalesce(r.v, 0) AS HUGEINT)
         |           * 1000000000000 // mx.mx AS BIGINT) END AS v
         |  FROM nodes n
         |  LEFT JOIN ${out}r$iter r ON n.node = r.node
         |  CROSS JOIN (SELECT max(v) AS mx FROM ${out}r$iter) mx)""".stripMargin
    val rounds = (1 to iters).map { i =>
      half(i, "a", if (i == 1) "h0" else s"h${i - 1}", "src", "dst") + ",\n" +
        half(i, "h", s"a$i", "dst", "src")
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT c_nationkey AS src,
      |    s_nationkey AS dst, count(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |sh AS MATERIALIZED (SELECT src, dst,
      |         (w * 1000000) // (SELECT sum(w) FROM e) AS share FROM e),
      |nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
      |h0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS v FROM nodes),
      |$rounds
      |SELECT n.node, h$iters.v AS hub_units, a$iters.v AS auth_units,
      |  CAST(h$iters.v AS DOUBLE) / 1e12 AS hub,
      |  CAST(a$iters.v AS DOUBLE) / 1e12 AS authority
      |FROM nodes n
      |JOIN h$iters ON n.node = h$iters.node
      |JOIN a$iters ON n.node = a$iters.node
      |ORDER BY n.node""".stripMargin
  }

  /** W58 — partition modularity: the quality score of a community
    * assignment — here, does the REGION partition of nations explain
    * the trade graph's weight structure? Q = Σ_c (e_c·m₂ − d_c²)/m₂²
    * over the undirected weighted nation graph (e_c = both-direction
    * intra-region weight, d_c = total degree of region members,
    * m₂ = total degree) — exact integer/decimal algebra with ONE
    * rounded division per row. Emits each region's contribution plus
    * the ALL summary row (the modularity itself, region_key = −1).
    * Near 0 = regions don't structure trade; the SAME query run on a
    * detected community assignment is the standard acceptance gate. */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    val pairs = undirectedTradeGraph(s, dir) // local relation (TradeGraph)
    val nreg = Tables.nation(s, dir)
      .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))
    val withReg = pairs
      .join(broadcast(nreg.withColumnRenamed("nk", "u")
        .withColumnRenamed("rk", "ru")), Seq("u"))
      .join(broadcast(nreg.withColumnRenamed("nk", "v")
        .withColumnRenamed("rk", "rv")), Seq("v"))
      // tiny local-relation derivation — recompute beats caching
    // per-region total degree: each undirected edge contributes w to
    // BOTH endpoints' regions (2w when both ends share the region)
    val deg = withReg.select(col("ru").as("rk"), col("w"))
      .unionAll(withReg.select(col("rv").as("rk"), col("w")))
      .groupBy(col("rk")).agg(sum(col("w")).as("d_c"))
    val intra = withReg.filter(col("ru") === col("rv"))
      .groupBy(col("ru").as("rk"))
      .agg((sum(col("w")) * 2).as("e_c"))
    val m2 = deg.agg(sum(col("d_c")).as("m2"))
    val regions = Tables.region(s, dir)
      .select(col("r_regionkey").as("rk"), col("r_name"))
    // carry the EXACT integer numerator (e_c*m2 - d_c^2) per region:
    // the ALL row sums these decimals (order-free) and performs ONE
    // rounded division, instead of float-adding per-region doubles
    // pre-rounded to 9 decimals (a half-ULP boundary there could flip
    // the 9th digit across engines or shuffle widths)
    val perRaw = regions
      .join(deg, Seq("rk"), "left").join(intra, Seq("rk"), "left")
      .crossJoin(broadcast(m2))
      .select(col("rk").cast("int").as("region_key"), col("r_name"),
        coalesce(col("e_c"), lit(0L)).as("intra2"),
        coalesce(col("d_c"), lit(0L)).as("degree"),
        (coalesce(col("e_c"), lit(0L)).cast("decimal(38,0)") * col("m2") -
          coalesce(col("d_c"), lit(0L)).cast("decimal(38,0)") *
            coalesce(col("d_c"), lit(0L))).cast("decimal(38,0)").as("num"),
        col("m2"))
    val per = perRaw
      .select(col("region_key"), col("r_name"), col("intra2"), col("degree"),
        when(col("m2") <= 0, lit(0.0))
          .otherwise(round(col("num").cast("double") /
            (col("m2").cast("double") * col("m2").cast("double")), 9))
          .as("contribution"))
    val total = perRaw.agg(sum(col("intra2")).as("intra2"),
        sum(col("degree")).as("degree"),
        sum(col("num")).as("num"), max(col("m2")).as("m2"))
      .select(lit(-1).as("region_key"), lit("ALL").as("r_name"),
        col("intra2"), col("degree"),
        when(coalesce(col("m2"), lit(0L)) <= 0, lit(0.0))
          .otherwise(round(col("num").cast("double") /
            (col("m2").cast("double") * col("m2").cast("double")), 9))
          .as("contribution"))
    per.unionAll(total).orderBy(col("region_key"))
  }

  val modularitySql: String =
    s"""WITH p0 AS MATERIALIZED ($undirectedTradeCte),
      |wr AS MATERIALIZED (SELECT p0.u, p0.v, p0.w, nu.n_regionkey AS ru,
      |         nv.n_regionkey AS rv
      |       FROM p0 JOIN nation nu ON p0.u = nu.n_nationkey
      |       JOIN nation nv ON p0.v = nv.n_nationkey),
      |deg AS (SELECT rk, CAST(sum(w) AS BIGINT) AS d_c FROM (
      |          SELECT ru AS rk, w FROM wr
      |          UNION ALL SELECT rv AS rk, w FROM wr)
      |        GROUP BY rk),
      |intra AS (SELECT ru AS rk, CAST(sum(w) * 2 AS BIGINT) AS e_c
      |          FROM wr WHERE ru = rv GROUP BY 1),
      |m2 AS (SELECT CAST(sum(d_c) AS BIGINT) AS m2 FROM deg),
      |per AS (SELECT CAST(r.r_regionkey AS INT) AS region_key, r.r_name,
      |          CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra2,
      |          CAST(coalesce(d.d_c, 0) AS BIGINT) AS degree,
      |          CAST(coalesce(i.e_c, 0) AS HUGEINT) * m2.m2
      |            - CAST(coalesce(d.d_c, 0) AS HUGEINT)
      |            * coalesce(d.d_c, 0) AS num,
      |          m2.m2 AS m2
      |        FROM region r
      |        LEFT JOIN deg d ON d.rk = r.r_regionkey
      |        LEFT JOIN intra i ON i.rk = r.r_regionkey
      |        CROSS JOIN m2)
      |SELECT * FROM (
      |  SELECT region_key, r_name, intra2, degree,
      |    CASE WHEN m2 <= 0 THEN 0.0
      |         ELSE round(CAST(num AS DOUBLE) /
      |           (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)), 9)
      |    END AS contribution
      |  FROM per
      |  UNION ALL
      |  SELECT -1 AS region_key, 'ALL' AS r_name,
      |    CAST(sum(intra2) AS BIGINT), CAST(sum(degree) AS BIGINT),
      |    CASE WHEN coalesce(max(m2), 0) <= 0 THEN 0.0
      |         ELSE round(CAST(sum(num) AS DOUBLE) /
      |           (CAST(max(m2) AS DOUBLE) * CAST(max(m2) AS DOUBLE)), 9)
      |    END
      |  FROM per)
      |ORDER BY region_key""".stripMargin

  /** W59 — label-propagation community detection: K synchronous
    * rounds of "adopt the label carrying the most incident edge
    * weight" over the undirected nation trade graph — the cheap
    * community detector whose output q_modularity (W43) is built to
    * score. Determinism: the per-node vote is ONE integer argmax —
    * candidate labels pack as `wsum·128 + (127 − label)` (labels are
    * require'd < 128; nations are 25), so max(pack) IS the
    * weight-argmax with ties breaking to the SMALLEST label, and a
    * self-vote of weight 1 damps the two-coloring oscillation plain
    * synchronous LPA exhibits on near-bipartite graphs. K is fixed
    * (unrolled in the oracle), not run to a fixpoint: LPA has no
    * monotone fixpoint certificate, so a checked-convergence loop
    * could legitimately never terminate — fixed-round LPA is the
    * honest distributed form. Output: each nation's community label
    * after K rounds plus the community size. */
  def labelProp(s: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    val und = undirectedTradeGraph(s, dir)
    // both directions; bounded (<= 2|nations|^2 rows) and derived from
    // the TradeGraph local relation, so iterating over the lazy plan
    // is cheaper than a checkpoint job
    val adj = und.select(explode(array(
        struct(col("u").as("node"), col("v").as("nb"), col("w")),
        struct(col("v").as("node"), col("u").as("nb"), col("w")))).as("e"))
      .select(col("e.node").as("node"), col("e.nb").as("nb"),
        col("e.w").as("w"))

    val nodes = Tables.nation(s, dir).select(col("n_nationkey").as("node"))
    require(rounds >= 1, "label propagation needs at least one round")
    // the packed argmax (wsum·128 + (127 − label)) aliases silently if
    // a label reaches 128 — enforce the bound per-row INSIDE the first
    // round's job (labels only ever come from initial node ids, so
    // guarding the seed covers every round). A standalone driver-side
    // max() pre-action here would make merely CONSTRUCTING this plan
    // trigger a Spark job (PlanAudit, PlanScan, plan-only tooling).
    var lab = nodes.withColumn("lab",
      when(col("node") < 128, col("node"))
        .otherwise(raise_error(concat(
          lit("labelProp's 128-way label packing needs node ids < 128, " +
            "got "), col("node"),
          lit(" — widen the pack factor for a larger node domain")))))
    for (_ <- 1 to rounds) {
      // neighbor votes (weight w per edge) plus the self-vote (weight
      // 1); argmax-with-min-label-tie as ONE packed integer max
      val votes = adj
        .join(broadcast(lab.withColumnRenamed("node", "nb")), Seq("nb"))
        .select(col("node"), col("lab"), col("w"))
        .unionAll(lab.select(col("node"), col("lab"), lit(1L).as("w")))
        .groupBy(col("node"), col("lab"))
        .agg(sum(col("w")).as("wsum"))
      lab = votes
        .groupBy(col("node"))
        .agg(max(col("wsum") * 128 + (lit(127) - col("lab"))).as("pack"))
        .select(col("node"),
          (lit(127) - pmod(col("pack"), lit(128))).cast("int").as("lab"))
        .localCheckpoint() // truncate the per-round plan growth
    }
    val sizes = lab.groupBy(col("lab")).agg(count(lit(1)).as("community_size"))
    lab.join(broadcast(sizes), Seq("lab"))
      .select(col("node"), col("lab").as("community"), col("community_size"))
      .orderBy(col("node"))
  }

  /** Oracle: the same `rounds` synchronous updates unrolled — one
    * vote aggregate + one packed argmax per round, MATERIALIZED. */
  def labelPropSql(rounds: Int = 4): String = {
    val steps = (1 to rounds).map { i =>
      s"""v$i AS MATERIALIZED (SELECT node, lab,
         |    CAST(sum(w) AS BIGINT) AS wsum FROM (
         |    SELECT a.node, l.lab, a.w
         |    FROM adj a JOIN l${i - 1} l ON a.nb = l.node
         |    UNION ALL SELECT node, lab, 1 AS w FROM l${i - 1})
         |  GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT node,
         |    CAST(127 - max(wsum * 128 + (127 - lab)) % 128 AS INT) AS lab
         |  FROM v$i GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED ($undirectedTradeCte),
      |adj AS MATERIALIZED (SELECT u AS node, v AS nb, w FROM und
      |       UNION ALL SELECT v, u, w FROM und),
      |l0 AS MATERIALIZED (SELECT n_nationkey AS node,
      |       CAST(n_nationkey AS INT) AS lab FROM nation),
      |$steps,
      |sz AS (SELECT lab, count(*) AS community_size FROM l$rounds
      |       GROUP BY lab)
      |SELECT l.node, l.lab AS community, sz.community_size
      |FROM l$rounds l JOIN sz USING (lab)
      |ORDER BY l.node""".stripMargin
  }

  /** Above-mean-weight backbone of [[undirectedTradeGraph]] — the
    * sparsification both coefficient and distance queries share (the
    * full nation graph is near-complete at any SF, so unthresholded
    * structure measures saturate; the mean-weight cut keeps only the
    * strong trade lanes). Bounded: ≤ |nations|² rows always. */
  private def backbone(s: SparkSession, dir: String): DataFrame =
    TradeGraph.backboneDf(s, dir)

  /** DuckDB twin of [[backbone]] (CTE list, no WITH; expects nothing
    * before it). MATERIALIZED is load-bearing: the consumers reference
    * `e` several times (3-way triangle join; 2^k doubling rounds), and
    * DuckDB inlines plain CTEs — un-materialized, every reference
    * re-expands the corpus star join (the q_kcore 3^8-copies lesson). */
  private val backboneCte: String =
    s"""g AS MATERIALIZED ($undirectedTradeCte),
      |e AS MATERIALIZED (SELECT u, v FROM g,
      |        (SELECT CAST(sum(w) AS DOUBLE) / count(*) AS cut FROM g) t
      |      WHERE CAST(w AS DOUBLE) >= cut)""".stripMargin

  /** W60 — local clustering coefficient: per nation, how tightly its
    * strong trade partners trade with EACH OTHER — 2·T/(d·(d−1)) with
    * T the node's triangle count and d its backbone degree. The
    * community-cohesion companion to the global triangle count (W13):
    * a node can sit on many triangles yet be loosely clustered if its
    * degree is high. Shape: facts collapse to the bounded backbone
    * once; triangles come from the ordered three-way edge self-join
    * (a<b<c, each triangle counted once per member), degrees from one
    * symmetric explode — every post-collapse relation is ≤ |nations|²
    * rows at any corpus scale. The coefficient is one exact int/int
    * IEEE division (no rounding needed). */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e = backbone(s, dir) // local relation (TradeGraph backbone)
    val deg = e.select(explode(array(
        struct(col("u").as("nation"), col("v").as("other")),
        struct(col("v").as("nation"), col("u").as("other")))).as("x"))
      .select(col("x.nation").as("nation"))
      .groupBy(col("nation")).agg(count(lit(1)).as("degree"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(explode(array(col("e1.u"), col("e1.v"), col("e2.v"))).as("nation"))
      .groupBy(col("nation")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, Seq("nation"), "left")
      .select(col("nation"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, 0.0).otherwise(
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .as("clustering_coeff"))
      .orderBy(col("nation"))
  }

  val clusteringCoeffSql: String =
    s"""WITH $backboneCte,
      |deg AS (SELECT nation, count(*) AS degree
      |        FROM (SELECT u AS nation FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY nation),
      |tri AS (SELECT nation, count(*) AS n_triangles
      |        FROM (SELECT unnest([e1.u, e1.v, e2.v]) AS nation
      |              FROM e e1 JOIN e e2 ON e1.v = e2.u
      |              JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
      |        GROUP BY nation)
      |SELECT deg.nation, CAST(deg.degree AS BIGINT) AS degree,
      |  CAST(coalesce(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
      |  CASE WHEN deg.degree < 2 THEN 0.0
      |       ELSE 2.0 * CAST(coalesce(tri.n_triangles, 0) AS DOUBLE)
      |            / CAST(deg.degree * (deg.degree - 1) AS DOUBLE) END
      |    AS clustering_coeff
      |FROM deg LEFT JOIN tri ON deg.nation = tri.nation
      |ORDER BY deg.nation""".stripMargin

  /** W63 — all-pairs hop distances by min-plus doubling: eccentricity
    * and reachable-set size per nation on the trade backbone — the
    * "how many lanes from anywhere to anywhere" audit. Doubling
    * (d_{2k}(u,v) = min_w d_k(u,w) + d_k(w,v), self-loops at 0) needs
    * ⌈log₂ diameter⌉ rounds instead of diameter rounds of BFS — 3
    * unrolled rounds cover any path of ≤8 hops (plenty for the
    * ≤|nations| backbone), and both engines apply the SAME truncation,
    * so the comparison stays exact even on a pathological graph.
    *
    * The backbone is ≤ |nations|² rows BY CONSTRUCTION, so after the
    * one distributed corpus collapse the doubling runs DRIVER-side
    * over the collected edge list (the k-means/Ranked bounded-metadata
    * convention): exact integer min-plus over ≤625 pairs is
    * microseconds of arithmetic, where the former distributed unroll
    * paid 3 checkpoint-separated shuffle jobs on a tiny relation
    * (measured 2.57 s best-honest → the collapse alone). */
  def nationDistances(s: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    import s.implicits._
    // The corpus star-join collapse comes from the process-wide
    // TradeGraph stage (bounded ≤ |nations|² rows); everything after
    // is driver-side arithmetic on that bounded metadata.
    val edges = TradeGraph.backboneEdges(s, dir)
    val sym = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val nodes = sym.map(_._1).distinct
    var dist: Map[(Int, Int), Long] =
      (sym.map { case (u, v) => ((u, v), 1L) } ++
        nodes.map(n => ((n, n), 0L)))
        .groupMapReduce(_._1)(_._2)(math.min)
    (1 to rounds).foreach { _ =>
      val byU = dist.toSeq.groupBy(_._1._1)
      dist = (for {
        ((a, mid), d1) <- dist.toSeq
        ((_, b), d2) <- byU.getOrElse(mid, Nil)
      } yield ((a, b), d1 + d2)).groupMapReduce(_._1)(_._2)(math.min)
    }
    val out = dist.toSeq
      .collect { case ((u, v), d) if u != v => (u, d) }
      .groupBy(_._1).toSeq
      .map { case (u, ds) => (u, ds.size.toLong, ds.map(_._2).max) }
    out.toDF("nation", "n_reachable", "eccentricity")
      .orderBy(col("nation"))
  }

  def nationDistancesSql(rounds: Int = 3): String = {
    // MATERIALIZED per round: each dᵢ references dᵢ₋₁ twice, so plain
    // (inlined) CTEs would expand 2^rounds copies of the base
    val unroll = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT a.u, b.v, min(a.d + b.d) AS d
         |      FROM d${i - 1} a JOIN d${i - 1} b ON a.v = b.u
         |      GROUP BY a.u, b.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $backboneCte,
      |sym AS MATERIALIZED (SELECT u, v, 1 AS d FROM e
      |        UNION ALL SELECT v, u, 1 FROM e),
      |d0 AS MATERIALIZED (SELECT u, v, min(d) AS d FROM (
      |         SELECT u, v, d FROM sym
      |         UNION ALL SELECT DISTINCT u, u, 0 FROM sym)
      |       GROUP BY u, v),
      |$unroll
      |SELECT u AS nation, CAST(count(*) AS BIGINT) AS n_reachable,
      |  CAST(max(d) AS BIGINT) AS eccentricity
      |FROM d$rounds WHERE u <> v
      |GROUP BY u ORDER BY nation""".stripMargin
  }

  /** W64 — closeness & harmonic centrality on the trade backbone: the
    * "which nation reaches the network fastest" ranking next to W63's
    * eccentricity. Distances are the SAME ≤8-hop min-plus truncation
    * as q_nation_distances (both engines unroll it identically), over
    * the staged TradeGraph backbone — zero extra corpus scans.
    * Exactness: Σd is an integer; harmonic centrality Σ 1/d would be a
    * float whose SUM ORDER differs across engines, so it accumulates
    * as Σ(840 DIV d) — 840 = lcm(1..8) makes every reciprocal an exact
    * integer at ≤8 hops — and divides by 840 once at the end.
    * Closeness is the classic (n_reachable)/Σd in one IEEE division.
    * Disconnected pairs are simply absent (reachable-set semantics,
    * same as W63). */
  def closeness(s: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    import s.implicits._
    val edges = TradeGraph.backboneEdges(s, dir)
    val sym = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val nodes = sym.map(_._1).distinct
    var dist: Map[(Int, Int), Long] =
      (sym.map { case (u, v) => ((u, v), 1L) } ++
        nodes.map(n => ((n, n), 0L)))
        .groupMapReduce(_._1)(_._2)(math.min)
    (1 to rounds).foreach { _ =>
      val byU = dist.toSeq.groupBy(_._1._1)
      dist = (for {
        ((a, mid), d1) <- dist.toSeq
        ((_, b), d2) <- byU.getOrElse(mid, Nil)
      } yield ((a, b), d1 + d2)).groupMapReduce(_._1)(_._2)(math.min)
    }
    val out = dist.toSeq
      .collect { case ((u, v), d) if u != v => (u, d) }
      .groupBy(_._1).toSeq
      .map { case (u, ds) =>
        val n = ds.size.toLong
        val sumD = ds.map(_._2).sum
        val hUnits = ds.map(840L / _._2).sum // 840 = lcm(1..8): exact
        // half-UP rounding (floor(x·1e6 + 0.5) for positive x) — the
        // same convention DuckDB's round() applies; rint would be
        // half-EVEN and could differ on exact boundaries
        (u, n, sumD, hUnits,
          math.floor(hUnits.toDouble / 840.0 * 1e6 + 0.5) / 1e6,
          math.floor(n.toDouble / sumD.toDouble * 1e6 + 0.5) / 1e6)
      }
    out.toDF("nation", "n_reachable", "sum_dist", "harmonic_units",
        "harmonic", "closeness")
      .orderBy(col("nation"))
  }

  def closenessSql(rounds: Int = 3): String = {
    val unroll = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT a.u, b.v, min(a.d + b.d) AS d
         |      FROM d${i - 1} a JOIN d${i - 1} b ON a.v = b.u
         |      GROUP BY a.u, b.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $backboneCte,
      |sym AS MATERIALIZED (SELECT u, v, 1 AS d FROM e
      |        UNION ALL SELECT v, u, 1 FROM e),
      |d0 AS MATERIALIZED (SELECT u, v, min(d) AS d FROM (
      |         SELECT u, v, d FROM sym
      |         UNION ALL SELECT DISTINCT u, u, 0 FROM sym)
      |       GROUP BY u, v),
      |$unroll
      |SELECT u AS nation, CAST(count(*) AS BIGINT) AS n_reachable,
      |  CAST(sum(d) AS BIGINT) AS sum_dist,
      |  CAST(sum(840 // d) AS BIGINT) AS harmonic_units,
      |  round(CAST(sum(840 // d) AS DOUBLE) / 840.0, 6) AS harmonic,
      |  round(CAST(count(*) AS DOUBLE) / CAST(sum(d) AS DOUBLE), 6)
      |    AS closeness
      |FROM d$rounds WHERE u <> v
      |GROUP BY u ORDER BY nation""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_closeness" -> ((s: SparkSession, d: String) => closeness(s, d)),
    "q_assortativity" -> (assortativity _),
    "q_hits" -> ((s: SparkSession, d: String) => hits(s, d)),
    "q_modularity" -> (modularity _),
    "q_label_prop" -> ((s: SparkSession, d: String) => labelProp(s, d)),
    "q_clustering_coeff" -> (clusteringCoeff _),
    "q_nation_distances" -> ((s: SparkSession, d: String) => nationDistances(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q_closeness" -> closenessSql(),
    "q_assortativity" -> assortativitySql,
    "q_hits" -> hitsSql(),
    "q_modularity" -> modularitySql,
    "q_label_prop" -> labelPropSql(),
    "q_clustering_coeff" -> clusteringCoeffSql,
    "q_nation_distances" -> nationDistancesSql(),
  )
}
