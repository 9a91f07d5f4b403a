package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Warehouse-modeling and corpus-assembly operators (round 4
  * extensions beyond SURVEY.md §2B): slowly-changing-dimension
  * interval builds, market-basket association rules, dictionary
  * scrubbing, and context-window document packing. Each is the
  * Spark-declarative form of a pattern a 100 TB training-data or
  * analytics pipeline runs routinely; all are oracle-checked.
  */
object Warehouse {

  /** SCD Type 2 build — compress a per-user event stream into state
    * validity intervals [valid_from, valid_to): keep only rows where
    * the state CHANGES (lag compare), then close each interval with
    * the next change's timestamp (lead). The open current interval
    * gets the 9999999999 sentinel instead of NULL (cross-engine null
    * ordering differs; sentinel keeps the compare total). Bounds are
    * epoch seconds — integer-exact on both engines. Two windows, both
    * keyed by user_id: skew-safe, no global sort, scales linearly. */
  /** SCD2 change detection over a (user_id, event_id, state, sec)
    * stream — ONE definition shared by the full rebuild ([[scd2Build]])
    * and the incremental merge ([[Adaptive.scd2Merge]]): the
    * incremental ≡ rebuild equivalence is structural only while both
    * paths run the identical lag test. */
  private[queries] def scd2Changes(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    e.withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .select(col("user_id"), col("event_id"), col("state"), col("sec"))
  }

  /** SCD2 interval close-out over change rows — the shared tail of
    * [[scd2Build]] and [[Adaptive.scd2Merge]]. The output sort carries
    * valid_to as the final key: a state flipping X→Y→X within one
    * SECOND produces two rows tied on (user_id, valid_from, state)
    * that only valid_to distinguishes, and a non-total sort would
    * order them by layout. */
  private[queries] def scd2CloseOut(changes: DataFrame): DataFrame = {
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    changes
      .withColumn("valid_from", col("sec"))
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(w2), lit(9999999999L)))
      .select(col("user_id"), col("state"),
        col("valid_from"), col("valid_to"),
        (col("valid_to") === 9999999999L).as("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("state"), col("valid_to"))
  }

  def scd2Build(s: SparkSession, dir: String): DataFrame =
    scd2CloseOut(scd2Changes(Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type").as("state"),
        unix_timestamp(col("ts")).as("sec"))))

  val scd2BuildSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type AS state,
      |             CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |c AS (SELECT user_id, event_id, state, sec,
      |        lag(state) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev_state
      |      FROM e),
      |ch AS (SELECT user_id, event_id, state, sec AS valid_from FROM c
      |       WHERE prev_state IS NULL OR prev_state <> state)
      |SELECT user_id, state, valid_from,
      |  coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id),
      |           9999999999) AS valid_to,
      |  coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id),
      |           9999999999) = 9999999999 AS is_current
      |FROM ch ORDER BY user_id, valid_from, state, valid_to""".stripMargin

  /** Market-basket association rules over order baskets: per-order
    * item sets (parts bucketed mod 50 to a catalog of bounded
    * cardinality), co-occurrence pairs from a WITHIN-ORDER self-join
    * (baskets are small and bounded — ~7 items — so the join is
    * linear in orders, never quadratic in the catalog), then exact
    * support / confidence / lift from integer counts. The catalog
    * count tables broadcast. This is the co-occurrence shape (also:
    * token co-occurrence, citation pairs) that scales by bounding the
    * per-basket fan-out, not the corpus. */
  def basketRules(s: SparkSession, dir: String, minCount: Long = 20L): DataFrame = {
    // The item domain is BOUNDED (l_partkey % 50 ∈ [0,50)), so each
    // basket packs into one 64-bit bitmap: ONE okey-keyed aggregate
    // (bit_or dedups — no separate distinct pass) replaces the former
    // distinct + okey self-join, and the pair stream comes from a
    // per-basket explode whose groupBy partial-aggregates into ≤C(50,2)
    // cells map-side — the exchange carries ≤1225×width rows instead
    // of the multi-million-row join output (guide §2.3: aggregate
    // before you shuffle; §2.4: remove the join's shuffle outright).
    // All counts stay exact integers with identical semantics.
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(l_partkey % 50 AS INT))")
          .as("bit"))
      .groupBy(col("okey")).agg(expr("bit_or(bit)").as("bits"))
      .select(expr("filter(transform(sequence(0, 49), i -> CAST(i AS BIGINT)), " +
        "i -> ((bits >> CAST(i AS INT)) & 1) = 1)").as("arr"))
      .persistScoped() // order census + item census + pair census
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val itemCounts = baskets.select(explode(col("arr")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = baskets
      .select(explode(expr("flatten(transform(arr, a -> " +
        "transform(filter(arr, b -> b > a), " +
        "b -> named_struct('item_a', a, 'item_b', b))))")).as("p"))
      .select(col("p.item_a"), col("p.item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    pairs
      .join(broadcast(itemCounts.select(col("item").as("item_a"), col("n_item").as("n_a"))),
        Seq("item_a"))
      .join(broadcast(itemCounts.select(col("item").as("item_b"), col("n_item").as("n_b"))),
        Seq("item_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_orders")).as("support"),
        (col("n_ab").cast("double") / col("n_a")).as("confidence"),
        ((col("n_ab").cast("double") * col("n_orders").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("item_a"), col("item_b"))
  }

  val basketRulesSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey % 50 AS item
      |               FROM lineitem),
      |n AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
      |ic AS (SELECT item, count(*) AS n_item FROM items GROUP BY item),
      |p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
      |      FROM items a JOIN items b ON a.okey = b.okey AND a.item < b.item
      |      GROUP BY 1, 2 HAVING count(*) >= 20)
      |SELECT item_a, item_b, n_ab,
      |  CAST(n_ab AS DOUBLE) / n_orders AS support,
      |  CAST(n_ab AS DOUBLE) / ca.n_item AS confidence,
      |  (CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)) /
      |    (CAST(ca.n_item AS DOUBLE) * CAST(cb.n_item AS DOUBLE)) AS lift
      |FROM p JOIN ic ca ON p.item_a = ca.item
      |JOIN ic cb ON p.item_b = cb.item, n
      |ORDER BY item_a, item_b""".stripMargin

  /** Dictionary scrubbing — the denylist-redaction shape of PII
    * removal at corpus scale: a (broadcast-sized) term denylist
    * compiled into one word-boundary alternation regex; every match
    * replaced in a single codegen'd regexp_replace pass and counted
    * with regexp_count. Pure narrow map — no shuffle except the final
    * presentation sort. Real pipelines swap the alternation for
    * email/phone/SSN patterns; the plan shape is identical. */
  def dictRedact(s: SparkSession, dir: String): DataFrame = {
    val pattern = "\\b(customer|key|value)\\b"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(pattern)).cast("int").as("n_hits"),
        substring(regexp_replace(col("text"), pattern, "[X]"), 1, 80).as("head"))
      .filter(col("n_hits") > 0)
      .orderBy(col("doc_id"))
  }

  val dictRedactSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\b(customer|key|value)\b')) AS INT) AS n_hits,
      |  substring(regexp_replace(text, '\b(customer|key|value)\b', '[X]', 'g'), 1, 80) AS head
      |FROM documents
      |WHERE len(regexp_extract_all(text, '\b(customer|key|value)\b')) > 0
      |ORDER BY doc_id""".stripMargin

  /** Context-window document packing — assign documents (in doc_id
    * order) to fixed-capacity token windows: pack_id = floor(tokens
    * before this doc / capacity), the standard offset-packing rule of
    * distributed corpus assembly (greedy reset packing is inherently
    * sequential; offset packing is its scan-friendly form and what a
    * sharded tokenizer actually emits). The prefix sum is computed
    * scale-safely: range-repartition by doc_id, per-partition token
    * totals broadcast as offsets, partition-local cumulative sum —
    * the same no-global-sort shape as q_equidepth_hist. */
  def docPacking(s: SparkSession, dir: String, capacity: Int = 2048): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("ntok"))
    val parts = d.repartitionByRange(Tables.shuffleWidth(s), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persistScoped() // pin sampled range bounds: both readers must agree on pid
    val offsets = parts.groupBy(col("pid")).agg(sum(col("ntok")).as("c"))
      .withColumn("off", sum(col("c")).over(Window.orderBy(col("pid"))) - col("c"))
      .select(col("pid"), col("off"))
    val localW = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
    parts
      .withColumn("cum_local", sum(col("ntok")).over(localW))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("before", col("off") + col("cum_local") - col("ntok"))
      .withColumn("pack_id", expr(s"CAST(before DIV $capacity AS INT)"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("pack_id"))
  }

  val docPackingSql: String =
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS ntok FROM documents),
      |c AS (SELECT doc_id, ntok,
      |        CAST(sum(ntok) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok AS BIGINT) AS before
      |      FROM d)
      |SELECT CAST(before // 2048 AS INT) AS pack_id,
      |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin

  /** Chi-square independence audit over the (lang, source) contingency
    * table: observed vs expected counts and the per-cell χ² terms. The
    * expected value and each cell's contribution are one fixed chain
    * of IEEE ops over exact integer marginals, so every cell is
    * bit-portable; the query emits PER-CELL rows rather than the final
    * χ² scalar because a float sum over cells would be summation-order
    * dependent (the caller can sum the column — the driver-side add is
    * order-controlled). One aggregate + two broadcast marginal joins. */
  def chi2Independence(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val cells = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rowT = d.groupBy(col("lang")).agg(count(lit(1)).as("rt"))
    val colT = d.groupBy(col("source")).agg(count(lit(1)).as("ct"))
    val n = d.agg(count(lit(1)).as("n"))
    cells
      .join(broadcast(rowT), Seq("lang"))
      .join(broadcast(colT), Seq("source"))
      .crossJoin(broadcast(n))
      .withColumn("e",
        (col("rt").cast("double") * col("ct").cast("double")) / col("n").cast("double"))
      .select(col("lang"), col("source"), col("o"), col("e"),
        (((col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e"))) /
          col("e")).as("chi2_term"))
      .orderBy(col("lang"), col("source"))
  }

  val chi2IndependenceSql: String =
    """WITH c AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, count(*) AS rt FROM documents GROUP BY 1),
      |s AS (SELECT source, count(*) AS ct FROM documents GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT c.lang, c.source, o,
      |  (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) / CAST(n AS DOUBLE) AS e,
      |  ((CAST(o AS DOUBLE) - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) / CAST(n AS DOUBLE))
      |    * (CAST(o AS DOUBLE) - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) / CAST(n AS DOUBLE)))
      |    / ((CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) / CAST(n AS DOUBLE)) AS chi2_term
      |FROM c JOIN r ON c.lang = r.lang JOIN s ON c.source = s.source, n
      |ORDER BY c.lang, c.source""".stripMargin

  /** W66 — categorical-association audit: Cramér's V and Theil's U
    * over the lang × source contingency of the documents table — the
    * effect-size companions to W7's per-cell χ² terms (χ² says
    * "dependent?", V says "how strongly" on [0,1], and U(lang|source)
    * says "how much does knowing the source tell you about the
    * language" — asymmetric, exactly the source-balance question a
    * training-data mix audit asks). Determinism: χ² and both entropies
    * are float SUMS whose accumulation order Spark does not pin, so
    * each total accumulates through an ORDERED window cumsum (ORDER BY
    * the category keys, rows unbounded-preceding..current) and the
    * last row is read back with max_by — both engines then add the
    * same terms in the same sequence, making the totals bit-identical
    * without per-cell emission. The grid INCLUDES zero cells (χ²'s E
    * contribution exists even where O = 0). Everything after the three
    * category groupBys is metadata-scale. */
  def cramersTheil(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE corpus aggregate; the contingency grid is bounded by the
    // category domains (langs × sources — metadata by construction),
    // so the totals accumulate DRIVER-side in the same sorted
    // (lang, source) order the oracle's cumsum windows walk — both
    // engines add the same IEEE terms in the same sequence.
    val cells = graft.Bounded.collect(Tables.documents(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o")),
      64 * 64, "cells (≤ 64 langs × ≤ 64 sources) in the contingency grid")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val langs = cells.map(_._1).distinct.sorted
    val sources = cells.map(_._2).distinct.sorted
    val rt = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val ct = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val n = cells.map(_._3).sum
    val omap = cells.map(c => (c._1, c._2) -> c._3).toMap
    var chi2 = 0.0
    var hCond = 0.0
    for (l <- langs; src <- sources) { // the oracle's ORDER BY lang, source
      val o = omap.getOrElse((l, src), 0L)
      val e = rt(l).toDouble * ct(src).toDouble / n.toDouble
      val diff = o.toDouble - e
      chi2 += diff * diff / e
      if (o != 0L)
        hCond += -(o.toDouble / n.toDouble) *
          math.log(o.toDouble / ct(src).toDouble)
    }
    var hLang = 0.0
    for (l <- langs)
      hLang += -(rt(l).toDouble / n.toDouble) *
        math.log(rt(l).toDouble / n.toDouble)
    // half-UP rounding for the positive outputs (DuckDB's round());
    // theil_u clamps at 0 first — FP could put h_cond an ulp above
    // h_lang and the sign would flip the rounding convention
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val v = math.sqrt(chi2 /
      (n.toDouble * (math.min(langs.size, sources.size).toDouble - 1.0)))
    val u = if (hLang == 0.0) 0.0
            else math.max(0.0, (hLang - hCond) / hLang)
    Seq((n, langs.size.toLong, sources.size.toLong, r6(chi2), r6(v),
        r6(hLang), r6(hCond), r6(u)))
      .toDF("n", "n_rows", "n_cols", "chi2", "cramers_v", "h_lang",
        "h_lang_given_source", "theil_u")
  }

  val cramersTheilSql: String =
    """WITH c AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, count(*) AS rt FROM documents GROUP BY 1),
      |s AS (SELECT source, count(*) AS ct FROM documents GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |grid AS (SELECT r.lang, s.source, r.rt, s.ct, n.n,
      |           coalesce(c.o, 0) AS o,
      |           (CAST(r.rt AS DOUBLE) * CAST(s.ct AS DOUBLE))
      |             / CAST(n.n AS DOUBLE) AS e
      |         FROM r CROSS JOIN s
      |         LEFT JOIN c ON c.lang = r.lang AND c.source = s.source, n),
      |t AS (SELECT lang, source, n,
      |        ((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)) / e
      |          AS chi2_term,
      |        CASE WHEN o = 0 THEN 0.0
      |             ELSE -(CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
      |                  * ln(CAST(o AS DOUBLE) / CAST(ct AS DOUBLE)) END
      |          AS hcond_term,
      |        row_number() OVER (ORDER BY lang, source) AS rn
      |      FROM grid),
      |cum AS (SELECT n, rn,
      |          sum(chi2_term) OVER (ORDER BY lang, source
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chi2_cum,
      |          sum(hcond_term) OVER (ORDER BY lang, source
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hcond_cum
      |        FROM t),
      |tot AS (SELECT arg_max(chi2_cum, rn) AS chi2,
      |          arg_max(hcond_cum, rn) AS h_cond, min(n) AS n FROM cum),
      |hl AS (SELECT arg_max(cum, rn) AS h_lang, count(*) AS n_rows
      |       FROM (SELECT rn, sum(term) OVER (ORDER BY lang
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |             FROM (SELECT lang,
      |                     -(CAST(rt AS DOUBLE) / CAST(n AS DOUBLE))
      |                     * ln(CAST(rt AS DOUBLE) / CAST(n AS DOUBLE)) AS term,
      |                     row_number() OVER (ORDER BY lang) AS rn
      |                   FROM r, n))),
      |nc AS (SELECT count(*) AS n_cols FROM s)
      |SELECT CAST(tot.n AS BIGINT) AS n, CAST(hl.n_rows AS BIGINT) AS n_rows,
      |  CAST(nc.n_cols AS BIGINT) AS n_cols,
      |  round(tot.chi2, 6) AS chi2,
      |  round(sqrt(tot.chi2 / (CAST(tot.n AS DOUBLE)
      |    * (CAST(least(hl.n_rows, nc.n_cols) AS DOUBLE) - 1.0))), 6)
      |    AS cramers_v,
      |  round(hl.h_lang, 6) AS h_lang,
      |  round(tot.h_cond, 6) AS h_lang_given_source,
      |  round(CASE WHEN hl.h_lang = 0 THEN 0.0
      |    ELSE greatest(0.0, (hl.h_lang - tot.h_cond) / hl.h_lang) END, 6)
      |    AS theil_u
      |FROM tot, hl, nc""".stripMargin

  /** Referential-integrity audit across every FK edge of the star
    * schema: per edge, rows checked and orphans found (NULL parent key
    * after a broadcast left join against the parent key set — the
    * anti-join count without a second pass). Parent sides broadcast;
    * the fact scans stay narrow (FK columns only) and each child is
    * scanned ONCE for all its edges. The all-zero orphan column is the
    * PASS state of the audit — n_rows carries the evidence the check
    * ran. */
  def fkAudit(s: SparkSession, dir: String): DataFrame = {
    // ONE scan + ONE aggregate per CHILD table, every FK edge of that
    // child folded into the same pass (lineitem's three edges share
    // one fact scan instead of paying three scan+count pairs): each
    // parent key set broadcast-left-joins onto the child, a NULL
    // parent key marks the orphan, and a single aggregate emits the
    // row count plus every edge's orphan count — 5 exchanges total
    // where the per-edge form paid 12. Parent keys are PRIMARY keys
    // (unique by schema contract — the very invariant the upstream
    // uniqueness audits pin), so the left join cannot fan out rows and
    // the counts are exactly the anti-join counts.
    def audit(child: DataFrame,
              edges: Seq[(String, String, DataFrame, String)]): DataFrame = {
      val joined = edges.zipWithIndex.foldLeft(
          child.select(edges.map(_._2).distinct.map(col): _*)) {
        case (d, ((_, fk, parent, pk), i)) =>
          d.join(broadcast(parent.select(col(pk).as(s"pk_$i"))),
            col(fk) === col(s"pk_$i"), "left")
      }
      val aggs = count(lit(1)).as("n_rows") +:
        edges.indices.map(i =>
          sum(when(col(s"pk_$i").isNull, 1L).otherwise(0L)).as(s"orph_$i"))
      joined.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(edges.zipWithIndex.map { case ((name, _, _, _), i) =>
          struct(lit(name).as("fk_edge"), col("n_rows"),
            col(s"orph_$i").as("n_orphans"))
        }: _*)).as("e"))
        .select(col("e.fk_edge"), col("e.n_rows"), col("e.n_orphans"))
    }
    val o = Tables.orders(s, dir); val li = Tables.lineitem(s, dir)
    val nation = Tables.nation(s, dir); val cust = Tables.customer(s, dir)
    audit(cust, Seq(("customer->nation", "c_nationkey", nation, "n_nationkey")))
      .union(audit(Tables.supplier(s, dir),
        Seq(("supplier->nation", "s_nationkey", nation, "n_nationkey"))))
      .union(audit(nation,
        Seq(("nation->region", "n_regionkey", Tables.region(s, dir), "r_regionkey"))))
      .union(audit(o, Seq(("orders->customer", "o_custkey", cust, "c_custkey"))))
      .union(audit(li, Seq(
        ("lineitem->orders", "l_orderkey", o, "o_orderkey"),
        ("lineitem->part", "l_partkey", Tables.part(s, dir), "p_partkey"),
        ("lineitem->supplier", "l_suppkey", Tables.supplier(s, dir), "s_suppkey"))))
      .orderBy(col("fk_edge"))
  }

  val fkAuditSql: String =
    """SELECT 'customer->nation' AS fk_edge, (SELECT count(*) FROM customer) AS n_rows,
      |  (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
      |    (SELECT n_nationkey FROM nation)) AS n_orphans
      |UNION ALL SELECT 'supplier->nation', (SELECT count(*) FROM supplier),
      |  (SELECT count(*) FROM supplier WHERE s_nationkey NOT IN
      |    (SELECT n_nationkey FROM nation))
      |UNION ALL SELECT 'nation->region', (SELECT count(*) FROM nation),
      |  (SELECT count(*) FROM nation WHERE n_regionkey NOT IN
      |    (SELECT r_regionkey FROM region))
      |UNION ALL SELECT 'orders->customer', (SELECT count(*) FROM orders),
      |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
      |    (SELECT c_custkey FROM customer))
      |UNION ALL SELECT 'lineitem->orders', (SELECT count(*) FROM lineitem),
      |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
      |    (SELECT o_orderkey FROM orders))
      |UNION ALL SELECT 'lineitem->part', (SELECT count(*) FROM lineitem),
      |  (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
      |    (SELECT p_partkey FROM part))
      |UNION ALL SELECT 'lineitem->supplier', (SELECT count(*) FROM lineitem),
      |  (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier))
      |ORDER BY fk_edge""".stripMargin

  /** PageRank over the nation-to-nation trade graph (customer nation →
    * supplier nation, weighted by lineitem count), 3 iterations,
    * damping 0.85 — ENTIRELY in scaled integer arithmetic so both
    * engines agree bit-for-bit: edge shares and ranks are fixed-point
    * (1e6 / 1e12 scales), every division an integer DIV (both engines
    * truncate toward zero for non-negative operands), every sum an
    * exact integer sum. The expensive part — aggregating 6M+ lineitems
    * through the 4-way star join into the 25×25 edge table — runs
    * once, dimension sides broadcast; the iterations are
    * metadata-scale joins on the tiny edge list, which is how PageRank
    * on a contracted graph should look at 100 TB (aggregate first,
    * iterate on the contraction). */
  def pagerankNations(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    // the contracted edge table comes from the process-wide TradeGraph
    // stage (ONE corpus star join per sweep, shared with HITS/
    // triangles/shortest-path); it arrives as a ≤|nations|² local
    // relation, so iterating over the lazy plan needs no persist
    val edges = TradeGraph.directedDf(s, dir)
    val share = edges
      .withColumn("wsum", sum(col("w")).over(Window.partitionBy(col("src"))))
      .withColumn("share", expr("(w * 1000000L) DIV wsum"))
      .select(col("src"), col("dst"), col("share"))
    val nations = Tables.nation(s, dir).select(col("n_nationkey").as("node"))
    val nNodes = 25L // fixture constant; TPC-H nation is fixed-size
    var pr = nations.withColumn("pr", lit(1000000000000L / nNodes))
    for (_ <- 1 to iters) {
      val contrib = share.join(pr, col("src") === col("node"))
        .select(col("dst"), expr("(pr * share) DIV 1000000L").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      pr = nations.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(150000000000L / nNodes) +
            expr("(coalesce(inflow, 0L) * 85) DIV 100")).as("pr"))
    }
    pr.select(col("node"), col("pr"),
        (col("pr").cast("double") / 1e12).as("rank"))
      .orderBy(col("node"))
  }

  val pagerankNationsSql: String =
    """WITH e AS (SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      |           FROM lineitem
      |           JOIN orders ON l_orderkey = o_orderkey
      |           JOIN customer ON o_custkey = c_custkey
      |           JOIN supplier ON l_suppkey = s_suppkey
      |           GROUP BY 1, 2),
      |sh AS (SELECT src, dst,
      |         (w * 1000000) // sum(w) OVER (PARTITION BY src) AS share FROM e),
      |p0 AS (SELECT n_nationkey AS node, CAST(40000000000 AS BIGINT) AS pr FROM nation),
      |i1 AS (SELECT sh.dst AS node, sum((p0.pr * sh.share) // 1000000) AS inflow
      |       FROM sh JOIN p0 ON sh.src = p0.node GROUP BY 1),
      |p1 AS (SELECT p0.node, 6000000000 + (coalesce(i1.inflow, 0) * 85) // 100 AS pr
      |       FROM p0 LEFT JOIN i1 ON p0.node = i1.node),
      |i2 AS (SELECT sh.dst AS node, sum((p1.pr * sh.share) // 1000000) AS inflow
      |       FROM sh JOIN p1 ON sh.src = p1.node GROUP BY 1),
      |p2 AS (SELECT p1.node, 6000000000 + (coalesce(i2.inflow, 0) * 85) // 100 AS pr
      |       FROM p1 LEFT JOIN i2 ON p1.node = i2.node),
      |i3 AS (SELECT sh.dst AS node, sum((p2.pr * sh.share) // 1000000) AS inflow
      |       FROM sh JOIN p2 ON sh.src = p2.node GROUP BY 1),
      |p3 AS (SELECT p2.node, 6000000000 + (coalesce(i3.inflow, 0) * 85) // 100 AS pr
      |       FROM p2 LEFT JOIN i3 ON p2.node = i3.node)
      |SELECT node, CAST(pr AS BIGINT) AS pr, CAST(pr AS DOUBLE) / 1e12 AS rank
      |FROM p3 ORDER BY node""".stripMargin

  /** Population-stability-index drift audit — the distribution-shift
    * monitor every production feature pipeline runs between a
    * reference and a current period. Orders split at 1998; prices
    * land in fixed 50k bins; each bin's PSI term (p−q)·ln(p/q) uses
    * Laplace-smoothed exact ratios so empty bins stay finite. Per-BIN
    * terms are emitted, not the float total — a summed total would be
    * accumulation-order dependent (the q_chi2_independence
    * convention); the consumer's threshold sum is one tiny exact
    * reduce. Period totals join as broadcast one-row aggregates; the
    * whole audit is two partial/final counts over one scan. */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val binned = Tables.orders(s, dir)
      .select(least(floor(col("o_totalprice") / lit(50000.0)), lit(9.0))
          .cast("int").as("bin"),
        (year(col("o_orderdate")) <= 1997).as("era_a"))
    val counts = binned
      .groupBy(col("bin"))
      .agg(sum(when(col("era_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("era_a"), 1L).otherwise(0L)).as("n_b"))
    val tot = binned.agg(
      sum(when(col("era_a"), 1L).otherwise(0L)).as("t_a"),
      sum(when(!col("era_a"), 1L).otherwise(0L)).as("t_b"))
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"), {
        val p = (col("n_a") + lit(1)).cast("double") / (col("t_a") + lit(10)).cast("double")
        val q = (col("n_b") + lit(1)).cast("double") / (col("t_b") + lit(10)).cast("double")
        ((p - q) * log(p / q)).as("psi_term")
      })
      .orderBy(col("bin"))
  }

  val psiDriftSql: String =
    """WITH b AS (SELECT CAST(least(floor(o_totalprice / 50000.0), 9.0) AS INT) AS bin,
      |             year(o_orderdate) <= 1997 AS era_a FROM orders),
      |c AS (SELECT bin,
      |        CAST(sum(CASE WHEN era_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |        CAST(sum(CASE WHEN NOT era_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |      FROM b GROUP BY bin),
      |t AS (SELECT CAST(sum(CASE WHEN era_a THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
      |        CAST(sum(CASE WHEN NOT era_a THEN 1 ELSE 0 END) AS BIGINT) AS t_b FROM b)
      |SELECT bin, n_a, n_b,
      |  ((CAST(n_a + 1 AS DOUBLE) / CAST(t_a + 10 AS DOUBLE)) -
      |   (CAST(n_b + 1 AS DOUBLE) / CAST(t_b + 10 AS DOUBLE))) *
      |  ln((CAST(n_a + 1 AS DOUBLE) / CAST(t_a + 10 AS DOUBLE)) /
      |     (CAST(n_b + 1 AS DOUBLE) / CAST(t_b + 10 AS DOUBLE))) AS psi_term
      |FROM c, t ORDER BY bin""".stripMargin

  /** Triangle counting on the nation trade graph — the clustering
    * primitive next to W9's PageRank, over the same once-aggregated
    * edge list. Edges become undirected distinct pairs (a<b) above
    * half the mean weight (sparsifies the near-clique); triangles
    * close via the standard a<b<c three-way self-join (each triangle
    * found exactly once), and per-nation membership counts come from
    * unpivoting the three corners. The contracted edge table is
    * metadata-sized, so every join broadcasts; the only at-scale cost
    * is the ONE star-join edge aggregation it shares with PageRank. */
  def triangleNations(s: SparkSession, dir: String): DataFrame = {
    // contracted edges from the process-wide TradeGraph stage; the
    // derivations below run on a ≤|nations|² local relation, so the
    // former star-join persists are pure overhead now
    val directed = TradeGraph.directedDf(s, dir)
    val und = directed
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    val cut = und.agg((sum(col("w")).cast("double") / count(lit(1)) / lit(2.0)).as("cut"))
    val e = und.crossJoin(broadcast(cut))
      .filter(col("w").cast("double") >= col("cut"))
      .select(col("a"), col("b"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("nation"))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("nation"))
  }

  val triangleNationsSql: String =
    """WITH d AS (SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      |           FROM lineitem
      |           JOIN orders ON l_orderkey = o_orderkey
      |           JOIN customer ON o_custkey = c_custkey
      |           JOIN supplier ON l_suppkey = s_suppkey
      |           GROUP BY 1, 2),
      |u AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |        CAST(sum(w) AS BIGINT) AS w
      |      FROM d WHERE src <> dst GROUP BY 1, 2),
      |e AS (SELECT a, b FROM u, (SELECT CAST(sum(w) AS DOUBLE) / count(*) / 2.0
      |        AS cut FROM u) t
      |      WHERE CAST(w AS DOUBLE) >= cut),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM e e1 JOIN e e2 ON e1.b = e2.a
      |        JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b)
      |SELECT nation, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM (SELECT unnest([x, y, z]) AS nation FROM tri)
      |GROUP BY nation ORDER BY nation""".stripMargin

  /** Benford first-digit audit — the classic fabricated-numbers
    * screen for financial columns. Digits come from the exact cent
    * value's decimal STRING (an int64 renders identically on both
    * engines; extracting via log10/floor would mis-bin at power-of-10
    * boundaries where log10 lands one ulp low), shares are single
    * exact divisions, and the Benford expectation ln(1+1/d)/ln(10) is
    * the same fixed IEEE chain on both engines. One partial/final
    * count over one scan at any scale. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .select(substring((col("o_totalprice").cast("decimal(18,2)") * lit(100))
        .cast("bigint").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total")).as("share"),
        (log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0))).as("expected"))
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String =
    """SELECT digit, n, CAST(n AS DOUBLE) / total AS share,
      |  ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS expected
      |FROM (SELECT digit, CAST(count(*) AS BIGINT) AS n,
      |        sum(count(*)) OVER () AS total
      |      FROM (SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
      |              * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |            FROM orders)
      |      GROUP BY digit)
      |ORDER BY digit""".stripMargin

  /** Z-order (Morton) clustering key — the multi-dimensional layout
    * trick for tables queried by MORE than one column: interleaving
    * the bits of (customer, order-day) makes rows close in EITHER
    * dimension land close in the one physical sort order, so min/max
    * file statistics prune for both predicates at once (a plain sort
    * prunes for its leading column only). The code is 16 shift/mask
    * terms per dimension — pure codegen'd integer ops, no UDF; at
    * scale the table is written `repartitionByRange(morton)` +
    * sortWithinPartitions and this query IS the write's sort key. */
  /** 16-bit Morton (Z-order) interleave shared by the layout-key
    * query and the locality audit — one definition, so the audit can
    * never measure a different key than the layout writes. */
  private def mortonOf(x: Column, y: Column): Column =
    (0 until 16).map { j =>
      (shiftleft(shiftright(x, j).bitwiseAND(lit(1L)), 2 * j) +
        shiftleft(shiftright(y, j).bitwiseAND(lit(1L)), 2 * j + 1)): Column
    }.reduce(_ + _)

  private def mortonSql(x: String, y: String): String =
    (0 until 16).map { j =>
      s"((($x >> $j) & 1) << ${2 * j}) + ((($y >> $j) & 1) << ${2 * j + 1})"
    }.mkString(" + ")

  def zorderKey(s: SparkSession, dir: String): DataFrame = {
    val morton = mortonOf(col("o_custkey").bitwiseAND(lit(65535L)),
      datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
        .cast("bigint").bitwiseAND(lit(65535L)))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
          .cast("bigint").as("day"),
        morton.as("morton"))
      .orderBy(col("morton"), col("o_orderkey"))
  }

  val zorderKeySql: String =
    s"""SELECT o_orderkey, o_custkey, day,
      |  CAST(${mortonSql("(o_custkey & 65535)", "(day & 65535)")} AS BIGINT)
      |    AS morton
      |FROM (SELECT o_orderkey, o_custkey,
      |        CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS day
      |      FROM orders)
      |ORDER BY morton, o_orderkey""".stripMargin

  /** W15b — Hilbert clustering key over the same (customer,
    * order-day) pair as W15's Z-order: the space-filling layout whose
    * consecutive keys are ALWAYS grid-adjacent — Z-order's
    * bit-interleave takes long diagonal jumps at every power-of-two
    * boundary, so a range scan over a Morton-sorted file reads more
    * unrelated rows than the same scan over a Hilbert-sorted one; at
    * scale this query IS the write's sort key
    * (repartitionByRange(hkey) + sortWithinPartitions, as W15). The
    * key is the library's own codegen'd Catalyst expression
    * ([[graft.functions.HilbertKey]] — 16 rotate/reflect rounds of
    * pure integer ops, native Expression > UDF); the oracle replays
    * the identical rounds in a recursive CTE, and KernelSpec proves
    * the defining unit-step adjacency on the coarse 16×16 lattice
    * (the independent check a round-replaying oracle cannot give). */
  def hilbertKeyQ(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
      .cast("bigint")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), day.as("day"))
      .withColumn("hkey", graft.functions.GraftFunctions.hilbertKey(
        col("o_custkey").bitwiseAND(lit(65535L)),
        col("day").bitwiseAND(lit(65535L))))
      .orderBy(col("hkey"), col("o_orderkey"))
  }

  val hilbertKeySql: String =
    """WITH RECURSIVE base AS (SELECT o_orderkey, o_custkey,
      |    CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS day
      |  FROM orders),
      |h AS (SELECT o_orderkey, o_custkey & 65535 AS xx, day & 65535 AS yy,
      |        CAST(32768 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
      |      FROM base
      |  UNION ALL
      |  SELECT o_orderkey,
      |    CASE WHEN (yy & s) = 0 THEN
      |      CASE WHEN (xx & s) > 0 THEN 65535 - yy ELSE yy END ELSE xx END,
      |    CASE WHEN (yy & s) = 0 THEN
      |      CASE WHEN (xx & s) > 0 THEN 65535 - xx ELSE xx END ELSE yy END,
      |    s // 2,
      |    d + s * s * xor(CASE WHEN (xx & s) > 0 THEN 3 ELSE 0 END,
      |                    CASE WHEN (yy & s) > 0 THEN 1 ELSE 0 END)
      |  FROM h WHERE s > 0)
      |SELECT b.o_orderkey, b.o_custkey, b.day, h.d AS hkey
      |FROM h JOIN base b USING (o_orderkey) WHERE h.s = 0
      |ORDER BY hkey, o_orderkey""".stripMargin

  /** W15c — layout-locality audit: the measured justification for
    * W15b next to W15 — walk each curve over the full 64×64 coarse
    * lattice (stride-1024 points, so the audit exercises the real
    * order-16 keys) in KEY order and measure the spatial step between
    * consecutive cells. Hilbert's defining property shows up as data:
    * every step is exactly one stride (avg = max = 1024); Z-order's
    * bit-interleave shows its diagonal jumps (avg ≈ 2 strides, max =
    * a full-grid 65536 leap at the main diagonal), which is precisely
    * the extra read amplification a range scan pays on a
    * Morton-sorted table. The
    * lattice is generated (4096 rows), the two rankings are windows
    * over it, and the oracle replays the Hilbert rounds in the same
    * recursive CTE as W15b. */
  def layoutLocality(s: SparkSession, dir: String): DataFrame = {
    // the lattice is generated, not read, so Tables.load never ran —
    // make the custom-function registry explicit (idempotent)
    graft.functions.GraftFunctions.register(s)
    val lattice = s.range(0, 4096).toDF("i")
      .select(((col("i") / 64).cast("bigint") * 1024).as("x"),
        ((col("i") % 64) * 1024).as("y"))
    val morton = mortonOf(col("x"), col("y"))
    val keyed = lattice
      .withColumn("hkey", graft.functions.GraftFunctions.hilbertKey(col("x"), col("y")))
      .withColumn("mkey", morton)
    def steps(keyCol: String, label: String): DataFrame = {
      val w = Window.orderBy(col(keyCol))
      keyed
        .withColumn("dx", abs(col("x") - lag(col("x"), 1).over(w)))
        .withColumn("dy", abs(col("y") - lag(col("y"), 1).over(w)))
        .filter(col("dx").isNotNull)
        .agg(count(lit(1)).as("n_steps"),
          round(avg(col("dx") + col("dy")), 2).as("avg_step"),
          max(col("dx") + col("dy")).as("max_step"))
        .select(lit(label).as("curve"), col("n_steps"), col("avg_step"),
          col("max_step"))
    }
    // the lattice is 4096 rows — a global window over it is metadata,
    // not a fact-table sort (the documented bounded-relation exception)
    steps("hkey", "hilbert").unionAll(steps("mkey", "morton"))
      .orderBy(col("curve"))
  }

  val layoutLocalitySql: String =
    """WITH RECURSIVE lat AS (SELECT (CAST(range AS BIGINT) // 64) * 1024 AS x,
      |    (CAST(range AS BIGINT) % 64) * 1024 AS y
      |  FROM range(0, 4096)),
      |h AS (SELECT x, y, x AS xx, y AS yy,
      |        CAST(32768 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
      |      FROM lat
      |  UNION ALL
      |  SELECT x, y,
      |    CASE WHEN (yy & s) = 0 THEN
      |      CASE WHEN (xx & s) > 0 THEN 65535 - yy ELSE yy END ELSE xx END,
      |    CASE WHEN (yy & s) = 0 THEN
      |      CASE WHEN (xx & s) > 0 THEN 65535 - xx ELSE xx END ELSE yy END,
      |    s // 2,
      |    d + s * s * xor(CASE WHEN (xx & s) > 0 THEN 3 ELSE 0 END,
      |                    CASE WHEN (yy & s) > 0 THEN 1 ELSE 0 END)
      |  FROM h WHERE s > 0),
      |hk AS (SELECT x, y, d AS hkey FROM h WHERE s = 0),
      |mk AS (SELECT x, y,
      |    CAST(MORTON_TERMS AS BIGINT) AS mkey
      |  FROM lat),
      |hs AS (SELECT abs(x - lag(x) OVER (ORDER BY hkey))
      |        + abs(y - lag(y) OVER (ORDER BY hkey)) AS step FROM hk),
      |ms AS (SELECT abs(x - lag(x) OVER (ORDER BY mkey))
      |        + abs(y - lag(y) OVER (ORDER BY mkey)) AS step FROM mk)
      |SELECT 'hilbert' AS curve, count(step) AS n_steps,
      |  round(avg(step), 2) AS avg_step, max(step) AS max_step FROM hs
      |UNION ALL
      |SELECT 'morton', count(step), round(avg(step), 2), max(step) FROM ms
      |ORDER BY curve""".stripMargin
      .replace("MORTON_TERMS", mortonSql("x", "y"))

  /** Two-sample Kolmogorov-Smirnov statistic — the nonparametric
    * drift/shift audit next to [[psiDrift]]'s binned divergence: the
    * max gap between the empirical CDFs of returned ('R') vs current
    * ('N') line prices. Prices quantize to bounded bins first, so the
    * cumulative window runs over a BOUNDED aggregate (~10³ rows), not
    * the fact table. Each CDF value is one exact-integer division
    * (cum/N, both exact → IEEE-identical); the statistic is a MAX — a
    * selection, not an accumulation — so no float-order drift on
    * either engine. */
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    val binned = Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select((col("l_returnflag") === "R").cast("int").as("is_r"),
        floor(col("l_extendedprice") / 100).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(sum(col("is_r")).as("n1"), sum(lit(1) - col("is_r")).as("n2"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = binned.agg(sum(col("n1")).as("tot1"), sum(col("n2")).as("tot2"))
    binned
      .withColumn("c1", sum(col("n1")).over(w))
      .withColumn("c2", sum(col("n2")).over(w))
      .crossJoin(broadcast(tot))
      .agg(max(col("tot1")).cast("long").as("n1"),
        max(col("tot2")).cast("long").as("n2"),
        max(abs(col("c1").cast("double") / col("tot1").cast("double") -
          col("c2").cast("double") / col("tot2").cast("double"))).as("ks_d"))
  }

  val ksTestSql: String =
    """WITH binned AS (SELECT CAST(floor(l_extendedprice / 100) AS BIGINT) AS bin,
      |         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n1,
      |         sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS n2
      |       FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
      |cum AS (SELECT bin, n1, n2,
      |          sum(n1) OVER (ORDER BY bin
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
      |          sum(n2) OVER (ORDER BY bin
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
      |          sum(n1) OVER () AS tot1, sum(n2) OVER () AS tot2
      |        FROM binned)
      |SELECT CAST(max(tot1) AS BIGINT) AS n1, CAST(max(tot2) AS BIGINT) AS n2,
      |  max(abs(CAST(c1 AS DOUBLE) / CAST(tot1 AS DOUBLE) -
      |          CAST(c2 AS DOUBLE) / CAST(tot2 AS DOUBLE))) AS ks_d
      |FROM cum""".stripMargin

  /** Two-proportion z-test — the experimentation readout: per-user
    * conversion (≥14 purchase events — the engagement bar; an
    * any-event definition converts EVERYONE at our event density and
    * degenerates the pooled variance to 0) across a deterministic
    * split (user_id parity), pooled-variance z statistic. Counts are
    * exact (distinct users via groupBy, conversions via threshold
    * flag); the z formula is one fixed IEEE chain written identically
    * on both engines, and the degenerate all/none-converted case is
    * filtered BEFORE the division (ANSI division-by-zero guard, both
    * engines). At scale this is two keyed aggregates (user, then
    * segment) and a two-row reduce — no window at all. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .select(pmod(col("user_id"), lit(2)).as("seg"), col("user_id"),
        (col("event_type") === "purchase").cast("int").as("is_p"))
      .groupBy(col("seg"), col("user_id"))
      .agg((sum(col("is_p")) >= 14).cast("int").as("conv"))
    val Dd = (c: Column) => c.cast("double")
    perUser
      .agg(
        sum(when(col("seg") === 0, 1).otherwise(0)).as("n1"),
        sum(when(col("seg") === 0, col("conv")).otherwise(0)).as("c1"),
        sum(when(col("seg") === 1, 1).otherwise(0)).as("n2"),
        sum(when(col("seg") === 1, col("conv")).otherwise(0)).as("c2"))
      .filter(col("n1") > 0 && col("n2") > 0 &&
        col("c1") + col("c2") > 0 && col("c1") + col("c2") < col("n1") + col("n2"))
      .select(col("n1").cast("long").as("n1"), col("c1").cast("long").as("c1"),
        col("n2").cast("long").as("n2"), col("c2").cast("long").as("c2"),
        (Dd(col("c1")) / Dd(col("n1"))).as("p1"),
        (Dd(col("c2")) / Dd(col("n2"))).as("p2"),
        ((Dd(col("c1")) / Dd(col("n1")) - Dd(col("c2")) / Dd(col("n2"))) /
          sqrt((Dd(col("c1")) + Dd(col("c2"))) / (Dd(col("n1")) + Dd(col("n2"))) *
            (lit(1.0) - (Dd(col("c1")) + Dd(col("c2"))) / (Dd(col("n1")) + Dd(col("n2")))) *
            (lit(1.0) / Dd(col("n1")) + lit(1.0) / Dd(col("n2"))))).as("z"))
  }

  val abTestSql: String =
    """WITH pu AS (SELECT user_id % 2 AS seg, user_id,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           >= 14 THEN 1 ELSE 0 END AS conv
      |       FROM events GROUP BY 1, 2),
      |agg AS (SELECT
      |    sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN seg = 0 THEN conv ELSE 0 END) AS c1,
      |    sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS n2,
      |    sum(CASE WHEN seg = 1 THEN conv ELSE 0 END) AS c2
      |  FROM pu
      |  HAVING sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END) > 0
      |    AND sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END) > 0
      |    AND sum(conv) > 0 AND sum(conv) < count(*))
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
      |  CAST(n2 AS BIGINT) AS n2, CAST(c2 AS BIGINT) AS c2,
      |  CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
      |  CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
      |  (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
      |     CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
      |    sqrt((CAST(c1 AS DOUBLE) + CAST(c2 AS DOUBLE)) /
      |           (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) *
      |         (1.0 - (CAST(c1 AS DOUBLE) + CAST(c2 AS DOUBLE)) /
      |           (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
      |         (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) AS z
      |FROM agg""".stripMargin

  /** Per-brand skyline (Pareto frontier) — the parts no same-brand
    * part beats on BOTH price (lower-better) and size (higher-better):
    * the multi-criteria shortlist query. Expressed as a blocked
    * dominance anti-join: the quadratic term is bounded by the block
    * (brand) size, exactly like [[basketRules]]' within-basket join —
    * never corpus². Strict dominance (≥/≤ with one strict) keeps
    * tied points on the frontier, so the result is a pure set
    * predicate — no float accumulation at all, only comparisons of
    * identical stored doubles. */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
    val other = p.select(col("p_brand").as("b_brand"),
      col("p_retailprice").as("b_price"), col("p_size").as("b_size"))
    p.join(other,
        col("b_brand") === col("p_brand") &&
          col("b_price") <= col("p_retailprice") && col("b_size") >= col("p_size") &&
          (col("b_price") < col("p_retailprice") || col("b_size") > col("p_size")),
        "left_anti")
      .orderBy(col("p_brand"), col("p_partkey"))
  }

  val skylineSql: String =
    """SELECT p_brand, p_partkey, p_retailprice, p_size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_brand = a.p_brand
      |    AND b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
      |ORDER BY p_brand, p_partkey""".stripMargin

  /** W36 — bounded-hop weighted shortest path (Bellman-Ford, 3
    * relaxation rounds) from nation 0 over the contracted trade graph
    * (W9's edge build): edge cost is the exact integer 1000000 DIV
    * trade-count, so heavily-trading nation pairs are cheap hops and
    * the 3-round result is the exact min-cost over all ≤3-edge paths —
    * deterministic pure-integer min-plus algebra, no float anywhere.
    * Scale shape: the corpus-sized work is the one edge contraction
    * (fact-table join + group); the relaxation loop iterates a
    * #nations-sized frontier against a #nations²-bounded edge list —
    * metadata, mirrored in the oracle as three unrolled CTE rounds
    * (recursive SQL forbids the per-round min aggregate). */
  def shortestPath(s: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val inf = 1000000000000L
    // contracted edges from the process-wide TradeGraph stage (ONE
    // corpus star join per sweep); ≤|nations|² local relation — the
    // relaxation rounds re-derive it lazily, no persist needed
    val edges = TradeGraph.directedDf(s, dir)
      .select(col("src"), col("dst"), expr("1000000L DIV w").as("cost"))
    val nations = Tables.nation(s, dir).select(col("n_nationkey").as("node"))
    var dist = nations.select(col("node"),
      when(col("node") === 0, 0L).otherwise(lit(inf)).as("dist"))
    for (_ <- 1 to rounds) {
      val relax = dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("cost")).as("cand"))
        .groupBy(col("node")).agg(min(col("cand")).as("cand"))
      dist = dist.join(relax, Seq("node"), "left")
        .select(col("node"),
          least(col("dist"), coalesce(col("cand"), lit(inf))).as("dist"))
    }
    dist.select(col("node"), col("dist"),
        when(col("dist") < inf, 1).otherwise(0).as("reachable"))
      .orderBy(col("node"))
  }

  val shortestPathSql: String =
    """WITH e AS (SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      |           FROM lineitem
      |           JOIN orders ON l_orderkey = o_orderkey
      |           JOIN customer ON o_custkey = c_custkey
      |           JOIN supplier ON l_suppkey = s_suppkey
      |           GROUP BY 1, 2),
      |c AS (SELECT src, dst, CAST(1000000 // w AS BIGINT) AS cost FROM e),
      |d0 AS (SELECT n_nationkey AS node,
      |         CAST(CASE WHEN n_nationkey = 0 THEN 0
      |           ELSE 1000000000000 END AS BIGINT) AS dist
      |       FROM nation),
      |d1 AS (SELECT d0.node,
      |         least(d0.dist, coalesce(r.cand, 1000000000000)) AS dist
      |       FROM d0 LEFT JOIN (SELECT dst AS node,
      |           CAST(min(d0.dist + cost) AS BIGINT) AS cand
      |         FROM d0 JOIN c ON d0.node = c.src GROUP BY dst) r
      |         USING (node)),
      |d2 AS (SELECT d1.node,
      |         least(d1.dist, coalesce(r.cand, 1000000000000)) AS dist
      |       FROM d1 LEFT JOIN (SELECT dst AS node,
      |           CAST(min(d1.dist + cost) AS BIGINT) AS cand
      |         FROM d1 JOIN c ON d1.node = c.src GROUP BY dst) r
      |         USING (node)),
      |d3 AS (SELECT d2.node,
      |         least(d2.dist, coalesce(r.cand, 1000000000000)) AS dist
      |       FROM d2 LEFT JOIN (SELECT dst AS node,
      |           CAST(min(d2.dist + cost) AS BIGINT) AS cand
      |         FROM d2 JOIN c ON d2.node = c.src GROUP BY dst) r
      |         USING (node))
      |SELECT node, dist,
      |  CAST(CASE WHEN dist < 1000000000000 THEN 1 ELSE 0 END AS INT)
      |    AS reachable
      |FROM d3 ORDER BY node""".stripMargin

  /** W68 — Herfindahl-Hirschman concentration: per market segment, how
    * concentrated is order revenue across customers? HHI = Σᵢsᵢ² over
    * revenue shares (the antitrust/market-dominance index; 1/HHI is
    * the "effective number" of customers) — the squared-share
    * companion to W17's Gini (rank-based) and W62's Theil (entropy
    * based): HHI needs NO sort and NO transcendental, so it is the
    * one concentration measure that is a pure two-aggregate chain.
    * Σcᵢ² rides decimal(38,0) (customer revenue cents squared passes
    * int64 at sf ~1) and HHI = Σc²/S² is one IEEE chain over two
    * exact integers. Two keyed aggregates over one fact pass. */
  def hhi(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")).as("cents"))
    perCust.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("sc"),
        sum((col("cents").cast("decimal(38,0)") * col("cents"))
          .cast("decimal(38,0)")).as("sq"))
      .filter(col("sc") > 0)
      .select(col("c_mktsegment"), col("n_customers"),
        round(col("sq").cast("double") /
          (col("sc").cast("double") * col("sc").cast("double")), 6)
          .as("hhi"),
        round(col("sc").cast("double") * col("sc").cast("double") /
          col("sq").cast("double"), 2).as("effective_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val hhiSql: String =
    """WITH pc AS (SELECT c_mktsegment, c_custkey,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |g AS (SELECT c_mktsegment, count(*) AS n_customers,
      |        CAST(sum(cents) AS HUGEINT) AS sc,
      |        sum(CAST(cents AS HUGEINT) * cents) AS sq
      |      FROM pc GROUP BY 1)
      |SELECT c_mktsegment, n_customers,
      |  round(CAST(sq AS DOUBLE) / (CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)), 6)
      |    AS hhi,
      |  round(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(sq AS DOUBLE), 2)
      |    AS effective_customers
      |FROM g WHERE sc > 0 ORDER BY c_mktsegment""".stripMargin

  /** W69 — G-test of independence (likelihood-ratio χ²): the
    * log-likelihood alternative to W7's Pearson χ² over the SAME
    * lang × source contingency — G = 2ΣO·ln(O/E) is additive under
    * table collapsing (Pearson's isn't), which is why hierarchical
    * log-linear audits prefer it. Zero cells contribute 0 (lim x·ln x
    * = 0), so only observed cells enter; each cell's term quantizes
    * to 1e-9 fixed point from exact integer marginals and
    * integer-sums order-free (the KL/entropy-family convention). One
    * corpus aggregate; margins re-aggregate the bounded cell grid. */
  def gTest(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val cells = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o")).persistScoped() // margins + term pass
    val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("nr"),
      countDistinct(col("source")).as("nc"))
    cells.join(broadcast(rowT), Seq("lang"))
      .join(broadcast(colT), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("nr"), col("nc"),
        expr("CAST(floor(2.0 * o * ln(CAST(o AS DOUBLE) * n / " +
          "(CAST(rt AS DOUBLE) * ct)) * 1e9) AS BIGINT)").as("gq"))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum(col("gq")).as("gqs"))
      .select(col("n").as("n_docs"),
        ((col("nr") - 1) * (col("nc") - 1)).cast("long").as("df"),
        (col("gqs").cast("double") / 1e9).as("g_stat"))
  }

  val gTestSql: String =
    """WITH c AS (SELECT lang, source, count(*) AS o FROM documents
      |           GROUP BY 1, 2),
      |r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY 1),
      |s AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |        count(DISTINCT lang) AS nr, count(DISTINCT source) AS nc
      |      FROM c),
      |q AS (SELECT t.n, t.nr, t.nc,
      |        CAST(floor(2.0 * c.o * ln(CAST(c.o AS DOUBLE) * t.n /
      |          (CAST(r.rt AS DOUBLE) * s.ct)) * 1e9) AS BIGINT) AS gq
      |      FROM c JOIN r USING (lang) JOIN s USING (source), t)
      |SELECT n AS n_docs,
      |  CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
      |  CAST(CAST(sum(gq) AS BIGINT) AS DOUBLE) / 1e9 AS g_stat
      |FROM q GROUP BY n, nr, nc""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hhi" -> (hhi _),
    "q_gtest" -> (gTest _),
    "q_shortest_path" -> ((s: SparkSession, d: String) => shortestPath(s, d)),
    "q_skyline" -> (skyline _),
    "q_ks_test" -> (ksTest _),
    "q_ab_test" -> (abTest _),
    "q_zorder_key" -> (zorderKey _),
    "q_hilbert_key" -> (hilbertKeyQ _),
    "q_layout_locality" -> (layoutLocality _),
    "q_benford" -> (benfordAudit _),
    "q_psi_drift" -> (psiDrift _),
    "q_triangle_nations" -> (triangleNations _),
    "q_scd2_build" -> (scd2Build _),
    "q_basket_rules" -> ((s, d) => basketRules(s, d)),
    "q_dict_redact" -> (dictRedact _),
    "q_doc_packing" -> ((s, d) => docPacking(s, d)),
    "q_chi2_independence" -> (chi2Independence _),
    "q_cramers_theil" -> (cramersTheil _),
    "q_fk_audit" -> (fkAudit _),
    "q_pagerank_nations" -> ((s, d) => pagerankNations(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q_hhi" -> hhiSql,
    "q_gtest" -> gTestSql,
    "q_shortest_path" -> shortestPathSql,
    "q_skyline" -> skylineSql,
    "q_ks_test" -> ksTestSql,
    "q_ab_test" -> abTestSql,
    "q_zorder_key" -> zorderKeySql,
    "q_hilbert_key" -> hilbertKeySql,
    "q_layout_locality" -> layoutLocalitySql,
    "q_benford" -> benfordAuditSql,
    "q_psi_drift" -> psiDriftSql,
    "q_triangle_nations" -> triangleNationsSql,
    "q_scd2_build" -> scd2BuildSql,
    "q_basket_rules" -> basketRulesSql,
    "q_dict_redact" -> dictRedactSql,
    "q_doc_packing" -> docPackingSql,
    "q_chi2_independence" -> chi2IndependenceSql,
    "q_cramers_theil" -> cramersTheilSql,
    "q_fk_audit" -> fkAuditSql,
    "q_pagerank_nations" -> pagerankNationsSql,
  )
}
