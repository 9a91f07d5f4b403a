package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Join inventory (SURVEY.md §2B J1-J7): shuffle equi-join, broadcast
  * hash join, outer joins, semi/anti (the reference's count-compare
  * mismatch detection shape, A6), theta/range join, as-of join, bounded
  * cross join, and a star-schema multi-join.
  *
  * Scale posture: dimension tables (region/nation/customer/supplier/
  * part) are broadcast — either explicitly ([[broadcastJoin]]) or by
  * Catalyst's autoBroadcastJoinThreshold; the fact-fact joins shuffle
  * on their equi keys and AQE handles skew at real scale. The as-of
  * join avoids a cross product by equi-joining on the user key first
  * and resolving "latest ≤ ts" with a per-event window — at 100 TB the
  * same plan holds because the shuffle key (user) distributes evenly.
  */
object Joins {
  import Conv._

  /** J1 — inner equi-join orders ⋈ customer (shuffle or broadcast per
    * Catalyst), aggregated per market segment. */
  def innerJoin(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))

  val innerJoinSql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** J2 — explicit broadcast hash join: part is a small dimension, so
    * ship it to every executor instead of shuffling 600k lineitem rows.
    * Plan shape (BroadcastHashJoin) is asserted in JoinPlanSpec. */
  def broadcastJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        moneySum(col("l_extendedprice")).as("ext_price"))
      .orderBy(col("p_brand"))

  val broadcastJoinSql: String =
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS ext_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** J3a — left outer: every customer, with order stats or zeros. */
  def leftOuterJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_big_orders"),
        round(coalesce(sum(dec2(col("o_totalprice"))), expr("CAST(0.00 AS DECIMAL(18,2))")), 2).cast("double").as("big_total"))
      .orderBy(col("c_custkey"))

  val leftOuterJoinSql: String =
    """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_big_orders,
      |  CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), CAST(0.00 AS DECIMAL(18,2))), 2) AS DOUBLE) AS big_total
      |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
      |  ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** J3b — right outer (mirror of left; kept to exercise the plan path). */
  def rightOuterJoin(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_pending"))
      .orderBy(col("c_custkey"))

  val rightOuterJoinSql: String =
    """SELECT c_custkey, c_mktsegment, CAST(count(o_orderkey) AS BIGINT) AS n_pending
      |FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
      |RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin

  /** J4a — left semi join: customers that have a pending order (EXISTS). */
  def semiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val semiJoinSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** J4b — left anti join: customers with NO pending order — the
    * reference's validation mismatch-detection shape (A6). */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val antiJoinSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** J5 — theta join: equi key (nation) plus a non-equi condition;
    * Catalyst extracts the equi part for the shuffle and evaluates the
    * range predicate post-match. */
  def thetaJoin(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir).as("s")
      .join(Tables.customer(s, dir).as("c"),
        col("s.s_nationkey") === col("c.c_nationkey") &&
        col("s.s_acctbal") > col("c.c_acctbal"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("s_nationkey"))

  val thetaJoinSql: String =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM supplier JOIN customer
      |  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** J6 — as-of join: for each event, the latest order of that user at
    * or before the event time. Spark lacks a native as-of operator, so
    * compose: equi-join on the user key (bounds the match set), filter
    * to o_orderdate <= ts, then keep the max per event via window
    * row_number — no cross product, shuffle key is the user/event id. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("event_id") < 3000)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"))
    val joined = ev.join(o,
      col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc)
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("o_orderdate")).as("last_order_epoch"))
      .orderBy(col("event_id"))
  }

  val asofJoinSql: String =
    """SELECT e.event_id, e.user_id,
      |  CAST(floor(epoch(max(o.o_orderdate))) AS BIGINT) AS last_order_epoch
      |FROM events e JOIN orders o
      |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |WHERE e.event_id < 3000
      |GROUP BY e.event_id, e.user_id
      |ORDER BY e.event_id""".stripMargin

  /** J6b — FORWARD as-of join with a tolerance horizon: for each
    * purchase, the same user's EARLIEST click strictly after it but
    * within 24 hours (the merge_asof direction='forward',
    * tolerance=… semantics — "what did this touchpoint convert
    * into"). The horizon bound is what keeps the shape scale-safe:
    * the equi key bounds the match set and the tolerance bounds it
    * in time, so the join never degenerates toward
    * each-event×all-future. The per-purchase pick is ONE
    * partial/final min aggregate (argmin convention: map-side
    * combined, one row per purchase crosses the shuffle — no window
    * sort at all). Times compare at whole-second epoch (the
    * cross-engine precision rule). */
  def asofForwardJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("te"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("te"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("te").as("tc"))
    p.join(c,
        col("user_id") === col("cu") &&
        col("tc") > col("te") && col("tc") <= col("te") + lit(86400L))
      .groupBy(col("event_id"), col("user_id"))
      .agg(min(col("tc")).as("next_click_epoch"))
      .orderBy(col("event_id"))
  }

  val asofForwardJoinSql: String =
    """SELECT p.event_id, p.user_id,
      |  CAST(min(floor(epoch(c.ts))) AS BIGINT) AS next_click_epoch
      |FROM events p JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      |  AND floor(epoch(c.ts)) > floor(epoch(p.ts))
      |  AND floor(epoch(c.ts)) <= floor(epoch(p.ts)) + 86400
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin

  /** J6d — merge as-of join through the engine's own PHYSICAL
    * operator ([[graft.plans.AsofJoinExec]]): same backward
    * at-or-before semantics as q_join_asof, but carrying PAYLOAD
    * columns from the matched row (orderkey + exact price cents) and
    * LEFT-OUTER (events with no prior order emit null-extended) —
    * the two things the composed join+window form pays a pair-stream
    * shuffle for. The custom operator's merge cursor emits one row
    * per event in one pass; the only shuffled rows are the two
    * inputs plus the 3000-row result sort (runtime-asserted in
    * AsofSpec). Date ties within a user break on o_orderkey (the
    * operator's explicit tiebreak ordering), so the pick is
    * deterministic on both engines. */
  /** Shared input prep for q_join_asof_merge and AsofSpec's composed
    * reference — ONE definition so the operator and its certifying
    * spec can never silently test different inputs. */
  private[graft] def asofMergeInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir).filter(col("event_id") < 3000)
      .select(col("event_id"), col("user_id"),
        // the operator requires ONE time type on both sides (no
        // silent coercion); events carries µs TIMESTAMP, orders' date
        // parquet type differs — align explicitly
        col("ts").cast("timestamp").as("ts"))
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("o_orderdate"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
          .as("price_cents"))
    (ev, o)
  }

  def asofMergeJoin(s: SparkSession, dir: String): DataFrame = {
    val (ev, o) = asofMergeInputs(s, dir)
    graft.plans.Asof.backward(ev, o,
        on = Seq("user_id" -> "o_custkey"), time = "ts" -> "o_orderdate",
        tiebreak = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("o_orderdate")).as("last_order_epoch"),
        col("o_orderkey").as("last_orderkey"),
        col("price_cents").as("last_price_cents"))
      .orderBy(col("event_id"))
  }

  val asofMergeJoinSql: String =
    """WITH e AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_id < 3000),
      |m AS (SELECT e.event_id, o.o_orderkey, o.o_orderdate,
      |        CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |          AS price_cents,
      |        row_number() OVER (PARTITION BY e.event_id
      |          ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |      FROM e JOIN orders o
      |        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
      |SELECT e.event_id, e.user_id,
      |  CAST(floor(epoch(m.o_orderdate)) AS BIGINT) AS last_order_epoch,
      |  m.o_orderkey AS last_orderkey, m.price_cents AS last_price_cents
      |FROM e LEFT JOIN m ON m.event_id = e.event_id AND m.rn = 1
      |ORDER BY e.event_id""".stripMargin

  /** J7 — bounded cross join (region × nation). */
  def crossJoinQ(s: SparkSession, dir: String): DataFrame =
    Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
      .crossJoin(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name")))
      .orderBy(col("r_regionkey"), col("n_nationkey"))

  val crossJoinSql: String =
    """SELECT r_regionkey, r_name, n_nationkey, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_regionkey, n_nationkey""".stripMargin

  /** Star-schema multi-join (TPC-H Q5 shape): lineitem ⋈ orders ⋈
    * customer ⋈ nation ⋈ region with dimension filters. nation/region
    * broadcast automatically; the lineitem⋈orders shuffle carries only
    * pruned columns. */
  def starJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_regionkey") < 3)
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(dec2(col("l_extendedprice")) * (expr("CAST(1.00 AS DECIMAL(3,2))") - dec2(col("l_discount")))), 2).cast("double").as("revenue"))
      .orderBy(col("r_name"), col("n_name"))

  val starJoinSql: String =
    """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_regionkey < 3
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** X6 batch twin — time-bounded interval self-join on events: each
    * purchase matched to the same user's earlier events within 1 hour
    * (the batch semantics of streaming.EventStreams.streamStreamJoin).
    * Equi key (user) bounds the pair space; the interval predicate is
    * evaluated post-match on whole-second epochs. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("es"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("es").as("p_es"))
    val o = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_id").as("o_id"), col("user_id").as("o_user"),
        col("event_type").as("o_type"), col("es").as("o_es"))
    p.join(o,
        col("user_id") === col("o_user") &&
        col("o_es") >= col("p_es") - 3600L && col("o_es") <= col("p_es"))
      .select(col("p_id"), col("user_id"), col("o_id"), col("o_type"))
      .orderBy(col("p_id"), col("o_id"))
  }

  val intervalJoinSql: String =
    """SELECT p.event_id AS p_id, p.user_id, o.event_id AS o_id,
      |  o.event_type AS o_type
      |FROM (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
      |      FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT event_id, user_id, event_type,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS es
      |      FROM events WHERE event_type <> 'purchase') o
      |  ON p.user_id = o.user_id AND o.es >= p.es - 3600 AND o.es <= p.es
      |ORDER BY p_id, o_id""".stripMargin

  /** J8 — salt-replicated skew join (C5's join-side sibling): when one
    * join key is hot enough that a single reducer drowns, salt the
    * FACT side with a deterministic hash-derived salt and REPLICATE
    * each dimension row across all k salts, joining on (key, salt) —
    * the hot key's rows now spread over k reducers. The result is
    * EXACTLY the plain join (salting only re-routes work), so the
    * oracle is the unsalted join; per-user aggregation keeps output
    * bounded. AQE's skew-join handles moderate skew automatically;
    * explicit salting is the form that also survives a single
    * mega-key. */
  def saltedJoin(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val fact = Tables.events(s, dir)
      .select(col("user_id"), col("value"), col("event_id"))
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(k)))
    val dim = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("n_types"))
    val dimSalted = dim.crossJoin(
      s.range(0, k).select(col("id").cast("bigint").as("salt")))
    fact.join(dimSalted, Seq("user_id", "salt"))
      .groupBy(col("user_id"), col("n_types"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("bigint")).as("cents"))
      .select(col("user_id"), col("n_types"), col("n_events"), col("cents"))
      .orderBy(col("user_id"))
  }

  val saltedJoinSql: String =
    """WITH dim AS (SELECT user_id, count(DISTINCT event_type) AS n_types
      |             FROM events GROUP BY user_id)
      |SELECT e.user_id, CAST(n_types AS BIGINT) AS n_types,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events e JOIN dim ON e.user_id = dim.user_id
      |GROUP BY e.user_id, n_types ORDER BY e.user_id""".stripMargin

  /** J10 — KEYLESS banded range join: every error event matched to all
    * purchases within ±600 s corpus-wide — no equi-key exists, which is
    * where a naive plan degenerates to a broadcast-nested-loop or
    * cartesian product. The band trick restores an equi-join: each
    * purchase belongs to exactly one 60 s band, each error probes its
    * own band ±1 (a 3-row narrow explode on the PROBE side only), and
    * the residual |Δt| ≤ 600 predicate refines after the hash join.
    * Pairs are already unique (one band per purchase), so no distinct.
    * At 100 TB this is THE temporal-correlation plan: shuffle volume
    * is rows×3, never rows². JoinPlanSpec asserts no
    * BroadcastNestedLoopJoin/CartesianProduct survives. Output is
    * aggregated per error event (match count + nearest gap), bounded
    * by the error-side row count. */
  def rangeBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("sec").as("p_sec"),
        floor(col("sec") / 600L).as("band"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("sec").as("e_sec"))
      .withColumn("band", explode(array(
        floor(col("e_sec") / 600L) - 1, floor(col("e_sec") / 600L),
        floor(col("e_sec") / 600L) + 1)))
    errors.join(purchases, Seq("band"))
      .filter(abs(col("p_sec") - col("e_sec")) <= 600L)
      .groupBy(col("e_id"))
      .agg(count(lit(1)).as("n_purchases"),
        min(abs(col("p_sec") - col("e_sec"))).as("nearest_gap"))
      .orderBy(col("e_id"))
  }

  val rangeBucketJoinSql: String =
    """WITH ev AS (SELECT event_id, event_type,
      |              CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |p AS (SELECT event_id AS p_id, sec AS p_sec FROM ev
      |      WHERE event_type = 'purchase'),
      |e AS (SELECT event_id AS e_id, sec AS e_sec FROM ev
      |      WHERE event_type = 'error')
      |SELECT e_id, count(*) AS n_purchases,
      |  CAST(min(abs(p_sec - e_sec)) AS BIGINT) AS nearest_gap
      |FROM e JOIN p ON abs(p_sec - e_sec) <= 600
      |GROUP BY e_id ORDER BY e_id""".stripMargin

  /** J6c — NEAREST as-of join, completing the family (J6 backward,
    * J6b forward): each error event matched to the temporally CLOSEST
    * purchase of the same user, either direction, ties to the earlier
    * purchase. The argmin is ONE partial/final
    * min(struct(gap, p_sec, p_id)) aggregate after the user-keyed
    * equi-join — no window sort, no cross product; the match set is
    * bounded by the user key exactly like J6. */
  def asofNearestJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id"), col("sec").as("e_sec"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("sec").as("p_sec"))
    e.join(p, col("user_id") === col("p_user"))
      .groupBy(col("e_id"), col("user_id"))
      .agg(min(struct(abs(col("p_sec") - col("e_sec")).as("gap"),
        col("p_sec"), col("p_id"))).as("m"))
      .select(col("e_id"), col("user_id"), col("m.p_id").as("p_id"),
        col("m.gap").as("gap_sec"))
      .orderBy(col("e_id"))
  }

  val asofNearestJoinSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |              CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |e AS (SELECT event_id AS e_id, user_id, sec AS e_sec FROM ev
      |      WHERE event_type = 'error'),
      |p AS (SELECT event_id AS p_id, user_id AS p_user, sec AS p_sec FROM ev
      |      WHERE event_type = 'purchase'),
      |r AS (SELECT e_id, user_id, p_id, abs(p_sec - e_sec) AS gap_sec,
      |        row_number() OVER (PARTITION BY e_id
      |          ORDER BY abs(p_sec - e_sec), p_sec, p_id) AS rn
      |      FROM e JOIN p ON user_id = p_user)
      |SELECT e_id, user_id, p_id, gap_sec FROM r WHERE rn = 1
      |ORDER BY e_id""".stripMargin

  /** J11 — grid-bucketed spatial nearest-neighbor join: for every
    * customer, the nearest supplier within 50 km (haversine), without
    * ever forming the customer × supplier cross product. Coordinates
    * are deterministic synthetic points (two md5 coins per key → lat ∈
    * [40, 50), lon ∈ [0, 10) — the fixtures carry no geo columns), so
    * both engines derive the identical point set.
    *
    * Scale shape — the standard geo-join decomposition: every point
    * buckets into a 1°×1° grid cell; suppliers land in their own cell,
    * each customer probes its 3×3 cell neighborhood (one 9-row
    * explode), and the candidate join is a plain EQUI-join on (cell_y,
    * cell_x) — never a cross join, never a theta join. The 3×3 ring
    * provably covers the 50 km radius at these latitudes (50 km ≤
    * 0.45° lat; ≤ 0.70° lon at lat 50.45° where 1° lon ≈ 70.9 km), so
    * pruning loses no candidate. Per-probe work is bounded by point
    * density × 9 cells at ANY corpus size; at 100 TB both sides
    * hash-partition on the cell key and urban-density skew gets the
    * standard salt treatment (q_join_salted's lever). Nearest = one
    * argmin aggregate via min(struct(dist, key)); distance quantizes
    * to whole meters (floor — the cross-engine convention) so the
    * tie-break is exact in both engines. Customers with no supplier
    * inside the radius drop out (declared bounded-radius semantics —
    * an unbounded nearest would need a second escalating ring pass). */
  /** Synthetic deterministic geography shared by the spatial operators
    * (the fixtures carry no geo columns): two md5 coins per key → lat ∈
    * [40, 50), lon ∈ [0, 10), bit-identical in Spark and DuckDB. */
  private def geoCoin(prefix: String, key: Column, off: Int): Column =
    conv(substring(md5(concat(lit(prefix), key.cast("string"))), off, 8),
      16, 10).cast("long")
  private[queries] def geoLat(prefix: String, key: Column): Column =
    lit(40.0) + (geoCoin(prefix, key, 1) % 1000000L) / 1e6 * 10.0
  private[queries] def geoLon(prefix: String, key: Column): Column =
    (geoCoin(prefix, key, 9) % 1000000L) / 1e6 * 10.0

  /** 3×3 cell-ring explode shared by the grid operators (watershed,
    * DBSCAN): one row per (kept columns, neighbor cell), the neighbor
    * coordinates emitted under (outY, outX). Input must carry jy/jx;
    * they are consumed by the explode and dropped unless re-listed in
    * `keep`. */
  private def ring3x3(df: DataFrame, keep: Seq[String],
      outY: String, outX: String): DataFrame = df
    .select(keep.map(col) :+ explode(expr("transform(sequence(0, 8), i -> " +
      "named_struct('ty', CAST(jy + i div 3 - 1 AS INT), " +
      "'tx', CAST(jx + i % 3 - 1 AS INT)))")).as("t"): _*)
    .select(keep.map(col) :+ col("t.ty").as(outY) :+ col("t.tx").as(outX): _*)

  def spatialGridJoin(s: SparkSession, dir: String): DataFrame = {
    def latOf(prefix: String, key: Column): Column = geoLat(prefix, key)
    def lonOf(prefix: String, key: Column): Column = geoLon(prefix, key)
    val cust = Tables.customer(s, dir).select(col("c_custkey"),
        latOf("geo|", col("c_custkey")).as("clat"),
        lonOf("geo|", col("c_custkey")).as("clon"))
    val supp = Tables.supplier(s, dir).select(col("s_suppkey"),
        latOf("sgeo|", col("s_suppkey")).as("slat"),
        lonOf("sgeo|", col("s_suppkey")).as("slon"))
      .withColumn("jy", floor(col("slat")).cast("int"))
      .withColumn("jx", floor(col("slon")).cast("int"))
    val probes = cust
      .select(col("c_custkey"), col("clat"), col("clon"),
        explode(expr("transform(sequence(0, 8), i -> named_struct(" +
          "'jy', CAST(floor(clat) + i div 3 - 1 AS INT), " +
          "'jx', CAST(floor(clon) + i % 3 - 1 AS INT)))")).as("cell"))
      .select(col("c_custkey"), col("clat"), col("clon"),
        col("cell.jy").as("jy"), col("cell.jx").as("jx"))
    val dlat = radians(col("slat") - col("clat")) / 2
    val dlon = radians(col("slon") - col("clon")) / 2
    val a = sin(dlat) * sin(dlat) +
      cos(radians(col("clat"))) * cos(radians(col("slat"))) * sin(dlon) * sin(dlon)
    probes.join(supp, Seq("jy", "jx"))
      .withColumn("dist_m",
        floor(lit(2.0) * 6371000.0 * asin(sqrt(a))).cast("bigint"))
      .filter(col("dist_m") <= 50000L)
      .groupBy(col("c_custkey"))
      .agg(min(struct(col("dist_m"), col("s_suppkey"))).as("m"))
      .select(col("c_custkey"), col("m.s_suppkey").as("s_suppkey"),
        col("m.dist_m").as("dist_m"))
      .orderBy(col("c_custkey"))
  }

  /** Oracle twin of the grid join's `min(struct(dist_m, s_suppkey))`
    * argmin, packed as one BIGINT because DuckDB lacks struct-min:
    * `pack = dist_m·10⁹ + s_suppkey`. The 10⁹ multiplier bounds
    * validity at s_suppkey < 10⁹ (TPC-H sf < 10⁵ — suppkey is
    * 10⁴·sf); dist_m ≤ 50000 keeps pack ≤ 5·10¹³, ample int64
    * headroom. A narrower multiplier would silently decode wrong
    * keys once suppkey outgrew it while the Spark side stayed
    * correct. */
  val spatialGridJoinSql: String =
    """WITH c AS (SELECT c_custkey,
      |    40.0 + (CAST(concat('0x', substring(md5(concat('geo|',
      |      CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0 AS clat,
      |    (CAST(concat('0x', substring(md5(concat('geo|',
      |      CAST(c_custkey AS VARCHAR))), 9, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0 AS clon
      |  FROM customer),
      |s AS (SELECT s_suppkey,
      |    40.0 + (CAST(concat('0x', substring(md5(concat('sgeo|',
      |      CAST(s_suppkey AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0 AS slat,
      |    (CAST(concat('0x', substring(md5(concat('sgeo|',
      |      CAST(s_suppkey AS VARCHAR))), 9, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0 AS slon
      |  FROM supplier),
      |d AS (SELECT c_custkey, s_suppkey,
      |    CAST(floor(2.0 * 6371000.0 * asin(sqrt(
      |      sin(radians(slat - clat) / 2) * sin(radians(slat - clat) / 2)
      |      + cos(radians(clat)) * cos(radians(slat))
      |      * sin(radians(slon - clon) / 2) * sin(radians(slon - clon) / 2))))
      |      AS BIGINT) AS dist_m
      |  FROM c CROSS JOIN s),
      |m AS (SELECT c_custkey,
      |        min(dist_m * 1000000000 + s_suppkey) AS pack
      |      FROM d WHERE dist_m <= 50000 GROUP BY c_custkey)
      |SELECT c_custkey, CAST(pack % 1000000000 AS BIGINT) AS s_suppkey,
      |  CAST(pack // 1000000000 AS BIGINT) AS dist_m
      |FROM m ORDER BY c_custkey""".stripMargin

  /** A grid cell and its eight neighbours. */
  private def ring(jy: Int, jx: Int): Seq[(Int, Int)] =
    for { dy <- -1 to 1; dx <- -1 to 1 } yield (jy + dy, jx + dx)

  /** SP1 — grid-density watershed clustering: every populated 1°×1°
    * cell of the event point cloud is assigned to its density peak by
    * hill-climbing on the 3×3-smoothed cell counts — the mode-seeking
    * (mean-shift / watershed) segmentation that groups activity into
    * basins around local maxima, with no distance threshold to tune.
    *
    * Scale shape — three bounded relational steps, all on the CELL
    * relation (|cells| ≪ |points|; the only pass over raw points is
    * the first count aggregate):
    *  1. smoothing and parent selection use the same 9-row ring
    *     explode + equi-join as q_spatial_grid_join — never a theta
    *     join (the oracle's `abs(Δ)≤1` pair join IS the anti-shape);
    *  2. parent = argmax over the present 3×3 neighborhood by the
    *     total order (smoothed, jy, jx) via ONE max(struct) aggregate.
    *     The order is strict and self-inclusive, so parent chains
    *     strictly ascend → the pointer forest is acyclic and every
    *     chain ends at a genuine local max (parent = self);
    *  3. peak assignment by POINTER DOUBLING — f ← f∘f seven times
    *     covers chains of length 2⁷ = 128 > the 100-cell grid bound —
    *     the O(log n)-round parallel primitive, not an O(diameter)
    *     propagation loop and never a driver-side walk. At planetary
    *     cell counts the doubling count grows as log₂(cells) and each
    *     composition is a self-equi-join on the cell id, optionally
    *     checkpointed; the oracle unrolls the same seven compositions.
    * Cell ids pack as jy·100+jx (< 10⁴) and the argmax packs as
    * s·10⁴+id — exact in int64 on both engines. */
  def spatialWatershed(s: SparkSession, dir: String): DataFrame = {
    // ONE distributed pass — the only data-scale work. The cell
    // relation is GRID-BOUNDED BY CONSTRUCTION (the md5 coins land
    // jy ∈ [40,50), jx ∈ [0,10) ⇒ ≤100 cells at ANY corpus size), so
    // the smoothing / parent / pointer-doubling machinery collapses to
    // the driver over the collected rows (the TradeGraph
    // bounded-metadata pattern) instead of paying ~20 Exchange
    // barriers + 7 localCheckpoint jobs per query. Every step below
    // replays the former distributed plan exactly — pure 64-bit
    // integer arithmetic, nothing floating anywhere — so the output is
    // row-identical; the oracle still runs its own 7 unrolled
    // doublings in SQL.
    val cells = graft.Bounded.collect(Tables.events(s, dir)
        .select(floor(geoLat("egeo|", col("event_id"))).cast("int").as("jy"),
          floor(geoLon("egeo|", col("event_id"))).cast("int").as("jx"))
        .groupBy(col("jy"), col("jx")).agg(count(lit(1)).as("cnt")),
      4096, "cells (coin range) in the spatialWatershed grid")
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val cnt = cells.map(c => (c._1, c._2) -> c._3).toMap
    // smoothed density: each present cell's 3×3 sum of present counts
    val sm: Map[(Int, Int), Long] = cells.map { case (jy, jx, _) =>
      (jy, jx) -> ring(jy, jx).flatMap(cnt.get).sum
    }.toMap
    // parent: argmax of (s, jy, jx) over the present 3×3 neighborhood
    // (self-inclusive; the max(struct) total order = lexicographic)
    val parent: Map[Int, Int] = cells.map { case (jy, jx, _) =>
      val (_, pjy, pjx) = ring(jy, jx)
        .flatMap { case (ny, nx) => sm.get((ny, nx)).map(sv => (sv, ny, nx)) }
        .max
      (jy * 100 + jx) -> (pjy * 100 + pjx)
    }.toMap
    // pointer doubling, f ← f∘f seven times — identical composition
    // count to the former per-round self-join loop
    var f = parent
    for (_ <- 1 to 7) f = f.map { case (c, p) => c -> f(p) }
    val out = cells.map { case (jy, jx, n) =>
      val c = jy * 100 + jx
      val p = f(c)
      (jy, jx, n, sm((jy, jx)), p / 100, p % 100, c == p)
    }.sortBy(t => (t._1, t._2))
    import s.implicits._
    out.toSeq
      .toDF("jy", "jx", "cnt", "smoothed", "peak_jy", "peak_jx", "is_peak")
      .orderBy(col("jy"), col("jx"))
  }

  val spatialWatershedSql: String = {
    val doublings = (1 to 7).map(i =>
      s"f$i AS (SELECT a.c, b.p FROM f${i - 1} a JOIN f${i - 1} b ON a.p = b.c)")
      .mkString(",\n")
    s"""WITH pts AS (SELECT
      |    CAST(floor(40.0 + (CAST(concat('0x', substring(md5(concat('egeo|',
      |      CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0) AS INT) AS jy,
      |    CAST(floor((CAST(concat('0x', substring(md5(concat('egeo|',
      |      CAST(event_id AS VARCHAR))), 9, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0) AS INT) AS jx
      |  FROM events),
      |cells AS (SELECT jy, jx, count(*) AS cnt FROM pts GROUP BY 1, 2),
      |sm AS (SELECT c.jy, c.jx, c.cnt, CAST(sum(n.cnt) AS BIGINT) AS s
      |       FROM cells c JOIN cells n
      |         ON abs(n.jy - c.jy) <= 1 AND abs(n.jx - c.jx) <= 1
      |       GROUP BY 1, 2, 3),
      |par AS (SELECT c.jy, c.jx,
      |          max(n.s * 10000 + n.jy * 100 + n.jx) AS pk
      |        FROM sm c JOIN sm n
      |          ON abs(n.jy - c.jy) <= 1 AND abs(n.jx - c.jx) <= 1
      |        GROUP BY 1, 2),
      |f0 AS (SELECT jy * 100 + jx AS c, pk % 10000 AS p FROM par),
      |$doublings
      |SELECT sm.jy, sm.jx, sm.cnt, sm.s AS smoothed,
      |  CAST(f7.p // 100 AS INT) AS peak_jy,
      |  CAST(f7.p % 100 AS INT) AS peak_jx,
      |  f7.c = f7.p AS is_peak
      |FROM f7 JOIN sm ON f7.c = sm.jy * 100 + sm.jx
      |ORDER BY sm.jy, sm.jx""".stripMargin
  }

  /** SP2 — inverse-distance-weighted (IDW) field interpolation: the
    * estimated event-value surface at every populated cell center,
    * from the events in the cell's 3×3 neighborhood weighted by
    * 1/(d+1km) — the classic scattered-point → regular-grid
    * interpolation of spatial analytics.
    *
    * Scale shape: each event explodes its 9-cell ring once and meets
    * the populated-cell relation on a plain EQUI-join (as in
    * q_spatial_grid_join) — per-cell work is bounded by local point
    * density at any corpus size, never an all-points×all-cells pass
    * (which is exactly what the oracle's cross join does, correctly,
    * at oracle scale). Determinism: distances floor to whole meters,
    * weights are the INTEGER floor(10¹⁰/(d_m+1000)) ∈ [6.3·10⁴, 10⁷],
    * values are exact cents, so both weighted sums are exact int64
    * (≤ 10⁷ · 5.6·10⁴ · |events| ≪ 2⁶³) and the single final
    * double division is bit-identical on both engines. */
  def spatialIdw(s: SparkSession, dir: String): DataFrame = {
    // ONE md5 per point (geoLat/geoLon share the hash), and the
    // per-point trig the 9-cell explode would otherwise recompute per
    // pair — cos(radians(plat)) — is hoisted to the point projection;
    // the per-cell factor cos(radians(clat)) rides on the broadcast
    // cell list. Multiplication grouping in `h` is unchanged
    // (left-assoc), so every double is bit-identical to the inline
    // form the oracle mirrors.
    val hh = md5(concat(lit("egeo|"), col("event_id").cast("string")))
    // widen: the one-row-group input scans as a single task, and the
    // persist below would otherwise pin ONE partition — serializing
    // the md5 AND the whole 9-ring explode + haversine stage on one
    // core (Tables.widen is a no-op when the scan already splits)
    val pts = Tables.widen(Tables.events(s, dir))
      .select((dec2(col("value")) * 100).cast("bigint").as("cents"),
        hh.as("hh"))
      .select(col("cents"),
        (lit(40.0) + (conv(substring(col("hh"), 1, 8), 16, 10).cast("long")
          % 1000000L) / 1e6 * 10.0).as("plat"),
        ((conv(substring(col("hh"), 9, 8), 16, 10).cast("long")
          % 1000000L) / 1e6 * 10.0).as("plon"))
      .withColumn("jy", floor(col("plat")).cast("int"))
      .withColumn("jx", floor(col("plon")).cast("int"))
      .withColumn("cplat", cos(radians(col("plat"))))
      // two readers (cell census + ring explode) — without the pin the
      // events scan and its per-point md5 run twice back to back
      .persistScoped()
    val cells = pts.select(col("jy"), col("jx")).distinct()
      .withColumn("ccell", cos(radians(col("jy") + lit(0.5))))
    val contrib = pts
      .select(col("cents"), col("plat"), col("plon"), col("cplat"),
        explode(expr("transform(sequence(0, 8), i -> " +
          "named_struct('ty', CAST(jy + i div 3 - 1 AS INT), " +
          "'tx', CAST(jx + i % 3 - 1 AS INT)))")).as("t"))
      .select(col("cents"), col("plat"), col("plon"), col("cplat"),
        col("t.ty").as("jy"), col("t.tx").as("jx"))
      // estimate only at populated cells; the cell list is grid-bounded
      .join(broadcast(cells), Seq("jy", "jx"))
    val clat = col("jy") + lit(0.5)
    val clon = col("jx") + lit(0.5)
    val sdlat = sin(radians(clat - col("plat")) / 2)
    val sdlon = sin(radians(clon - col("plon")) / 2)
    val h = sdlat * sdlat + col("cplat") * col("ccell") * sdlon * sdlon
    contrib
      .withColumn("d_m", floor(lit(2.0) * 6371000.0 * asin(sqrt(h)))
        .cast("bigint"))
      .withColumn("w", expr("10000000000 div (d_m + 1000)"))
      .groupBy(col("jy"), col("jx"))
      .agg(count(lit(1)).as("n_pts"),
        sum(col("w") * col("cents")).as("swv"), sum(col("w")).as("sw"))
      .select(col("jy"), col("jx"), col("n_pts"),
        (col("swv").cast("double") / col("sw") / 100.0).as("idw_value"))
      .orderBy(col("jy"), col("jx"))
  }

  val spatialIdwSql: String =
    """WITH pts AS (SELECT
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    40.0 + (CAST(concat('0x', substring(md5(concat('egeo|',
      |      CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0 AS plat,
      |    (CAST(concat('0x', substring(md5(concat('egeo|',
      |      CAST(event_id AS VARCHAR))), 9, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0 AS plon
      |  FROM events),
      |g AS (SELECT cents, plat, plon,
      |        CAST(floor(plat) AS INT) AS jy, CAST(floor(plon) AS INT) AS jx
      |      FROM pts),
      |cells AS (SELECT DISTINCT jy, jx FROM g),
      |contrib AS (SELECT c.jy, c.jx, g.cents,
      |    10000000000 // (CAST(floor(2.0 * 6371000.0 * asin(sqrt(
      |      sin(radians((c.jy + 0.5) - g.plat) / 2)
      |        * sin(radians((c.jy + 0.5) - g.plat) / 2)
      |      + cos(radians(g.plat)) * cos(radians(c.jy + 0.5))
      |        * sin(radians((c.jx + 0.5) - g.plon) / 2)
      |        * sin(radians((c.jx + 0.5) - g.plon) / 2)))) AS BIGINT)
      |      + 1000) AS w
      |  FROM g JOIN cells c
      |    ON abs(g.jy - c.jy) <= 1 AND abs(g.jx - c.jx) <= 1)
      |SELECT jy, jx, CAST(count(*) AS BIGINT) AS n_pts,
      |  CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE)
      |    / CAST(sum(w) AS BIGINT) / 100.0 AS idw_value
      |FROM contrib GROUP BY jy, jx ORDER BY jy, jx""".stripMargin

  /** SP3 — grid DBSCAN: density-based clustering of the event point
    * cloud at cell granularity — core cells (count ≥ 2% of all
    * points), clusters = connected components of 8-adjacent core
    * cells, border cells (non-core touching a cluster) join their
    * minimum-labeled neighbor, everything else is noise. Unlike SP1's
    * watershed (every cell claims a peak; no noise concept), DBSCAN
    * separates dense regions from background — the standard
    * cluster-vs-outlier segmentation. The point cloud is deliberately
    * NON-uniform (SP1's uniform field would make density thresholds
    * degenerate): two 2°×2° blobs at (41.5..43.5, 1.5..3.5) and
    * (46.5..48.5, 6.5..8.5) carry 40% of points each, 20% scatter
    * uniformly — all from md5 coins on event_id, bit-identical in
    * both engines.
    *
    * Scale shape: the ONLY pass over raw points is the first
    * cell-count aggregate; everything downstream lives on the cell
    * relation (|cells| ≪ |points|). Core adjacency uses the same
    * 9-row ring explode + EQUI-join as SP1/SP2 (never a theta join —
    * the oracle's abs(Δ)≤1 pair join is the oracle-scale anti-shape),
    * and components come from the library's own checked-fixpoint
    * label propagation ([[graft.operators.Dedup.dedupClusters]]) —
    * the same primitive the near-dup pipeline runs, so its scale
    * posture (static edge relation, one exchange per round, loud
    * non-convergence) is inherited wholesale. The oracle labels
    * components by exact recursive transitive closure (any diameter —
    * fine at cell counts; the engine's fixpoint is depth-free too, so
    * the two agree by construction). Threshold compares 50·cnt ≥
    * total in exact integers. */
  def dbscanGrid(s: SparkSession, dir: String): DataFrame = {
    val sel = geoCoin("dbs|", col("event_id"), 1) % 10
    val a = geoCoin("dbs|", col("event_id"), 9)
    val b = geoCoin("dbs2|", col("event_id"), 1)
    val lat = when(sel < 4, lit(41.5) + (a % 2000L) / lit(1000.0))
      .when(sel < 8, lit(46.5) + (a % 2000L) / lit(1000.0))
      .otherwise(lit(40.0) + (a % 10000L) / lit(1000.0))
    val lon = when(sel < 4, lit(1.5) + (b % 2000L) / lit(1000.0))
      .when(sel < 8, lit(6.5) + (b % 2000L) / lit(1000.0))
      .otherwise((b % 10000L) / lit(1000.0))
    // ONE distributed pass — the only data-scale work. The cell
    // relation is GRID-BOUNDED BY CONSTRUCTION (both blob and scatter
    // coins land lat ∈ [40,50), lon ∈ [0,10) ⇒ ≤100 cells at ANY
    // corpus size), so the dense/border/noise classification and the
    // core-adjacency connected components collapse to the driver over
    // the collected rows (the TradeGraph bounded-metadata pattern)
    // instead of paying ~58 Exchange barriers + the per-round CC label
    // jobs per query. The local component labels are min-id per
    // component — exactly the dedupClusters fixpoint this used to call
    // — and everything is 64-bit integer arithmetic, so the output is
    // row-identical; the oracle keeps its recursive transitive
    // closure.
    val base = graft.Bounded.collect(Tables.events(s, dir)
        .select(floor(lat).cast("int").as("jy"), floor(lon).cast("int").as("jx"))
        .groupBy(col("jy"), col("jx")).agg(count(lit(1)).as("n")),
      4096, "cells (coin range) in the dbscanGrid grid")
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val t = base.map(_._3).sum
    def id(jy: Int, jx: Int): Long = jy.toLong * 100 + jx
    val dense = base.filter { case (_, _, n) => n * 50 >= t }
    val nond = base.filter { case (_, _, n) => n * 50 < t }
    val denseIds = dense.map { case (jy, jx, _) => (jy, jx) -> id(jy, jx) }.toMap
    // components of 8-adjacent core cells: min-id label fixpoint
    // (== dedupClusters' min-label propagation result)
    val label = scala.collection.mutable.Map[Long, Long]()
    def root(x: Long): Long = {
      var r = x
      while (label(r) != r) r = label(r)
      var c = x
      while (label(c) != c) { val nx = label(c); label(c) = r; c = nx }
      r
    }
    dense.foreach { case (jy, jx, _) => label(id(jy, jx)) = id(jy, jx) }
    dense.foreach { case (jy, jx, _) =>
      ring(jy, jx).flatMap(denseIds.get).foreach { nbr =>
        val (a, b) = (root(id(jy, jx)), root(nbr))
        if (a != b) { if (a < b) label(b) = a else label(a) = b }
      }
    }
    val core = dense.map { case (jy, jx, n) =>
      (jy, jx, n, "core", root(id(jy, jx)))
    }
    val coreAt = core.map { case (jy, jx, _, _, cl) => (jy, jx) -> cl }.toMap
    val (border, noise) = nond.partition { case (jy, jx, _) =>
      ring(jy, jx).exists(coreAt.contains)
    }
    val borderRows = border.map { case (jy, jx, n) =>
      (jy, jx, n, "border", ring(jy, jx).flatMap(coreAt.get).min)
    }
    val noiseRows = noise.map { case (jy, jx, n) => (jy, jx, n, "noise", -1L) }
    import s.implicits._
    (core ++ borderRows ++ noiseRows).sortBy(r => (r._1, r._2)).toSeq
      .toDF("jy", "jx", "n_points", "role", "cluster_id")
      .orderBy(col("jy"), col("jx"))
  }

  val dbscanGridSql: String =
    """WITH RECURSIVE pts AS (SELECT
      |    CAST(concat('0x', substring(md5(concat('dbs|',
      |      CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10 AS sel,
      |    CAST(concat('0x', substring(md5(concat('dbs|',
      |      CAST(event_id AS VARCHAR))), 9, 8)) AS BIGINT) AS a,
      |    CAST(concat('0x', substring(md5(concat('dbs2|',
      |      CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) AS b
      |  FROM events),
      |xy AS (SELECT
      |    CASE WHEN sel < 4 THEN 41.5 + (a % 2000) / 1000.0
      |         WHEN sel < 8 THEN 46.5 + (a % 2000) / 1000.0
      |         ELSE 40.0 + (a % 10000) / 1000.0 END AS lat,
      |    CASE WHEN sel < 4 THEN 1.5 + (b % 2000) / 1000.0
      |         WHEN sel < 8 THEN 6.5 + (b % 2000) / 1000.0
      |         ELSE (b % 10000) / 1000.0 END AS lon
      |  FROM pts),
      |cells AS (SELECT CAST(floor(lat) AS INT) AS jy,
      |    CAST(floor(lon) AS INT) AS jx, count(*) AS n
      |  FROM xy GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells),
      |dense AS (SELECT jy, jx, n, CAST(jy * 100 + jx AS BIGINT) AS id
      |  FROM cells, tot WHERE n * 50 >= t),
      |nond AS (SELECT jy, jx, n, CAST(jy * 100 + jx AS BIGINT) AS id
      |  FROM cells, tot WHERE n * 50 < t),
      |edges AS (SELECT a.id AS src, b.id AS dst FROM dense a JOIN dense b
      |  ON abs(a.jy - b.jy) <= 1 AND abs(a.jx - b.jx) <= 1
      |    AND a.id <> b.id),
      |reach AS (SELECT id, id AS r FROM dense
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      |lab AS (SELECT id, CAST(min(r) AS BIGINT) AS cluster_id
      |  FROM reach GROUP BY id),
      |core AS (SELECT d.jy, d.jx, d.n, 'core' AS role, l.cluster_id
      |  FROM dense d JOIN lab l ON d.id = l.id),
      |bord AS (SELECT nd.jy, nd.jx, nd.n, 'border' AS role,
      |    CAST(min(c.cluster_id) AS BIGINT) AS cluster_id
      |  FROM nond nd JOIN core c
      |    ON abs(nd.jy - c.jy) <= 1 AND abs(nd.jx - c.jx) <= 1
      |  GROUP BY nd.jy, nd.jx, nd.n),
      |noise AS (SELECT nd.jy, nd.jx, nd.n, 'noise' AS role,
      |    CAST(-1 AS BIGINT) AS cluster_id
      |  FROM nond nd WHERE NOT EXISTS (SELECT 1 FROM dense d
      |    WHERE abs(nd.jy - d.jy) <= 1 AND abs(nd.jx - d.jx) <= 1))
      |SELECT jy, jx, n AS n_points, role, cluster_id FROM core
      |UNION ALL SELECT jy, jx, n, role, cluster_id FROM bord
      |UNION ALL SELECT jy, jx, n, role, cluster_id FROM noise
      |ORDER BY jy, jx""".stripMargin

  /** SP4 — Moran's I spatial autocorrelation: is event density
    * CLUSTERED on the grid (hot cells next to hot cells, I → 1),
    * dispersed (I → −1), or random (I ≈ E[I] = −1/(n−1))? The one
    * statistic the SP1-3 clustering operators presuppose but never
    * test. Weights are queen adjacency (the shared 3×3 ring minus
    * self) over PRESENT cells. Exactness: with z̃ᵢ = n·xᵢ − S
    * (n-scaled deviations), both Σw z̃ᵢz̃ⱼ and Σz̃² carry the same n²
    * factor, so I = (n/W)·num/den needs NO mean division — counts
    * stay exact DECIMAL end to end and the final value is one IEEE
    * division. The corpus collapses to the bounded grid before any
    * pairing; the adjacency pair stream is ≤ 9·|cells|. */
  def moransI(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(floor(geoLat("egeo|", col("event_id"))).cast("int").as("jy"),
        floor(geoLon("egeo|", col("event_id"))).cast("int").as("jx"))
      .groupBy(col("jy"), col("jx")).agg(count(lit(1)).as("x"))
      .persistScoped() // totals build + both join sides read it
    val tot = cells.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val z = cells.crossJoin(broadcast(tot))
      .select(col("jy"), col("jx"), col("n"),
        (col("x").cast("decimal(38,0)") * col("n") - col("sx")).as("z"))
    val num = ring3x3(z.select(col("jy"), col("jx"), col("z").as("zi")),
        Seq("jy", "jx", "zi"), "ty", "tx")
      .filter(!(col("ty") === col("jy") && col("tx") === col("jx")))
      .join(z.select(col("jy").as("ty"), col("jx").as("tx"),
          col("z").as("zj")),
        Seq("ty", "tx"))
      .agg(sum(col("zi") * col("zj")).as("num"), count(lit(1)).as("w"))
    val den = z.agg(sum(col("z") * col("z")).as("den"),
      max(col("n")).as("n")) // n is constant across rows
    num.crossJoin(broadcast(den))
      .select(col("n").cast("long").as("n_cells"),
        col("w").cast("long").as("w_pairs"),
        ((col("n").cast("double") / col("w").cast("double")) *
          (col("num").cast("double") / col("den").cast("double")))
          .as("morans_i"),
        (lit(-1.0) / (col("n").cast("double") - 1)).as("expected_i"))
  }

  val moransISql: String =
    """WITH pts AS (SELECT
      |    CAST(floor(40.0 + (CAST(concat('0x', substring(md5(concat('egeo|',
      |      CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0) AS INT) AS jy,
      |    CAST(floor((CAST(concat('0x', substring(md5(concat('egeo|',
      |      CAST(event_id AS VARCHAR))), 9, 8)) AS BIGINT) % 1000000)
      |      / 1e6 * 10.0) AS INT) AS jx
      |  FROM events),
      |cells AS (SELECT jy, jx, count(*) AS x FROM pts GROUP BY 1, 2),
      |tot AS (SELECT count(*) AS n, CAST(sum(x) AS HUGEINT) AS sx FROM cells),
      |z AS (SELECT jy, jx, n, CAST(x AS HUGEINT) * n - sx AS z
      |      FROM cells, tot),
      |num AS (SELECT CAST(sum(a.z * b.z) AS HUGEINT) AS num, count(*) AS w
      |        FROM z a JOIN z b
      |          ON abs(a.jy - b.jy) <= 1 AND abs(a.jx - b.jx) <= 1
      |          AND NOT (a.jy = b.jy AND a.jx = b.jx)),
      |den AS (SELECT CAST(sum(z * z) AS HUGEINT) AS den, CAST(max(n) AS BIGINT) AS n
      |        FROM z)
      |SELECT CAST(n AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
      |  (CAST(n AS DOUBLE) / CAST(w AS DOUBLE))
      |    * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS morans_i,
      |  -1.0 / (CAST(n AS DOUBLE) - 1) AS expected_i
      |FROM num, den""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dbscan_grid" -> (dbscanGrid _),
    "q_spatial_idw" -> (spatialIdw _),
    "q_morans_i" -> (moransI _),
    "q_spatial_watershed" -> (spatialWatershed _),
    "q_spatial_grid_join" -> (spatialGridJoin _),
    "q_join_asof_nearest" -> (asofNearestJoin _),
    "q_range_bucket_join" -> (rangeBucketJoin _),
    "q_interval_join" -> (intervalJoin _),
    "q_join_salted" -> ((s, d) => saltedJoin(s, d)),
    "q_join_inner" -> (innerJoin _),
    "q_join_broadcast" -> (broadcastJoin _),
    "q_join_left" -> (leftOuterJoin _),
    "q_join_right" -> (rightOuterJoin _),
    "q_join_semi" -> (semiJoin _),
    "q_join_anti" -> (antiJoin _),
    "q_join_theta" -> (thetaJoin _),
    "q_join_asof" -> (asofJoin _),
    "q_join_asof_forward" -> (asofForwardJoin _),
    "q_join_asof_merge" -> (asofMergeJoin _),
    "q_join_cross" -> (crossJoinQ _),
    "q_join_star" -> (starJoin _),
  )

  val oracle: Map[String, String] = Map(
    "q_dbscan_grid" -> dbscanGridSql,
    "q_spatial_idw" -> spatialIdwSql,
    "q_morans_i" -> moransISql,
    "q_spatial_watershed" -> spatialWatershedSql,
    "q_spatial_grid_join" -> spatialGridJoinSql,
    "q_join_asof_nearest" -> asofNearestJoinSql,
    "q_range_bucket_join" -> rangeBucketJoinSql,
    "q_interval_join" -> intervalJoinSql,
    "q_join_salted" -> saltedJoinSql,
    "q_join_inner" -> innerJoinSql,
    "q_join_broadcast" -> broadcastJoinSql,
    "q_join_left" -> leftOuterJoinSql,
    "q_join_right" -> rightOuterJoinSql,
    "q_join_semi" -> semiJoinSql,
    "q_join_anti" -> antiJoinSql,
    "q_join_theta" -> thetaJoinSql,
    "q_join_asof" -> asofJoinSql,
    "q_join_asof_forward" -> asofForwardJoinSql,
    "q_join_asof_merge" -> asofMergeJoinSql,
    "q_join_cross" -> crossJoinSql,
    "q_join_star" -> starJoinSql,
  )
}
