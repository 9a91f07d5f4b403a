package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Allocation, classification, and load-profile operators (round 5
  * extensions beyond SURVEY.md §2B): largest-remainder proration, ABC
  * revenue classification (scale-safe prefix sum), sweep-line
  * concurrency, Pythagorean means, data-vault hash keys, and the
  * gains/lift curve. All oracle-checked; numeric outputs follow the
  * repo's exact-arithmetic conventions (integer/decimal sums, one
  * final cast to double per output — ARCHITECTURE.md "Cross-engine
  * determinism").
  */
object Alloc {

  private val D = (c: Column) => c.cast("decimal(38,0)")

  /** Largest-remainder proration — allocate a fixed order-level
    * rebate (1000 cents) across the order's lineitems proportional to
    * extended price, in whole cents, such that the per-order sum
    * reconciles EXACTLY to the rebate (the invoice/royalty/cost
    * allocation primitive; naive per-row rounding loses cents). Floor
    * shares come from integer division of exact cent weights; the
    * leftover cents go to the items with the largest integer
    * remainders (ties to the lowest line number). Everything is
    * int64 arithmetic on a window keyed by order (fan-out ≤7 items)
    * — no float boundary, no global sort; scales as a pure keyed
    * window over the fact table. */
  def proration(s: SparkSession, dir: String, rebate: Long = 1000L): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("w"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
    // (orderkey, linenumber) is NOT unique in the fixture — duplicate
    // lines exist — so both the remainder rank and the output sort
    // break ties beyond it: w joins the rank order, alloc_cents the
    // final ORDER BY (rows identical in all three are interchangeable).
    val rankW = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("rem").desc, col("l_linenumber"), col("w").desc)
    items
      .withColumn("tw", sum(col("w")).over(byOrder))
      .withColumn("fshare", expr(s"CAST(($rebate * w) DIV tw AS BIGINT)"))
      .withColumn("rem", (lit(rebate) * col("w")) % col("tw"))
      .withColumn("leftover", lit(rebate) - sum(col("fshare")).over(byOrder))
      .withColumn("rk", row_number().over(rankW))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("fshare") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_cents"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("alloc_cents"))
  }

  val prorationSql: String =
    """WITH it AS (SELECT l_orderkey, l_linenumber,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
      |       FROM lineitem),
      |sh AS (SELECT l_orderkey, l_linenumber, w,
      |         CAST((1000 * w) // sum(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS fshare,
      |         CAST((1000 * w) % sum(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS rem
      |       FROM it),
      |rk AS (SELECT l_orderkey, l_linenumber, fshare,
      |         CAST(1000 - sum(fshare) OVER (PARTITION BY l_orderkey) AS BIGINT) AS leftover,
      |         row_number() OVER (PARTITION BY l_orderkey
      |           ORDER BY rem DESC, l_linenumber, w DESC) AS rk
      |       FROM sh)
      |SELECT l_orderkey, l_linenumber,
      |  CAST(fshare + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc_cents
      |FROM rk ORDER BY l_orderkey, l_linenumber, alloc_cents""".stripMargin

  /** ABC revenue classification — parts bucketed A/B/C by cumulative
    * share of gross revenue (top ~70% / next 20% / tail), the
    * inventory-curation primitive (and the data-curation shape for
    * "which sources cover 90% of tokens"). Revenue is exact cents;
    * the cumulative-from-the-top rank uses the SAME scale-safe
    * prefix-sum as [[Warehouse.docPacking]]: range-repartition by the
    * (rev DESC, key) order, per-partition local sums, broadcast
    * per-partition offsets — NO single-partition global window even
    * though the aggregate is dimension-sized today. Class boundaries
    * are integer comparisons (10·cum ≤ 7·total), so a part's class is
    * bit-portable — no float share crosses an if. */
  def abcClass(s: SparkSession, dir: String): DataFrame = {
    // The per-part aggregate is persisted BEFORE the range repartition:
    // repartitionByRange runs a sampling job over its child to pick
    // bounds, which would otherwise re-execute the fact-table aggregate
    // a second time before the shuffle pass does it again.
    val rev = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("cents"))
      .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
      .persistScoped()
    val parts = rev
      .repartitionByRange(Tables.shuffleWidth(s), col("rev").desc, col("l_partkey"))
      .withColumn("pid", spark_partition_id())
      .persistScoped() // pin sampled range bounds: both readers must agree on pid
    // total rides the SAME bounded offsets relation (Σ of the
    // per-partition sums — exact integer regrouping), so the class
    // pass builds ONE broadcast instead of offsets + a separate
    // grand-total aggregate job.
    val offsets = parts.groupBy(col("pid")).agg(sum(col("rev")).as("c"))
      .withColumn("off", sum(col("c")).over(Window.orderBy(col("pid"))) - col("c"))
      .withColumn("total", sum(col("c")).over(Window.partitionBy()))
      .select(col("pid"), col("off"), col("total"))
    val localW = Window.partitionBy(col("pid"))
      .orderBy(col("rev").desc, col("l_partkey"))
    parts
      .withColumn("cum_local", sum(col("rev")).over(localW))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("cum", col("off") + col("cum_local"))
      .withColumn("cls",
        when(col("cum") * 10 <= col("total") * 7, "A")
          .when(col("cum") * 10 <= col("total") * 9, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("class_cents"),
        min(col("l_partkey")).as("first_part"))
      .orderBy(col("cls"))
  }

  val abcClassSql: String =
    """WITH rev AS (SELECT l_partkey,
      |         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
      |       FROM lineitem GROUP BY l_partkey),
      |cum AS (SELECT l_partkey, rev,
      |          sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |          sum(rev) OVER () AS total
      |        FROM rev)
      |SELECT CASE WHEN cum * 10 <= total * 7 THEN 'A'
      |            WHEN cum * 10 <= total * 9 THEN 'B'
      |            ELSE 'C' END AS cls,
      |  count(*) AS n_parts, CAST(sum(rev) AS BIGINT) AS class_cents,
      |  min(l_partkey) AS first_part
      |FROM cum GROUP BY 1 ORDER BY cls""".stripMargin

  /** Sweep-line concurrency — peak simultaneously-open orders per
    * month, where an order is open from its order date until its last
    * shipment. The classic interval-overlap counter WITHOUT an
    * interval self-join: each interval becomes a +1/−1 delta, deltas
    * aggregate per day (keyed, distributed — this is the pass that
    * sees fact-table volume), and the running sum over the DAY
    * relation uses the two-pass partition-offset prefix sum, so even
    * an unbounded time span never funnels through one task. All
    * integer arithmetic. */
  def shippingLoad(s: SparkSession, dir: String): DataFrame = {
    val spans = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey")).agg(max(to_date(col("l_shipdate"))).as("close_d")),
        col("o_orderkey") === col("l_orderkey"))
      .select(to_date(col("o_orderdate")).as("open_d"), col("close_d"))
    // The delta-day relation is CALENDAR-BOUNDED (order/ship dates
    // span ~2.6k days at any SF), so the ONE fact-volume pass (the
    // spans join + per-day delta aggregate) stays distributed and the
    // former prefix-sum machinery (two persists, range exchange,
    // offset broadcast, month aggregate — ~4 sequential jobs over
    // ≤2.6k rows) replays locally over the collected census in exact
    // int64 (§2.4 bounded-metadata collapse, the change-point
    // precedent): running open count in day order, per-month peak/net.
    val deltas = graft.Bounded.collect(
      spans.select(col("open_d").as("d"), lit(1L).as("delta"))
        .unionAll(spans.select(date_add(col("close_d"), 1).as("d"), lit(-1L).as("delta")))
        .groupBy(col("d")).agg(sum(col("delta")).as("net")),
      8192, "distinct delta days in the shipping-load census")
    val byDay = deltas.map(r => (r.getDate(0), r.getLong(1))).sortBy(_._1.getTime)
    var open = 0L
    val monthly = scala.collection.mutable.LinkedHashMap[
      java.time.LocalDate, (Long, Long)]()
    byDay.foreach { case (d, net) =>
      open += net
      val m = d.toLocalDate.withDayOfMonth(1)
      val (peak, nc) = monthly.getOrElse(m, (Long.MinValue, 0L))
      monthly(m) = (math.max(peak, open), nc + net)
    }
    val rows = monthly.toSeq.sortBy(_._1.toEpochDay).map { case (m, (peak, nc)) =>
      org.apache.spark.sql.Row(java.sql.Date.valueOf(m), peak, nc)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("month",
        org.apache.spark.sql.types.DateType, nullable = false),
      org.apache.spark.sql.types.StructField("peak_open",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("net_change",
        org.apache.spark.sql.types.LongType, nullable = false)))
    s.createDataFrame(new java.util.ArrayList(
        java.util.Arrays.asList(rows: _*)), schema)
      .orderBy(col("month"))
  }

  val shippingLoadSql: String =
    """WITH closes AS (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS close_d
      |       FROM lineitem GROUP BY l_orderkey),
      |spans AS (SELECT CAST(o_orderdate AS DATE) AS open_d, close_d
      |       FROM orders JOIN closes ON o_orderkey = l_orderkey),
      |deltas AS (SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM (
      |         SELECT open_d AS d, 1 AS delta FROM spans
      |         UNION ALL
      |         SELECT close_d + 1, -1 FROM spans) u GROUP BY d),
      |run AS (SELECT d, net, sum(net) OVER (ORDER BY d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
      |        FROM deltas)
      |SELECT CAST(date_trunc('month', d) AS DATE) AS month,
      |  CAST(max(open) AS BIGINT) AS peak_open,
      |  CAST(sum(net) AS BIGINT) AS net_change
      |FROM run GROUP BY 1 ORDER BY month""".stripMargin

  /** Pythagorean mean family — arithmetic, geometric, and harmonic
    * means of quantity per return flag. Quantities are small integers
    * stored as double, so sum(q) is EXACT in IEEE (integer sums below
    * 2^53) and the arithmetic mean is one exact division; geometric
    * (exp of avg ln) and harmonic (n / Σ 1/q) necessarily accumulate
    * floats, so they are round(4)-absorbed per the repo convention
    * for order-dependent float reductions (cf. q_lm_score). One
    * partial/final aggregate, no window. */
  def meanFamily(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("bigint").as("qsum"),
        round(exp(avg(log(col("l_quantity")))), 4).as("gmean"),
        round(count(lit(1)).cast("double") / sum(lit(1.0) / col("l_quantity")), 4)
          .as("hmean"))
      .select(col("l_returnflag"), col("n"),
        (col("qsum").cast("double") / col("n").cast("double")).as("amean"),
        col("gmean"), col("hmean"))
      .orderBy(col("l_returnflag"))

  val meanFamilySql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(sum(l_quantity) AS BIGINT) AS DOUBLE) / count(*) AS amean,
      |  round(exp(avg(ln(l_quantity))), 4) AS gmean,
      |  round(count(*) / sum(1.0 / l_quantity), 4) AS hmean
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Data-vault hash keys — deterministic MD5 surrogate hub keys over
    * the business key and an MD5 hash-diff over the descriptive
    * attributes (the change-detection fingerprint satellites diff
    * on). Attribute concatenation uses an explicit field separator so
    * ("ab","c") never collides with ("a","bc"); numeric attributes are
    * serialized through exact-cent decimal strings, never float
    * repr. Pure per-row projection — embarrassingly parallel, no
    * shuffle; both engines' md5 agree byte-for-byte on UTF-8. */
  def hashKeys(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        md5(concat_ws("|", lit("customer"), col("c_custkey"))).as("hub_key"),
        md5(concat_ws("|", col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast("decimal(12,2)"), col("c_mktsegment")))
          .as("hash_diff"))
      .orderBy(col("c_custkey"))

  val hashKeysSql: String =
    """SELECT c_custkey,
      |  md5('customer' || '|' || CAST(c_custkey AS VARCHAR)) AS hub_key,
      |  md5(c_name || '|' || CAST(c_nationkey AS VARCHAR) || '|' ||
      |      CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
      |      c_mktsegment) AS hash_diff
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Gains/lift curve — the model-eval companion to [[Linkage.aucGrouped]]:
    * per score bin (descending), the cumulative share of rows reached
    * and of positives captured, and the lift over the base rate.
    * Same bounded-bin discipline as q_auc: the fact table collapses
    * to ≤ #bins rows FIRST, then cumulative windows run over that
    * bounded relation. Counts and cumulative counts are exact
    * integers; capture and lift are each one final division chain to
    * double. */
  def liftTable(s: SparkSession, dir: String): DataFrame = {
    val byBin = Tables.lineitem(s, dir)
      .select(floor(col("l_extendedprice") / 1000).cast("long").as("bin"),
        (col("l_returnflag") === "R").cast("long").as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byBin.agg(sum(col("n")).as("tn"), sum(col("np")).as("tp"))
    byBin
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_np", sum(col("np")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("np"), col("cum_n"), col("cum_np"),
        (col("cum_np").cast("double") / col("tp").cast("double")).as("capture"),
        ((col("cum_np").cast("double") / col("cum_n").cast("double")) /
          (col("tp").cast("double") / col("tn").cast("double"))).as("lift"))
      .orderBy(col("bin").desc)
  }

  val liftTableSql: String =
    """WITH bybin AS (SELECT CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bin,
      |         count(*) AS n,
      |         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS np
      |       FROM lineitem GROUP BY 1),
      |cum AS (SELECT bin, n, np,
      |          sum(n) OVER w AS cum_n, sum(np) OVER w AS cum_np,
      |          sum(n) OVER () AS tn, sum(np) OVER () AS tp
      |        FROM bybin
      |        WINDOW w AS (ORDER BY bin DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT bin, CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS np,
      |  CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_np AS BIGINT) AS cum_np,
      |  CAST(cum_np AS DOUBLE) / CAST(tp AS DOUBLE) AS capture,
      |  (CAST(cum_np AS DOUBLE) / CAST(cum_n AS DOUBLE)) /
      |    (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) AS lift
      |FROM cum ORDER BY bin DESC""".stripMargin

  /** W25 — FIFO matching (the lot-allocation / COGS primitive): the
    * oldest supply fills the oldest demand, expressed WITHOUT
    * iteration — each side becomes cumulative-quantity intervals
    * [cum−qty, cum), and a supply lot funds a demand exactly where
    * their intervals overlap, so the match table is a per-key
    * interval join with allocation = min(hi,hi) − max(lo,lo). All
    * integer arithmetic on per-key windows (fan-in = lots per part,
    * bounded); the overlap join is keyed, never global. Supplies =
    * odd line numbers, demands = even (the deterministic fixture
    * split). */
  def fifoMatch(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_partkey") < 200)
      .select(col("l_partkey").as("pk"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("bigint").as("qty"),
        to_date(col("l_shipdate")).as("d"),
        (col("l_linenumber") % 2 === 1).as("is_supply"))
    // (d, orderkey, linenumber) is not unique in the fixture; adding
    // qty makes remaining ties interchangeable (equal rows produce
    // identical interval boundaries either way)
    val w = Window.partitionBy(col("pk"), col("is_supply"))
      .orderBy(col("d"), col("l_orderkey"), col("l_linenumber"), col("qty"))
    val cum = li
      .withColumn("hi", sum(col("qty")).over(w))
      .withColumn("lo", col("hi") - col("qty"))
    val sup = cum.filter(col("is_supply"))
      .select(col("pk"), col("l_orderkey").as("s_order"),
        col("l_linenumber").as("s_line"), col("lo").as("s_lo"), col("hi").as("s_hi"))
    val dem = cum.filter(!col("is_supply"))
      .select(col("pk"), col("l_orderkey").as("d_order"),
        col("l_linenumber").as("d_line"), col("lo").as("d_lo"), col("hi").as("d_hi"))
    sup.join(dem, Seq("pk"))
      .filter(col("s_lo") < col("d_hi") && col("d_lo") < col("s_hi"))
      .select(col("pk"), col("s_order"), col("s_line"), col("d_order"), col("d_line"),
        (least(col("s_hi"), col("d_hi")) - greatest(col("s_lo"), col("d_lo")))
          .as("qty_matched"))
      .orderBy(col("pk"), col("s_order"), col("s_line"), col("d_order"),
        col("d_line"), col("qty_matched"))
  }

  val fifoMatchSql: String =
    """WITH li AS (SELECT l_partkey AS pk, l_orderkey, l_linenumber,
      |    CAST(l_quantity AS BIGINT) AS qty, CAST(l_shipdate AS DATE) AS d,
      |    l_linenumber % 2 = 1 AS is_supply
      |  FROM lineitem WHERE l_partkey < 200),
      |c AS (SELECT *, CAST(sum(qty) OVER (PARTITION BY pk, is_supply
      |        ORDER BY d, l_orderkey, l_linenumber, qty
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
      |      FROM li),
      |r AS (SELECT pk, l_orderkey, l_linenumber, is_supply,
      |        hi - qty AS lo, hi FROM c),
      |s AS (SELECT pk, l_orderkey AS s_order, l_linenumber AS s_line,
      |        lo AS s_lo, hi AS s_hi FROM r WHERE is_supply),
      |dm AS (SELECT pk, l_orderkey AS d_order, l_linenumber AS d_line,
      |        lo AS d_lo, hi AS d_hi FROM r WHERE NOT is_supply)
      |SELECT s.pk AS pk, s_order, s_line, d_order, d_line,
      |  CAST(least(s_hi, d_hi) - greatest(s_lo, d_lo) AS BIGINT) AS qty_matched
      |FROM s JOIN dm ON s.pk = dm.pk
      |WHERE s_lo < d_hi AND d_lo < s_hi
      |ORDER BY s.pk, s_order, s_line, d_order, d_line, qty_matched""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fifo_match" -> (fifoMatch _),
    "q_proration" -> ((s: SparkSession, d: String) => proration(s, d)),
    "q_abc_class" -> (abcClass _),
    "q_concurrency" -> (shippingLoad _),
    "q_mean_family" -> (meanFamily _),
    "q_hash_keys" -> (hashKeys _),
    "q_lift_table" -> (liftTable _),
  )

  val oracle: Map[String, String] = Map(
    "q_fifo_match" -> fifoMatchSql,
    "q_proration" -> prorationSql,
    "q_abc_class" -> abcClassSql,
    "q_concurrency" -> shippingLoadSql,
    "q_mean_family" -> meanFamilySql,
    "q_hash_keys" -> hashKeysSql,
    "q_lift_table" -> liftTableSql,
  )
}
