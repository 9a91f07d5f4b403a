package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}
import graft.{Staged, Tables}
import graft.Caches.PersistScoped

/** Round-10 planner/ETL pack: the three runtime-planning surfaces a
  * 100 TB deployment leans on daily — dynamic partition pruning (the
  * join-driven twin of S6's static pruning), the ExistenceJoin
  * rewrite (IN-subquery under a disjunction — the one subquery shape
  * that can neither become a semi join nor a plain filter), and the
  * idempotent day-partition re-load (the reference's "re-run one
  * day's failed batch" lifecycle as Spark's dynamic
  * partitionOverwriteMode). Conventions per ARCHITECTURE.md
  * "Cross-engine determinism". The three queries that stage a layout
  * write it to their own [[Staged]] scratch dir: the oracle never reads
  * those files (it recomputes from the source tables).
  */
object Adaptive {

  /** S14 — dynamic partition pruning: the classic star shape — a fact
    * table staged hive-partitioned by its dim FOREIGN KEY (customers
    * by nation), joined to a genuinely small dim (nation, 25 rows)
    * filtered on a NON-join attribute (region) — so the surviving
    * partition keys exist only after the dim filter evaluates at
    * runtime; no static rule can prune the scan (the predicate names
    * `n_regionkey`, the partitions are keyed by `c_nationkey`). Spark
    * plans a `dynamicpruning` subquery into the scan's
    * PartitionFilters, reusing the dim's broadcast (asserted in
    * AdaptiveSpec) — at 100 TB this is the difference between
    * scanning the selected region's 10 nation partitions and scanning
    * all 25. The benefit heuristic needs the pruning subquery to be
    * cheap relative to the pruned scan, which is exactly why the dim
    * here must be the SMALL relation — a dim derived from the fact
    * itself costs the scan it would save. The oracle recomputes from
    * the unstaged tables: pruning must be a pure layout optimization
    * with zero effect on results. */
  def dppJoin(s: SparkSession, dir: String): DataFrame = {
    val stage = Staged.scratch("q_dpp_join", dir)
    val customer = Tables.customer(s, dir)
    customer.write.mode("overwrite").partitionBy("c_nationkey").parquet(stage)
    // explicit reader schema, same reason as EtlQueries.partitionPrune:
    // an all-empty input stages zero part files and inference throws
    val readSchema = StructType(
      customer.schema.filterNot(_.name == "c_nationkey") :+
        customer.schema("c_nationkey"))
    val fact = s.read.schema(readSchema).parquet(stage)
    val dim = Tables.nation(s, dir)
      .filter(col("n_regionkey") < 2)
      .select(col("n_nationkey"), col("n_name"))
    fact.join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_nationkey"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum((col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint"))
          .as("acctbal_cents"))
      .orderBy(col("c_nationkey"))
  }

  val dppJoinSql: String =
    """SELECT c_nationkey, n_name, count(*) AS n_customers,
      |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS acctbal_cents
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_regionkey < 2
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** J12 — existence join: an IN-subquery under a disjunction is the
    * one subquery position the optimizer can turn into neither a left
    * semi join (the OR keeps non-matching rows alive) nor a pushed
    * filter — Spark rewrites it to its dedicated ExistenceJoin type,
    * which attaches a boolean `exists` column and lets the filter read
    * it (plan-asserted in AdaptiveSpec). The query runs ONE SQL string
    * through the session (the surface a BI tool emits); the customer
    * probe side stays a broadcast, the fact side is never duplicated
    * into a union of two scans — the rewrite this operator exists to
    * avoid. */
  def existenceJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_xv")
    Tables.customer(s, dir).createOrReplaceTempView("customer_xv")
    s.sql(
      """SELECT o_orderpriority AS priority, count(*) AS n_orders,
        |  sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS cents
        |FROM orders_xv
        |WHERE o_custkey IN (SELECT c_custkey FROM customer_xv
        |                    WHERE c_mktsegment = 'BUILDING')
        |   OR o_totalprice > 400000.0
        |GROUP BY o_orderpriority ORDER BY priority""".stripMargin)
  }

  val existenceJoinSql: String =
    """SELECT o_orderpriority AS priority, count(*) AS n_orders,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS cents
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |   OR o_totalprice > 400000.0
      |GROUP BY o_orderpriority ORDER BY priority""".stripMargin

  /** E22 — idempotent day-partition re-load: the reference's daily
    * lifecycle (load a day-partitioned warehouse table, re-run one
    * day's batch after a correction) expressed as Spark's DYNAMIC
    * partition overwrite — the re-load replaces exactly the one day
    * directory it writes, never the table (static overwrite semantics
    * would silently truncate the other 29 days: the classic re-run
    * data-loss bug this mode exists to prevent). The corrected batch
    * drops the day's 'click' rows (a late-arriving filter fix); the
    * read-back per-day profile proves untouched days byte-identical
    * and the re-run day replaced. The overwrite-mode conf is set
    * around the EAGER write and restored in a finally — it never
    * leaks into the session's later queries. */
  def partitionReload(s: SparkSession, dir: String): DataFrame = {
    val stage = Staged.scratch("q_partition_reload", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("day").parquet(stage)
    // re-load day = min(day)+3 — one metadata-scale row; null on
    // all-empty input, in which case there is no batch to re-run
    val rd = ev.agg(date_add(min(col("day")), 3).as("rd")).head.getDate(0)
    if (rd != null) {
      val corrected = ev.filter(col("day") === lit(rd) &&
        col("event_type") =!= "click")
      // Production footgun this operator must own: dynamic overwrite
      // only replaces partitions PRESENT in the written data, so a
      // correction that empties the day entirely would leave the stale
      // directory untouched (the read-back would silently report the
      // uncorrected rows). The empty-batch re-run is an explicit
      // partition delete, exactly what a warehouse day-reload does.
      if (corrected.isEmpty) {
        // loud delete: a swallowed failure here would silently
        // reintroduce the stale-partition hazard this branch prevents
        // (a day with no events at all never staged a directory — that
        // absence is fine, a FAILED delete of an existing one is not)
        val stale = new java.io.File(s"$stage/day=$rd")
        if (stale.exists)
          require(org.apache.commons.io.FileUtils.deleteQuietly(stale),
            s"failed to delete stale partition $stale — re-run would " +
              "read uncorrected rows")
      } else {
        val prev =
          s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try corrected.write.mode("overwrite").partitionBy("day").parquet(stage)
        finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      }
    }
    val readSchema = StructType(
      ev.schema.filterNot(_.name == "day").toSeq :+
        StructField("day", DateType))
    s.read.schema(readSchema).parquet(stage)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        max(col("event_id")).as("max_event_id"))
      .orderBy(col("day"))
  }

  /** The oracle applies the correction relationally: untouched days
    * pass through, the re-run day keeps only non-click rows. */
  val partitionReloadSql: String =
    """WITH d AS (SELECT event_id, user_id, event_type,
      |    CAST(ts AS DATE) AS day FROM events),
      |r AS (SELECT min(day) + 3 AS rd FROM d),
      |f AS (SELECT * FROM d, r WHERE day <> rd OR event_type <> 'click')
      |SELECT day, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users, max(event_id) AS max_event_id
      |FROM f GROUP BY day ORDER BY day""".stripMargin

  /** E24 — schema-drift union on READ (`mergeSchema`): two staged
    * batches of one logical table disagree — the newer batch added
    * `o_year` and dropped `o_orderpriority` (the additive+subtractive
    * drift a long-lived ingest dir accumulates) — and the reader,
    * not a re-write job, reconciles them: `mergeSchema=true` unions
    * the column sets across footers and nulls the absent columns per
    * batch. This is the at-rest twin of E6's in-flight
    * unionByName: at 100 TB you cannot rewrite old partitions to
    * chase every schema change, so the read path must absorb drift.
    * The per-batch profile (non-null counts per drifted column, value
    * checksum) proves which batch carries which columns and that
    * values survive the merge. */
  def mergeSchemaRead(s: SparkSession, dir: String): DataFrame = {
    val stage = Staged.scratch("q_merge_schema_read", dir)
    val orders = Tables.orders(s, dir)
    orders.write.mode("overwrite").parquet(s"$stage/batch=1")
    orders.withColumn("o_year", year(col("o_orderdate")))
      .drop("o_orderpriority")
      .write.mode("overwrite").parquet(s"$stage/batch=2")
    s.read.option("mergeSchema", "true").option("basePath", stage)
      .parquet(s"$stage/batch=1", s"$stage/batch=2")
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_year")).as("n_year"),
        count(col("o_orderpriority")).as("n_prio"),
        coalesce(sum(col("o_year")).cast("bigint"), lit(0L)).as("year_sum"))
      .orderBy(col("batch"))
  }

  /** The oracle reconstructs the drift relationally: batch 1 is the
    * original shape (no o_year), batch 2 carries o_year and no
    * priority. */
  val mergeSchemaReadSql: String =
    """SELECT 1 AS batch, count(*) AS n_rows, CAST(0 AS BIGINT) AS n_year,
      |  count(*) AS n_prio, CAST(0 AS BIGINT) AS year_sum FROM orders
      |UNION ALL
      |SELECT 2, count(*), count(*), CAST(0 AS BIGINT),
      |  CAST(sum(year(o_orderdate)) AS BIGINT) FROM orders
      |ORDER BY batch""".stripMargin

  /** E25 — incremental SCD2 merge: maintain the W5 slowly-changing
    * dimension WITHOUT a full-history rebuild. The batch boundary
    * splits events at min(day)+14; the base table is the SCD2 change
    * set of the old batch, and the merge recomputes ONLY the keys the
    * delta touches — untouched keys' rows pass through untouched;
    * touched keys replay their base CHANGE POINTS (the compressed
    * history the dimension itself carries — no raw-history re-scan)
    * unioned with their delta events through the same change-detect +
    * close-out machinery. Cross-boundary dedup falls out: a delta
    * event continuing the base's last state is dropped by the same
    * lag test that built the base. At 100 TB this is the difference
    * between scanning the delta + the touched slice of a dimension
    * and re-scanning years of history.
    *
    * The ORACLE IS THE FULL REBUILD ([[Warehouse.scd2BuildSql]]
    * verbatim): the claim "incremental maintenance ≡ rebuild" runs
    * through the hash gate itself rather than a spec assertion. */
  def scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type").as("state"),
        unix_timestamp(col("ts")).as("sec"), to_date(col("ts")).as("day"))
    val t = ev.agg(date_add(min(col("day")), 14).as("t"))
    val bounded = ev.crossJoin(broadcast(t))
    // change-detect and interval close-out are Warehouse.scd2Changes /
    // scd2CloseOut — the SAME definitions the full rebuild runs, so
    // the incremental ≡ rebuild equivalence is structural, not
    // copy-discipline
    val base = Warehouse.scd2Changes(bounded.filter(col("day") < col("t")))
      .persistScoped()
    val delta = bounded.filter(col("day") >= col("t"))
      .select(col("user_id"), col("event_id"), col("state"), col("sec"))
      .persistScoped() // touched keys + the replay union both read it
    val touched = delta.select(col("user_id")).distinct()
    val untouched = base.join(touched, Seq("user_id"), "left_anti")
    val replayed = Warehouse.scd2Changes(
      base.join(touched, Seq("user_id"), "left_semi").unionByName(delta))
    Warehouse.scd2CloseOut(untouched.unionByName(replayed))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dpp_join" -> (dppJoin _),
    "q_scd2_merge" -> (scd2Merge _),
    "q_join_existence" -> (existenceJoin _),
    "q_partition_reload" -> (partitionReload _),
    "q_merge_schema_read" -> (mergeSchemaRead _),
  )

  val oracle: Map[String, String] = Map(
    "q_dpp_join" -> dppJoinSql,
    "q_scd2_merge" -> Warehouse.scd2BuildSql,
    "q_join_existence" -> existenceJoinSql,
    "q_partition_reload" -> partitionReloadSql,
    "q_merge_schema_read" -> mergeSchemaReadSql,
  )
}
