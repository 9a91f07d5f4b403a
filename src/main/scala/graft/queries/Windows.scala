package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Window-function inventory (SURVEY.md §2B W1-W3, T2) plus the batch
  * forms of the streaming operators (X1 tumbling/sliding, X3 session
  * windows, X4 dedup). The tumbling and dedup ones share semantics with
  * the Structured Streaming versions in graft.streaming and give them
  * an oracle; sliding and session windows exist only in batch form.
  *
  * Determinism: every window ORDER BY includes a unique tiebreaker
  * key; event timestamps enter comparisons only at whole-second
  * precision (ns-on-disk vs µs-in-Spark, SURVEY.md §7.4.2).
  */
object Windows {
  import Conv._

  /** W1 — ranking functions over a partitioned, uniquely-ordered window. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("int").as("rn"),
        rank().over(w).cast("int").as("rk"),
        dense_rank().over(w).cast("int").as("drk"),
        ntile(4).over(w).cast("int").as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(row_number() OVER w AS INT) AS rn,
      |  CAST(rank() OVER w AS INT) AS rk,
      |  CAST(dense_rank() OVER w AS INT) AS drk,
      |  CAST(ntile(4) OVER w AS INT) AS quartile
      |FROM orders WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** W2 — analytic functions lag/lead/first/last on the events stream
    * table (time expressed as epoch seconds on both engines). */
  def windowAnalytic(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .filter(col("event_id") < 3000)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_timestamp(col("ts")).as("es"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base.select(
        col("event_id"), col("user_id"), col("value"),
        coalesce(lag(col("value"), 1).over(w), lit(-1.0)).as("prev_value"),
        coalesce(lead(col("value"), 1).over(w), lit(-1.0)).as("next_value"),
        first(col("es")).over(full).as("first_es"),
        last(col("es")).over(full).as("last_es"))
      .orderBy(col("event_id"))
  }

  val windowAnalyticSql: String =
    """SELECT event_id, user_id, value,
      |  coalesce(lag(value, 1) OVER w, -1.0) AS prev_value,
      |  coalesce(lead(value, 1) OVER w, -1.0) AS next_value,
      |  first_value(es) OVER wf AS first_es,
      |  last_value(es) OVER wf AS last_es
      |FROM (SELECT event_id, user_id, value,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS es
      |      FROM events WHERE event_id < 3000)
      |WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id),
      |  wf AS (PARTITION BY user_id ORDER BY es, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id""".stripMargin

  /** W3 — frame specs: running sum and a 3-row moving average.
    * Window aggregates over doubles are NOT engine-portable even with
    * deterministic frame order (Spark's sliding-frame AVG updates
    * incrementally; DuckDB evaluates differently — observed a ±0.01
    * divergence at sf0.1), so frames aggregate exact decimals and the
    * moving average rounds via the Conv integer trick. */
  def windowFrames(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 50)
      .withColumn("msum", sum(dec2(col("o_totalprice"))).over(w.rowsBetween(-2, 0)))
      .withColumn("mn", count(lit(1)).over(w.rowsBetween(-2, 0)))
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(sum(dec2(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .cast("double").as("running_total"),
        expr("CAST((2 * CAST(msum * 100 AS BIGINT) + mn) div (2 * mn) AS DOUBLE) / 100.0")
          .as("moving_avg3"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowFramesSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total,
      |  CAST((2 * CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_mov * 100 AS BIGINT)
      |        + count(*) OVER w_mov) // (2 * count(*) OVER w_mov) AS DOUBLE) / 100.0 AS moving_avg3
      |FROM orders WHERE o_custkey < 50
      |WINDOW w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** T2 — per-group top-k: window rank + filter (Spark pushes the
    * rank<=k predicate into the window via LimitPushDownThroughWindow). */
  def topKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn").cast("int").as("rn"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val topKPerGroupSql: String =
    """SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** X1 batch twin — tumbling 1-hour window aggregation via Spark's
    * window() bucketing; oracle uses time_bucket. Window starts are
    * emitted as epoch seconds (always whole hours). */
  def tumblingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        moneySum(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("win.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  val tumblingWindowSql: String =
    """SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS win_start,
      |  event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** X1 batch twin — sliding window (1 hour wide, 30 min slide): each
    * event lands in exactly two windows; the oracle unnests the two
    * candidate starts explicitly. */
  def slidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"))
      .agg(count(lit(1)).as("n"), moneyAvg("value").as("avg_value"))
      .select(
        unix_timestamp(col("win.start")).as("win_start"),
        col("n"), col("avg_value"))
      .orderBy(col("win_start"))

  val slidingWindowSql: String =
    """SELECT CAST(floor(epoch(win_ts)) AS BIGINT) AS win_start,
      |  CAST(count(*) AS BIGINT) AS n, CAST((2 * CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) + count(*)) // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_value
      |FROM (SELECT value, unnest([
      |        time_bucket(INTERVAL '30 minutes', ts),
      |        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
      |      ]) AS win_ts
      |      FROM events)
      |GROUP BY win_ts ORDER BY win_start""".stripMargin

  /** X3 batch twin — sessionization with a 30-minute inactivity gap:
    * lag-gap flag → running sum session id → per-session aggregate.
    * Same semantics as session_window()/flatMapGroupsWithState in the
    * streaming module; gap decisions made on whole-second epochs. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_timestamp(col("ts")).as("es"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
    base
      .withColumn("prev_es", lag(col("es"), 1).over(wOrd))
      .withColumn("new_session",
        when(col("prev_es").isNull || col("es") - col("prev_es") > 1800L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
          .cast("int"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("es")).as("session_start"),
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val sessionizeSql: String =
    """SELECT user_id, session_id, CAST(min(es) AS BIGINT) AS session_start,
      |  CAST(count(*) AS BIGINT) AS n_events, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT user_id, value, es,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
      |  FROM (
      |    SELECT event_id, user_id, value, es,
      |      CASE WHEN lag(es, 1) OVER w IS NULL
      |        OR es - lag(es, 1) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
      |    FROM (SELECT event_id, user_id, value,
      |            CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
      |    WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** X4 batch twin — keyed dedup with a deterministic representative
    * (first event per (user, type) by event_id), the batch analog of
    * streaming dropDuplicates-with-watermark. */
  def dedupEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val dedupEventsSql: String =
    """SELECT user_id, event_type, CAST(min(event_id) AS BIGINT) AS event_id
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** W1-ext — distribution analytics: percent_rank and cume_dist are
    * rank-derived int/int divisions (bit-identical across engines);
    * nth_value over an explicit full frame. */
  def windowRankExt(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 60)
      .select(
        col("o_custkey"), col("o_orderkey"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_best"))
      .filter(col("second_best").isNotNull)
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowRankExtSql: String =
    """SELECT o_custkey, o_orderkey,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  nth_value(o_orderkey, 2) OVER wf AS second_best
      |FROM orders WHERE o_custkey < 60
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |QUALIFY second_best IS NOT NULL
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Time-series gap filling: the dense hourly grid per event type —
    * hours with no events appear with n=0 (sequence + explode builds
    * the grid; left join attaches observed counts). */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(expr("floor(unix_timestamp(ts) / 3600.0D) * 3600").as("hr"), col("event_type"))
      .groupBy(col("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = hourly.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
    val grid = bounds
      .select(explode(expr("sequence(lo, hi, 3600)")).as("hr"))
      .crossJoin(hourly.select(col("event_type")).distinct())
    grid.join(hourly, Seq("hr", "event_type"), "left_outer")
      .select(col("hr"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("hr"), col("event_type"))
  }

  val gapFillSql: String =
    """WITH hourly AS (
      |  SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) * 3600 AS hr,
      |    event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.hr, t.event_type
      |  FROM (SELECT unnest(range((SELECT min(hr) FROM hourly),
      |                            (SELECT max(hr) FROM hourly) + 1, 3600)) AS hr) g
      |  CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t)
      |SELECT g.hr, g.event_type, coalesce(h.n, 0) AS n
      |FROM grid g LEFT JOIN hourly h
      |  ON g.hr = h.hr AND g.event_type = h.event_type
      |ORDER BY g.hr, g.event_type""".stripMargin

  /** X5 batch twin — the final state of the streaming per-user counter
    * (mapGroupsWithState in graft.streaming.EventStreams) matches this
    * batch aggregate: exactly on n_events, and up to double-accumulation
    * order on total_value (the stream adds raw doubles in arrival
    * order; this oracle-checked side sums exact decimals —
    * StreamingSpec compares the two within 1e-9). */
  def userStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("total_value"))
      .orderBy(col("user_id"))

  val userStatsSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Time-series resample + linear interpolation: the hourly grid with
    * missing hours filled by interpolating between the nearest
    * observed neighbors (edges fall back to nearest-value). Events are
    * sparsified (event_id ≡ 0 mod 7) so genuine gaps exist to fill.
    * The interpolation arithmetic — pv + (nv−pv)·Δt ratio — is a fixed
    * sequence of exactly-rounded IEEE ops over deterministic inputs,
    * so the raw doubles are oracle-safe. */
  def interpolate(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .filter(expr("event_id % 7 = 0"))
      .select(expr("floor(unix_timestamp(ts) / 3600.0D) * 3600").as("hr"),
        col("event_type"), col("value"))
      .groupBy(col("hr"), col("event_type"))
      .agg(moneySum(col("value")).as("v"))
    val bounds = hourly.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
    val grid = bounds
      .select(explode(expr("sequence(lo, hi, 3600)")).as("hr"))
      .crossJoin(hourly.select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = w.rowsBetween(0, Window.unboundedFollowing)
    grid.join(hourly, Seq("hr", "event_type"), "left_outer")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("ph",
        last(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nh",
        first(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wNext))
      .withColumn("filled",
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("hr") - col("ph")).cast("double") /
              (col("nh") - col("ph")).cast("double"))))
      .select(col("hr"), col("event_type"),
        col("v").isNotNull.as("observed"), col("filled"))
      .orderBy(col("hr"), col("event_type"))
  }

  val interpolateSql: String =
    """WITH hourly AS (
      |  SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) * 3600 AS hr, event_type,
      |    CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS v
      |  FROM events WHERE event_id % 7 = 0 GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.hr, t.event_type
      |  FROM (SELECT unnest(range((SELECT min(hr) FROM hourly),
      |                            (SELECT max(hr) FROM hourly) + 1, 3600)) AS hr) g
      |  CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t),
      |j AS (SELECT g.hr, g.event_type, h.v FROM grid g
      |      LEFT JOIN hourly h ON g.hr = h.hr AND g.event_type = h.event_type),
      |x AS (SELECT hr, event_type, v,
      |    last_value(v IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER wp AS ph,
      |    first_value(v IGNORE NULLS) OVER wn AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER wn AS nh
      |  FROM j
      |  WINDOW wp AS (PARTITION BY event_type ORDER BY hr
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wn AS (PARTITION BY event_type ORDER BY hr
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT hr, event_type, v IS NOT NULL AS observed,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       ELSE pv + (nv - pv) * (CAST(hr - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
      |  END AS filled
      |FROM x ORDER BY hr, event_type""".stripMargin

  /** Histogram: fixed-width bucketing via floor-division (portable
    * across engines — including negatives, where `div`/`//` disagree —
    * unlike width_bucket which DuckDB lacks). */
  def histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(expr("floor(o_totalprice / 50000.0D)").cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_lo", (col("bucket") * 50000L).cast("bigint"))
      .select(col("bucket"), col("bucket_lo"), col("n"))
      .orderBy(col("bucket"))

  val histogramSql: String =
    """SELECT bucket, CAST(bucket * 50000 AS BIGINT) AS bucket_lo,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bucket
      |      FROM orders)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Percent-of-total: group share of the grand total via an
    * unpartitioned window over the aggregate (counts divide exactly). */
  def pctOfTotal(s: SparkSession, dir: String): DataFrame = {
    val perSeg = Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    perSeg
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("c_mktsegment"), col("n"),
        (col("n").cast("double") / col("total")).as("share"))
      .orderBy(col("c_mktsegment"))
  }

  val pctOfTotalSql: String =
    """SELECT c_mktsegment, n, CAST(n AS DOUBLE) / total AS share FROM (
      |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |    sum(count(*)) OVER () AS total
      |  FROM customer GROUP BY c_mktsegment)
      |ORDER BY c_mktsegment""".stripMargin

  /** Rolling median — the robust trailing-frame smoother (a moving
    * average a single outlier can't drag). The 7-row frame's values
    * are collected, sorted INSIDE the row's expression (frame
    * collection order is engine/partitioning-dependent; the sort
    * makes it canonical), and the middle is picked exactly: the odd
    * case is an integer, the even case (a+b)/2 one exact dyadic
    * division. Per-customer window — no global sort; frame size is a
    * constant, so state per row is O(7). */
  def rollingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"), col("o_orderkey"))
      .rowsBetween(-6, 0)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("od"),
        (col("o_totalprice").cast("decimal(18,2)") * lit(100))
          .cast("bigint").as("cents"))
      .withColumn("frame", sort_array(collect_list(col("cents")).over(w)))
      .select(col("o_custkey"), col("o_orderkey"), col("od"), col("cents"),
        expr("""CASE WHEN size(frame) % 2 = 1
                THEN CAST(element_at(frame, CAST((size(frame) + 1) DIV 2 AS INT)) AS DOUBLE)
                ELSE (element_at(frame, CAST(size(frame) DIV 2 AS INT))
                      + element_at(frame, CAST(size(frame) DIV 2 + 1 AS INT))) / 2.0D
                END""").as("med_cents"))
      .orderBy(col("o_custkey"), col("od"), col("o_orderkey"))
  }

  val rollingMedianSql: String =
    """SELECT o_custkey, o_orderkey, od, cents,
      |  median(cents) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_cents
      |FROM (SELECT o_custkey, o_orderkey,
      |        CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od,
      |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM orders)
      |ORDER BY o_custkey, od, o_orderkey""".stripMargin

  /** W37 — IGNORE NULLS analytic surface: last/first/lag over a
    * sparsely-populated column (purchase value, NULL on every other
    * event type) with null-skipping semantics — the
    * "carry-forward-the-last-real-observation" idiom (last known
    * price, last non-null sensor reading) that plain last()/lag()
    * gets wrong the moment the previous row is a gap. Per-user
    * windows under a (ts, event_id) total order; outputs coalesce to
    * −1 so the emitted table is null-free (cross-engine null-order
    * hygiene). Pure window machinery — no shuffle beyond the one
    * user-keyed exchange. */
  def ignoreNulls(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("pv", when(col("event_type") === "purchase", col("value")))
      .select(col("user_id"), col("event_id"),
        coalesce(last(col("pv"), ignoreNulls = true).over(run), lit(-1.0))
          .as("last_purchase"),
        coalesce(lag(col("pv"), 1, null, ignoreNulls = true).over(w), lit(-1.0))
          .as("prev_purchase"),
        coalesce(first(col("pv"), ignoreNulls = true).over(run), lit(-1.0))
          .as("first_purchase"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val ignoreNullsSql: String =
    """WITH e AS (SELECT user_id, event_id, ts,
      |    CASE WHEN event_type = 'purchase' THEN value END AS pv
      |  FROM events)
      |SELECT user_id, event_id,
      |  coalesce(last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0)
      |    AS last_purchase,
      |  coalesce(lag(pv IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id), -1.0) AS prev_purchase,
      |  coalesce(first_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0)
      |    AS first_purchase
      |FROM e ORDER BY user_id, event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ignore_nulls" -> (ignoreNulls _),
    "q_rolling_median" -> (rollingMedian _),
    "q_gapfill" -> (gapFill _),
    "q_interpolate" -> (interpolate _),
    "q_user_stats" -> (userStats _),
    "q_histogram" -> (histogram _),
    "q_pct_of_total" -> (pctOfTotal _),
    "q_window_rank_ext" -> (windowRankExt _),
    "q_window_rank" -> (windowRank _),
    "q_window_analytic" -> (windowAnalytic _),
    "q_window_frames" -> (windowFrames _),
    "q_topk_pergroup" -> (topKPerGroup _),
    "q_win_tumbling" -> (tumblingWindow _),
    "q_win_sliding" -> (slidingWindow _),
    "q_sessionize" -> (sessionize _),
    "q_dedup_events" -> (dedupEvents _),
  )

  val oracle: Map[String, String] = Map(
    "q_ignore_nulls" -> ignoreNullsSql,
    "q_rolling_median" -> rollingMedianSql,
    "q_gapfill" -> gapFillSql,
    "q_interpolate" -> interpolateSql,
    "q_user_stats" -> userStatsSql,
    "q_histogram" -> histogramSql,
    "q_pct_of_total" -> pctOfTotalSql,
    "q_window_rank_ext" -> windowRankExtSql,
    "q_window_rank" -> windowRankSql,
    "q_window_analytic" -> windowAnalyticSql,
    "q_window_frames" -> windowFramesSql,
    "q_topk_pergroup" -> topKPerGroupSql,
    "q_win_tumbling" -> tumblingWindowSql,
    "q_win_sliding" -> slidingWindowSql,
    "q_sessionize" -> sessionizeSql,
    "q_dedup_events" -> dedupEventsSql,
  )
}
