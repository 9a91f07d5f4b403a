package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Trend/sequence operators (round 5 extensions beyond SURVEY.md §2B):
  * group-wise least-squares regression, exponentially-weighted moving
  * averages, and per-entity event-sequence pattern matching — the
  * trend-detection layer a behavioral warehouse runs over the same
  * tables the rest of the engine serves. All three are oracle-checked;
  * each uses the repo's exact-arithmetic conventions (integer/decimal
  * power sums, dyadic float weights) so both engines agree
  * bit-for-bit (ARCHITECTURE.md "Cross-engine determinism").
  */
object Trend {

  /** Group-wise OLS — slope/intercept of price-on-quantity per return
    * flag, the closed-form regr_slope/regr_intercept pair. Every
    * power sum (Σx, Σy, Σxy, Σx²) runs in exact integer arithmetic:
    * x is the integral quantity, y the exact cent value recovered via
    * decimal(18,2); sums go through decimal(38,0) on the Spark side
    * (Spark's long sum would wrap silently at scale while DuckDB
    * promotes to HUGEINT — the q_rank_corr convention), and the
    * closed forms are evaluated in exact decimal with ONE final cast
    * to double per output. A regression over 10¹¹ rows is still two
    * map-side-combined aggregates and a 6-value shuffle per group. */
  def regrSlope(s: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        floor(col("l_quantity")).cast("decimal(38,0)").as("x"),
        (col("l_extendedprice").cast("decimal(18,2)") * lit(100))
          .cast("decimal(38,0)").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("l_returnflag"), col("n"),
        ((d(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
          (d(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_cents"),
        ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (d(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("intercept_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** Oracle: plain integer sums (DuckDB promotes to HUGEINT — exact),
    * same closed forms, same one-cast-to-double-per-output. */
  val regrSlopeSql: String =
    """SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents,
      |  CAST(sy * sxx - sx * sxy AS DOUBLE) /
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS intercept_cents
      |FROM (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM (SELECT l_returnflag,
      |          CAST(floor(l_quantity) AS BIGINT) AS x,
      |          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |        FROM lineitem)
      |  GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** EWMA over each customer's trailing 8 order totals — the
    * smoothing pass of any spend-trend monitor. α = 1/2 makes every
    * weight a DYADIC rational (2⁻ᵏ): each cents·2⁻ᵏ term is exactly
    * representable (26-bit cents, ≤7 fractional bits), so numerator
    * and denominator are EXACT in IEEE double regardless of
    * summation order, and the single final division is the only
    * rounding step — bit-identical across engines, partitionings,
    * and cluster widths, with none of the order-dependent drift a
    * float EWMA normally carries. The window is keyed by customer:
    * no global sort, scales linearly. */
  def ewmaSpend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"), col("o_orderkey"))
    val base = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("od"),
        (col("o_totalprice").cast("decimal(18,2)") * lit(100))
          .cast("bigint").as("cents"))
    val terms = (0 until 8).map { k =>
      val wt = lit(math.pow(0.5, k)) // 2^-k: exact double literal
      val lagged = if (k == 0) col("cents") else lag(col("cents"), k).over(w)
      (coalesce(lagged.cast("double"), lit(0.0)) * wt,
        when(lagged.isNull, lit(0.0)).otherwise(wt))
    }
    base
      .withColumn("ewma_cents",
        terms.map(_._1).reduce(_ + _) / terms.map(_._2).reduce(_ + _))
      .orderBy(col("o_custkey"), col("od"), col("o_orderkey"))
  }

  /** Oracle: the same 8 dyadic-weight lag terms, spelled out. */
  val ewmaSpendSql: String = {
    val lags = (1 until 8).map(k => s"lag(cents, $k) OVER w AS c$k").mkString(",\n      |    ")
    val num = "CAST(cents AS DOUBLE) * 1.0 +\n      |     " + (1 until 8).map(k =>
      s"coalesce(CAST(c$k AS DOUBLE), 0) * ${math.pow(0.5, k)}").mkString(" +\n      |     ")
    val den = "1.0 +\n      |     " + (1 until 8).map(k =>
      s"CASE WHEN c$k IS NULL THEN 0 ELSE ${math.pow(0.5, k)} END").mkString(" +\n      |     ")
    s"""SELECT o_custkey, o_orderkey, od, cents,
      |  ($num) /
      |  ($den) AS ewma_cents
      |FROM (
      |  SELECT o_custkey, o_orderkey, od, cents,
      |    $lags
      |  FROM (SELECT o_custkey, o_orderkey,
      |          CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od,
      |          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |        FROM orders)
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey))
      |ORDER BY o_custkey, od, o_orderkey""".stripMargin
  }

  /** Per-user event-sequence pattern match — compress each user's
    * event stream to an initial-letter path string (deterministic
    * (epoch-sec, event_id) order carried INSIDE the aggregate via
    * sort_array-of-structs; collect order is partitioning-dependent
    * on both engines) and regexp-match the view→click→purchase
    * funnel on it. The path per user is bounded by the user's event
    * count, so state is per-key linear; the regexp is a single
    * codegen'd pass over the packed string — the cheap way to ask
    * ordered-subsequence questions without a self-join per step. */
  def seqPattern(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"),
        substring(col("event_type"), 1, 1).as("letter"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(sec, event_id, letter))), x -> x.letter)"),
          "").as("path"))
      .select(col("user_id"), col("n_events"), col("path"),
        col("path").rlike("v.*c.*p").as("converted"))
      .orderBy(col("user_id"))

  val seqPatternSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  string_agg(substring(event_type, 1, 1), ''
      |    ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS path,
      |  regexp_matches(string_agg(substring(event_type, 1, 1), ''
      |    ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id),
      |    'v.*c.*p') AS converted
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Weighted sampling without replacement (Efraimidis–Spirakis, the
    * one-pass distributed form): each row draws u from its OWN md5
    * hash (not a seeded RNG — same sample on every engine, run, and
    * cluster width), its key is the exponential -ln(u)/w, and the k
    * smallest keys per stratum are the sample, length-biased by
    * n_chars. u = h/2⁶⁰ divides a correctly-rounded double by a power
    * of two (exact), ln is bit-identical across engines (verified for
    * tfidf), and the division is one IEEE op — the whole key is
    * deterministic. One narrow map + one per-stratum top-k window;
    * no global sort, no driver-side reservoir. */
  def weightedSample(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val u = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
      .cast("double") / lit(1152921504606846976.0) // 2^60
    val w = Window.partitionBy(col("lang")).orderBy(col("ekey"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (-log(u) / col("n_chars").cast("double")).as("ekey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("ekey"),
        col("rn").cast("int").as("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  val weightedSampleSql: String =
    """SELECT doc_id, lang, n_chars, ekey, CAST(rn AS INT) AS rn
      |FROM (SELECT doc_id, lang, n_chars, ekey,
      |        row_number() OVER (PARTITION BY lang ORDER BY ekey, doc_id) AS rn
      |      FROM (SELECT doc_id, lang, n_chars,
      |              -ln(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |                    AS BIGINT) / 1152921504606846976.0)
      |                / CAST(n_chars AS DOUBLE) AS ekey
      |            FROM documents))
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  /** Pointwise mutual information of document-level bigram
    * co-occurrence — the collocation scorer behind phrase mining and
    * tokenizer-merge candidates. Counts are document-presence sets
    * (distinct doc×term — duplicate-insensitive, so no occurrence
    * shuffle), the corpus size joins as a broadcast one-row
    * aggregate (never a driver-side collect), and unigram counts
    * broadcast-join onto the bigram table twice. pmi = ln of a ratio
    * of exact integers: one division, one ln — deterministic. */
  def pmi(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    // per-doc distinct words NARROWLY (array_distinct in the
    // projection) — a .distinct() here would shuffle every token
    // occurrence as a wide string key (same move as Dedup.shingles)
    val words = docs
      .select(col("doc_id"), explode(
        expr("array_distinct(filter(split(text, ' '), x -> x <> ''))")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val bg = graft.operators.Dedup.shingles(docs, 2)
      .groupBy(col("shingle").as("bigram"))
      .agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") > 10)
    bg
      .select(col("bigram"), col("cxy"),
        split(col("bigram"), " ").getItem(0).as("w1"),
        split(col("bigram"), " ").getItem(1).as("w2"))
      .join(broadcast(words.select(col("w").as("w1"), col("cw").as("c1"))), Seq("w1"))
      .join(broadcast(words.select(col("w").as("w2"), col("cw").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(nd))
      .select(col("bigram"), col("cxy"),
        log((col("cxy") * col("nd")).cast("double") /
          (col("c1") * col("c2")).cast("double")).as("pmi"))
      .orderBy(col("bigram"))
  }

  val pmiSql: String =
    """WITH docs AS (SELECT doc_id, text FROM documents),
      |words AS (SELECT w, count(*) AS cw
      |          FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |                FROM docs) WHERE w <> '' GROUP BY w),
      |bg AS (SELECT shingle AS bigram, count(*) AS cxy
      |       FROM (SELECT DISTINCT doc_id,
      |               unnest(list_transform(range(1, len(w)),
      |                 i -> concat_ws(' ', w[i], w[i+1]))) AS shingle
      |             FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs)
      |             WHERE len(w) >= 2)
      |       GROUP BY shingle HAVING count(*) > 10)
      |SELECT bigram, CAST(cxy AS BIGINT) AS cxy,
      |  ln(CAST(cxy * (SELECT count(*) FROM docs) AS DOUBLE) /
      |     CAST(c1 * c2 AS DOUBLE)) AS pmi
      |FROM (SELECT bg.bigram, bg.cxy,
      |        string_split(bg.bigram, ' ')[1] AS w1,
      |        string_split(bg.bigram, ' ')[2] AS w2
      |      FROM bg)
      |JOIN (SELECT w, cw AS c1 FROM words) a ON w1 = a.w
      |JOIN (SELECT w, cw AS c2 FROM words) b ON w2 = b.w
      |ORDER BY bigram""".stripMargin

  /** Bigram language-model scoring — each document's cross-entropy
    * (nats) under the corpus's own document-presence bigram model:
    * nll = −avg ln(c_xy/c_x) over the doc's distinct bigrams. The
    * perplexity-style quality signal a curation pipeline uses to rank
    * documents as typical vs outlier, with the corpus itself as the
    * model — no external LM. Counts are presence sets (dup-
    * insensitive); the count tables join on the bigram/word keys (at
    * corpus scale these are shuffle joins on the token key — exactly
    * how a distributed LM count join shapes). The per-doc float avg
    * is summation-order dependent, so round(4) absorbs the ulp drift
    * (the q_event_entropy convention). */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val pres = graft.operators.Dedup.shingles(docs, 2)
      .select(col("doc_id"), col("shingle").as("bigram"))
    val cxy = pres.groupBy(col("bigram")).agg(count(lit(1)).as("cxy"))
    // narrow per-doc distinct, as in pmi's word table
    val cx = docs
      .select(col("doc_id"), explode(
        expr("array_distinct(filter(split(text, ' '), x -> x <> ''))")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cx"))
    pres
      .join(cxy, Seq("bigram"))
      .join(cx, split(col("bigram"), " ").getItem(0) === col("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log(col("cxy").cast("double") / col("cx").cast("double"))), 4)
          .as("nll"))
      .orderBy(col("doc_id"))
  }

  val lmScoreSql: String =
    """WITH pres AS (SELECT DISTINCT doc_id,
      |                unnest(list_transform(range(1, len(w)),
      |                  i -> concat_ws(' ', w[i], w[i+1]))) AS bigram
      |              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |              WHERE len(w) >= 2),
      |cxy AS (SELECT bigram, count(*) AS cxy FROM pres GROUP BY bigram),
      |cx AS (SELECT w, count(*) AS cx
      |       FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |             FROM documents) WHERE w <> '' GROUP BY w)
      |SELECT pres.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(-avg(ln(CAST(cxy.cxy AS DOUBLE) / CAST(cx.cx AS DOUBLE))), 4) AS nll
      |FROM pres
      |JOIN cxy ON pres.bigram = cxy.bigram
      |JOIN cx ON string_split(pres.bigram, ' ')[1] = cx.w
      |GROUP BY pres.doc_id ORDER BY pres.doc_id""".stripMargin

  /** Last-touch attribution — each purchase credited to the user's
    * most recent preceding non-purchase event (the marketing-channel
    * question). One keyed window with an IGNORE-NULLS last() over an
    * unbounded-preceding-to-1-preceding frame: linear, skew-safe,
    * no self-join against the event history. Purchases with no prior
    * touch credit 'direct' (sentinel, not NULL — cross-engine null
    * ordering). Epoch-second timestamps (the events-table ns→µs
    * convention, SURVEY.md §7.5). */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("attr",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("sec"),
        coalesce(col("attr"), lit("direct")).as("channel"))
      .orderBy(col("event_id"))
  }

  val attributionSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |a AS (SELECT user_id, event_id, event_type, sec,
      |        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |            IGNORE NULLS)
      |          OVER (PARTITION BY user_id ORDER BY sec, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
      |      FROM e)
      |SELECT event_id, user_id, sec, coalesce(attr, 'direct') AS channel
      |FROM a WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** TS8 — classical seasonal decomposition (trend + seasonal +
    * residual) of the monthly revenue series, with every component
    * derived from EXACT INTEGER numerators so the split is
    * bit-portable with zero rounding:
    *
    *  - trend: centered 13-month moving average. The frame sum S13 of
    *    integer cents is exact, so trend = S13/13 is one division.
    *  - detrended×13 = 13·c − S13 — an exact bigint (d13); dividing by
    *    13 is deferred so the seasonal fit below also has an integer
    *    numerator.
    *  - seasonal (per calendar month) = mean of detrended =
    *    Σd13 / (13·n) — integer numerator again.
    *  - residual = detrended − seasonal = (d13·n − Σd13) / (13·n).
    *
    * Aggregate-first discipline: the fact table collapses to one row
    * per month BEFORE any window; the ±6-row frame and the 12-group
    * seasonal partition then run over the bounded month relation
    * (edges without a full frame are trimmed, standard for a centered
    * MA). Over an unbounded span the month spine takes the same
    * two-pass treatment as q_concurrency. */
  def stlDecompose(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .select(date_trunc("month", to_date(col("o_orderdate"))).cast("date").as("month"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("c"))
      .groupBy(col("month")).agg(sum(col("c")).as("c"))
    val frame = Window.orderBy(col("month")).rowsBetween(-6, 6)
    val fit = monthly
      .withColumn("s13", sum(col("c")).over(frame))
      .withColumn("n13", count(lit(1)).over(frame))
      .filter(col("n13") === 13)
      .withColumn("d13", lit(13) * col("c") - col("s13"))
      .withColumn("moy", month(col("month")))
    val byMoy = Window.partitionBy(col("moy"))
    fit
      .withColumn("sn", sum(col("d13")).over(byMoy))
      .withColumn("ng", count(lit(1)).over(byMoy))
      .select(col("month"), col("c").as("cents"),
        (col("s13").cast("double") / 13.0).as("trend"),
        (col("sn").cast("double") / (lit(13.0) * col("ng").cast("double")))
          .as("seasonal"),
        ((col("d13") * col("ng") - col("sn")).cast("double") /
          (lit(13.0) * col("ng").cast("double"))).as("residual"))
      .orderBy(col("month"))
  }

  val stlDecomposeSql: String =
    """WITH m AS (SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
      |             AS DATE) AS month,
      |           sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |             AS c
      |         FROM orders GROUP BY 1),
      |f AS (SELECT month, c,
      |        CAST(sum(c) OVER w AS BIGINT) AS s13,
      |        count(*) OVER w AS n13
      |      FROM m WINDOW w AS (ORDER BY month
      |        ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
      |d AS (SELECT month, c, s13, 13 * c - s13 AS d13, month(month) AS moy
      |      FROM f WHERE n13 = 13),
      |g AS (SELECT month, c, s13, d13,
      |        CAST(sum(d13) OVER (PARTITION BY moy) AS BIGINT) AS sn,
      |        count(*) OVER (PARTITION BY moy) AS ng
      |      FROM d)
      |SELECT month, CAST(c AS BIGINT) AS cents,
      |  CAST(s13 AS DOUBLE) / 13.0 AS trend,
      |  CAST(sn AS DOUBLE) / (13.0 * CAST(ng AS DOUBLE)) AS seasonal,
      |  CAST(d13 * ng - sn AS DOUBLE) / (13.0 * CAST(ng AS DOUBLE)) AS residual
      |FROM g ORDER BY month""".stripMargin

  /** W22 — ratio-metric A/B readout via the delta method: the
    * continuous companion to q_ab_test's two-proportion z. Unit =
    * order; metric = revenue-per-quantity-unit R = Σx/Σy. Var(R) is
    * the first-order delta approximation (σx² − 2Rσxy + R²σy²) /
    * (n·ȳ²), computed from six EXACT power sums per variant (decimal
    * accumulation — cents² exceeds int64 at scale), so both engines
    * evaluate one identical IEEE chain from identical integers. One
    * partial/final aggregate over the per-order rollup; nothing else
    * moves. */
  def ratioTest(s: SparkSession, dir: String): DataFrame = {
    val D = (c: Column) => c.cast("double")
    val perOrder = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents"),
        col("l_quantity").cast("bigint").as("qty"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("cents")).as("x"), sum(col("qty")).as("y"))
      .withColumn("seg", pmod(col("l_orderkey"), lit(2)))
    val g = perOrder.groupBy(col("seg")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)")).as("sxx"),
      sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)")).as("syy"),
      sum(col("x").cast("decimal(19,0)") * col("y").cast("decimal(19,0)")).as("sxy"))
    // one row per variant: ratio + delta-method variance, the fixed
    // IEEE chain written identically in the oracle
    g.select(col("seg").cast("int").as("seg"), col("n"),
        col("sx").cast("long").as("sum_cents"), col("sy").cast("long").as("sum_qty"),
        (D(col("sx")) / D(col("sy"))).as("ratio"),
        (((D(col("sxx")) / D(col("n")) -
            (D(col("sx")) / D(col("n"))) * (D(col("sx")) / D(col("n")))) -
          lit(2.0) * (D(col("sx")) / D(col("sy"))) *
            (D(col("sxy")) / D(col("n")) -
              (D(col("sx")) / D(col("n"))) * (D(col("sy")) / D(col("n")))) +
          (D(col("sx")) / D(col("sy"))) * (D(col("sx")) / D(col("sy"))) *
            (D(col("syy")) / D(col("n")) -
              (D(col("sy")) / D(col("n"))) * (D(col("sy")) / D(col("n"))))) /
          (D(col("n")) * (D(col("sy")) / D(col("n"))) * (D(col("sy")) / D(col("n")))))
          .as("var_ratio"))
      .orderBy(col("seg"))
  }

  val ratioTestSql: String =
    """WITH po AS (SELECT l_orderkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS x,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem GROUP BY l_orderkey),
      |g AS (SELECT l_orderkey % 2 AS seg, count(*) AS n,
      |        sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |        sum(CAST(x AS HUGEINT) * x) AS sxx,
      |        sum(CAST(y AS HUGEINT) * y) AS syy,
      |        sum(CAST(x AS HUGEINT) * y) AS sxy
      |      FROM po GROUP BY 1)
      |SELECT CAST(seg AS INT) AS seg, n,
      |  CAST(sx AS BIGINT) AS sum_cents, CAST(sy AS BIGINT) AS sum_qty,
      |  CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio,
      |  ((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
      |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) -
      |    2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) *
      |      (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) -
      |        (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) +
      |    (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) *
      |      (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) -
      |        (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) /
      |    (CAST(n AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS var_ratio
      |FROM g ORDER BY seg""".stripMargin

  /** TS9 — seasonal-naive forecast backtest: forecast each month's
    * revenue as the SAME month last year (the baseline every real
    * forecaster must beat) and emit the per-month absolute percentage
    * error. Exact integer cents; the APE is one int/int IEEE division
    * per row — per-cell rows, not an order-dependent MAPE float sum
    * (the q_chi2_independence convention: the consumer's reduce is
    * order-controlled). One aggregate + one 12-lag window over the
    * bounded (priority × month) relation. */
  def seasonalForecast(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        date_trunc("month", to_date(col("o_orderdate"))).cast("date").as("month"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("c"))
      .groupBy(col("priority"), col("month")).agg(sum(col("c")).as("cents"))
    val w = Window.partitionBy(col("priority")).orderBy(col("month"))
    monthly
      .withColumn("fc_cents", lag(col("cents"), 12).over(w))
      .filter(col("fc_cents").isNotNull)
      .select(col("priority"), col("month"), col("cents"), col("fc_cents"),
        (abs(col("cents") - col("fc_cents")).cast("double") /
          col("cents").cast("double")).as("ape"))
      .orderBy(col("priority"), col("month"))
  }

  val seasonalForecastSql: String =
    """WITH m AS (SELECT o_orderpriority AS priority,
      |    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
      |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1, 2),
      |f AS (SELECT priority, month, cents,
      |        lag(cents, 12) OVER (PARTITION BY priority ORDER BY month)
      |          AS fc_cents
      |      FROM m)
      |SELECT priority, month, CAST(cents AS BIGINT) AS cents,
      |  CAST(fc_cents AS BIGINT) AS fc_cents,
      |  CAST(abs(cents - fc_cents) AS DOUBLE) / CAST(cents AS DOUBLE) AS ape
      |FROM f WHERE fc_cents IS NOT NULL
      |ORDER BY priority, month""".stripMargin

  /** TS12 — Kaplan-Meier survival curve over order-fulfillment
    * durations (days from order to first shipment), administratively
    * censored at 90 days — THE standard time-to-event readout
    * (survival S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) with censored orders
    * leaving the risk set without counting as events). Per-order
    * durations come from one fact aggregate; the KM recursion runs
    * over the BOUNDED duration spine (≤91 rows after censoring —
    * windowing it globally is a metadata-scale operation at any
    * corpus size). The cumulative product is exp(Σ ln(1 − dᵢ/nᵢ))
    * with each ln term floor-quantized to 1e-12 fixed point BEFORE
    * the ordered cumulative sum, so the product is exact-integer
    * arithmetic until one final exp — bit-portable; a step with
    * dᵢ = nᵢ (everyone dies) pins survival to exactly 0 from there
    * on via a flag, never a −∞ logarithm. */
  def survivalCurve(s: SparkSession, dir: String): DataFrame = {
    val dur = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(min(col("l_shipdate").cast("date")).as("first_ship"))
      .select(datediff(col("first_ship"), col("o_orderdate").cast("date")).as("dur"))
      .filter(col("dur") >= 0) // guard synthetic negative lags
      .select(least(col("dur"), lit(90)).as("t"),
        (col("dur") <= 90).cast("long").as("died"))
    // The spine is BOUNDED BY CONSTRUCTION (t = least(dur, 90) ∈
    // [0, 90] ⇒ ≤91 rows at ANY corpus size), so the Kaplan-Meier
    // suffix/cumulative machinery runs locally over the collected
    // rows (TradeGraph bounded-metadata pattern) instead of three
    // single-partition windows — the fact collapse above stays the
    // only distributed work. Identical arithmetic: exact integer
    // at-risk counts, the same floor(ln(..)·1e12) fixed-point log
    // terms (math.log/math.exp ARE Spark's ln/exp), same zeroed cap.
    val spine = graft.Bounded.collect(dur.groupBy(col("t"))
        .agg(sum(col("died")).as("d"), sum(lit(1L) - col("died")).as("c")),
      91, "rows (t = least(dur, 90)) in the survivalCurve spine")
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val totalLeave = spine.map(t => t._2 + t._3).sum
    var atRisk = totalLeave
    var lqCum = 0L
    var zeroed = false
    val out = spine.map { case (t, d, c) =>
      val n = atRisk
      val lq = if (d < n)
        math.floor(math.log((n - d).toDouble / n.toDouble) * 1e12).toLong
      else 0L
      lqCum += lq
      if (d == n) zeroed = true
      val survival = if (zeroed) 0.0 else math.exp(lqCum.toDouble / 1e12)
      atRisk -= d + c
      (t.toInt, n, d, c, survival)
    }
    import s.implicits._
    out.toSeq.toDF("t_days", "n_at_risk", "n_died", "n_censored", "survival")
      .orderBy(col("t_days"))
  }

  val survivalCurveSql: String =
    """WITH dur0 AS (SELECT o.o_orderkey,
      |    datediff('day', CAST(o.o_orderdate AS DATE),
      |      min(CAST(l.l_shipdate AS DATE))) AS dur
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY o.o_orderkey, o.o_orderdate),
      |d AS (SELECT least(dur, 90) AS t,
      |        CASE WHEN dur <= 90 THEN 1 ELSE 0 END AS died
      |      FROM dur0 WHERE dur >= 0),
      |spine AS (SELECT t, CAST(sum(died) AS BIGINT) AS d,
      |            CAST(sum(1 - died) AS BIGINT) AS c
      |          FROM d GROUP BY t),
      |r AS (SELECT t, d, c,
      |        CAST(sum(d + c) OVER (ORDER BY t
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      |          AS n_at_risk
      |      FROM spine),
      |q AS (SELECT t, d, c, n_at_risk,
      |        CASE WHEN d < n_at_risk
      |          THEN CAST(floor(ln(CAST(n_at_risk - d AS DOUBLE)
      |            / CAST(n_at_risk AS DOUBLE)) * 1e12) AS BIGINT)
      |          ELSE CAST(0 AS BIGINT) END AS lq,
      |        max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
      |          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
      |            AND CURRENT ROW) AS zeroed
      |      FROM r)
      |SELECT CAST(t AS INT) AS t_days, n_at_risk, d AS n_died,
      |  c AS n_censored,
      |  CASE WHEN zeroed = 1 THEN 0.0
      |       ELSE exp(CAST(CAST(sum(lq) OVER (ORDER BY t
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS DOUBLE) / 1e12) END AS survival
      |FROM q ORDER BY t_days""".stripMargin

  /** TS14 — Theil-Sen robust trend + Mann-Kendall test over the
    * monthly revenue series: the slope estimator that shrugs off the
    * outlier months OLS (q_regr_slope) chases, paired with the
    * distribution-free trend test. Monthly totals are exact integer
    * cents; every pairwise slope is ONE double division of exact
    * integers, so the pair set is bit-identical in any engine. The
    * median slope selects by row position over a total order
    * (slope, xa, xb) — the n_months² pair relation is bounded
    * (80 months → 3,160 pairs at any corpus size; the heavy scan is
    * the one monthly aggregate underneath), so the global row_number
    * windows metadata, never a fact table. Mann-Kendall S and
    * Kendall's tau come from the same exact pair signs. */
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .cast("bigint").as("x"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint").as("y"))
      .persistScoped() // self-joined for pairs + counted for n_months
    val pairs = m.select(col("x").as("xa"), col("y").as("ya"))
      .join(m.select(col("x").as("xb"), col("y").as("yb")), col("xa") < col("xb"))
      .select(col("xa"), col("xb"),
        ((col("yb") - col("ya")).cast("double") / (col("xb") - col("xa")))
          .as("slope"),
        when(col("yb") > col("ya"), 1L).when(col("yb") < col("ya"), -1L)
          .otherwise(0L).as("sgn"))
      .persistScoped() // ranked for the median + aggregated for S
    val ranked = pairs.withColumn("rn",
      row_number().over(Window.orderBy(col("slope"), col("xa"), col("xb"))))
    val st = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(col("sgn")).as("mk_s"))
    val months = m.agg(count(lit(1)).as("n_months"))
    val med = ranked.crossJoin(broadcast(st))
      .filter(col("rn") === expr("(n_pairs + 1) DIV 2")
        || col("rn") === expr("(n_pairs + 2) DIV 2"))
      .agg(avg(col("slope")).as("sen_slope"))
    months.crossJoin(broadcast(st)).crossJoin(broadcast(med))
      .select(col("n_months"), col("n_pairs"), col("sen_slope"), col("mk_s"),
        (col("mk_s").cast("double") / col("n_pairs")).as("kendall_tau"))
  }

  val theilSenSql: String =
    """WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
      |      AS BIGINT) AS x,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |p AS (SELECT a.x AS xa, b.x AS xb,
      |        CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope,
      |        CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
      |      FROM m a JOIN m b ON a.x < b.x),
      |r AS (SELECT slope, row_number() OVER (ORDER BY slope, xa, xb) AS rn
      |      FROM p),
      |st AS (SELECT count(*) AS n_pairs, CAST(sum(sgn) AS BIGINT) AS mk_s
      |       FROM p),
      |mm AS (SELECT count(*) AS n_months FROM m),
      |md AS (SELECT avg(slope) AS sen_slope FROM r CROSS JOIN st
      |       WHERE rn = (n_pairs + 1) // 2 OR rn = (n_pairs + 2) // 2)
      |SELECT n_months, n_pairs, sen_slope, mk_s,
      |  CAST(mk_s AS DOUBLE) / n_pairs AS kendall_tau
      |FROM mm CROSS JOIN st CROSS JOIN md""".stripMargin

  /** B20 — U-shaped (position-based) multi-touch attribution: each
    * purchase's credit splits 40/20/40 across the touches since the
    * user's previous purchase — first touch 40%, last touch 40%, the
    * middles share 20% — vs q_attribution's last-touch single-credit.
    * Purchases with no preceding touch in their segment credit
    * 'direct' in full (anti-join on covered segments).
    *
    * Determinism at scale: credits are INTEGER parts-per-million; the
    * middle share 200000 splits by largest-remainder (base = div,
    * the first `rem` middles get +1 ppm — q_proration's exact rule),
    * so per-conversion credit sums to exactly 1,000,000 ppm and the
    * channel totals are exact int64 sums with ONE final double
    * division. Shape: two keyed windows (user; user×segment) + one
    * aggregate — linear, no self-join against the event history. */
  def multitouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val marked = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("is_p", (col("event_type") === "purchase").cast("long"))
      .withColumn("p_before", coalesce(sum(col("is_p")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val purchases = marked.filter(col("is_p") === 1L)
      .select(col("user_id"), (col("p_before") + 1).as("seg"))
    val touches = marked.filter(col("is_p") === 0L)
      .withColumn("seg", col("p_before") + 1)
      .join(purchases, Seq("user_id", "seg"), "left_semi") // has a purchase
    val wSeg = Window.partitionBy(col("user_id"), col("seg"))
      .orderBy(col("sec"), col("event_id"))
    val credited = touches
      .withColumn("rn", row_number().over(wSeg).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("seg"))))
      .withColumn("ppm",
        when(col("n") === 1, 1000000L)
          .when(col("n") === 2, 500000L)
          .when(col("rn") === 1 || col("rn") === col("n"), 400000L)
          .otherwise(expr(
            "200000 div (n - 2) + IF(rn - 1 <= 200000 % (n - 2), 1, 0)")))
      .select(col("event_type").as("channel"),
        (col("user_id") * 10000 + col("seg")).as("conv"), col("ppm"))
    val direct = purchases
      .join(touches.select(col("user_id"), col("seg")).distinct(),
        Seq("user_id", "seg"), "left_anti")
      .select(lit("direct").as("channel"),
        (col("user_id") * 10000 + col("seg")).as("conv"),
        lit(1000000L).as("ppm"))
    credited.unionByName(direct)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("conv")).as("n_conversions"),
        sum(col("ppm")).as("sppm"))
      .select(col("channel"), col("n_touches"), col("n_conversions"),
        (col("sppm").cast("double") / 1e6).as("credit"))
      .orderBy(col("channel"))
  }

  val multitouchAttributionSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      |  FROM events),
      |m AS (SELECT *, coalesce(CAST(sum(is_p) OVER (PARTITION BY user_id
      |         ORDER BY sec, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |         0) AS p_before
      |      FROM e),
      |purchases AS (SELECT user_id, p_before + 1 AS seg FROM m WHERE is_p = 1),
      |touches AS (SELECT m.user_id, m.event_id, m.event_type, m.sec,
      |              m.p_before + 1 AS seg
      |            FROM m WHERE is_p = 0
      |              AND EXISTS (SELECT 1 FROM purchases p
      |                WHERE p.user_id = m.user_id AND p.seg = m.p_before + 1)),
      |t2 AS (SELECT event_type AS channel,
      |         user_id * 10000 + seg AS conv,
      |         row_number() OVER (PARTITION BY user_id, seg
      |           ORDER BY sec, event_id) AS rn,
      |         count(*) OVER (PARTITION BY user_id, seg) AS n
      |       FROM touches),
      |credited AS (SELECT channel, conv,
      |         CASE WHEN n = 1 THEN 1000000
      |              WHEN n = 2 THEN 500000
      |              WHEN rn = 1 OR rn = n THEN 400000
      |              ELSE 200000 // (n - 2)
      |                + (CASE WHEN rn - 1 <= 200000 % (n - 2) THEN 1 ELSE 0 END)
      |         END AS ppm
      |       FROM t2),
      |direct AS (SELECT 'direct' AS channel,
      |         p.user_id * 10000 + p.seg AS conv, 1000000 AS ppm
      |       FROM purchases p
      |       WHERE NOT EXISTS (SELECT 1 FROM touches t
      |         WHERE t.user_id = p.user_id AND t.seg = p.seg)),
      |allc AS (SELECT * FROM credited UNION ALL SELECT * FROM direct)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |  CAST(count(DISTINCT conv) AS BIGINT) AS n_conversions,
      |  CAST(CAST(sum(ppm) AS BIGINT) AS DOUBLE) / 1e6 AS credit
      |FROM allc GROUP BY channel ORDER BY channel""".stripMargin

  /** B24 — Markov removal-effect attribution (the data-driven
    * multi-touch model next to B10's last-touch and B20's U-shaped
    * position rule): per-user journeys truncate at the first
    * purchase, feed a first-order transition matrix over the FIXED
    * state space {start, click, view, signup, error} → {…, conv,
    * null}, and each channel's credit is its REMOVAL EFFECT — how
    * much the start→conv probability drops when journeys can no
    * longer pass through that channel (forcing its value to 0 in the
    * absorption equations).
    *
    * Determinism engineering: the state space is a fixed enum, so the
    * transition matrix PIVOTS into one wide row (p_src_tgt columns,
    * exact n/Σn divisions) and the absorption probabilities come from
    * 16 rounds of bounded-horizon VALUE ITERATION as a fixed
    * expression tree — v'_s = p_s_c1·v_c1 + … written in one declared
    * term order, so there is no float-summation order to drift (a
    * per-round SQL sum() would be order-nondeterministic). Both
    * engines run the identical 16 unrolled rounds; the emitted number
    * is the 16-step conversion probability, documented as such
    * (the fixpoint residual is geometric and identical on both
    * sides). Each round localCheckpoints the 1-row frame — without
    * truncation CollapseProject would substitute 16 rounds into one
    * exponentially-blown expression. Scale shape: the ONLY fact-table
    * work is the journey build (two keyed windows + one count
    * aggregate); everything after lives on a ≤5×6 matrix. */
  private val attrChannels = Seq("click", "view", "signup", "error")

  def markovAttribution(s: SparkSession, dir: String, rounds: Int = 16): DataFrame = {
    val sources = "start" +: attrChannels
    val targets = attrChannels ++ Seq("conv", "null")
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // journeys truncated at the first purchase (inclusive)
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("pb", sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).over(wU.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(coalesce(col("pb"), lit(0L)) === 0L)
      .withColumn("prev", lag(col("event_type"), 1).over(wU))
      .withColumn("nxt", lead(col("event_type"), 1).over(wU))
    val pairT = ev.select(coalesce(col("prev"), lit("start")).as("src"),
      when(col("event_type") === "purchase", "conv")
        .otherwise(col("event_type")).as("tgt"))
    val endT = ev.filter(col("nxt").isNull && col("event_type") =!= "purchase")
      .select(col("event_type").as("src"), lit("null").as("tgt"))
    val counts = pairT.unionAll(endT)
      .groupBy(col("src"), col("tgt")).agg(count(lit(1)).as("n"))
    val tot = counts.groupBy(col("src")).agg(sum(col("n")).as("tn"))
    val probs = counts.join(tot, Seq("src"))
      .select(col("src"), col("tgt"),
        (col("n").cast("double") / col("tn")).as("p"))
    // The matrix is BOUNDED BY CONSTRUCTION (|sources| × |targets| ≤
    // 5 × 6 plus any out-of-enum strays the guard rejects), so the
    // absorption machinery collapses to the driver: collect the ≤30
    // (src, tgt, p) cells (the TradeGraph bounded-metadata pattern)
    // and run the SAME 16 unrolled value-iteration rounds as plain
    // JVM doubles in the SAME declared term order — identical IEEE
    // ops, so the emitted numbers are bit-for-bit what the former
    // one-wide-row expression tree produced, without its 8
    // localCheckpoint jobs (~0.1 s each) per query. The oracle still
    // replays the identical 16 rounds in SQL.
    val pRows = graft.Bounded.collect(probs, sources.length * targets.length,
      "cells (|sources| × |targets|) in the attribution matrix")
    // loud coverage guard (unchanged semantics): any transition mass
    // OUTSIDE the fixed enum would silently vanish at the pivot while
    // still inflating tn — fail the query instead
    if (pRows.exists(r => !sources.contains(r.getString(0)) ||
        !targets.contains(r.getString(1))))
      throw new IllegalStateException("markovAttribution: event type " +
        "outside the declared state enum — extend attrChannels")
    val p: Map[(String, String), Double] =
      pRows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
        .withDefaultValue(0.0)
    val scns = ("full", "") +: attrChannels.map(c => (s"no_$c", c))
    // v(scn)(st), synchronous updates from the previous round — the
    // exact upd expression the wide-row select evaluated per round
    var v: Map[(String, String), Double] =
      scns.flatMap { case (scn, _) =>
        sources.map(st => (scn, st) -> 0.0) }.toMap
    for (_ <- 1 to rounds) {
      v = scns.flatMap { case (scn, removed) =>
        sources.map { st =>
          val terms = targets.map { t =>
            val vt = t match {
              case "conv" => 1.0
              case "null" => 0.0
              case c if c == removed => 0.0
              case c => v((scn, c))
            }
            p((st, t)) * vt
          }
          (scn, st) -> terms.reduce(_ + _) // left-assoc, targets order
        }
      }.toMap
    }
    val vFull = v(("full", "start"))
    val effs = attrChannels.map(c => c -> (vFull - v((s"no_$c", "start"))))
    val totEff = effs.map(_._2).reduce(_ + _) // left-assoc, channel order
    val out = effs.map { case (c, eff) =>
      (c, Conv.round6(vFull), Conv.round6(eff),
        Conv.round6(if (totEff != 0.0) eff / totEff else 0.0))
    }
    import s.implicits._
    out.toDF("channel", "conv_prob", "removal_effect", "share")
      .orderBy(col("channel"))
  }

  val markovAttributionSql: String = {
    val sources = "start" +: attrChannels
    val targets = attrChannels ++ Seq("conv", "null")
    val scns = ("full", "") +: attrChannels.map(c => (s"no_$c", c))
    val pSel = (for { s0 <- sources; t0 <- targets } yield
      s"coalesce(max(CASE WHEN src = '$s0' AND tgt = '$t0' " +
        s"THEN CAST(n AS DOUBLE) / tn END), 0.0) AS p_${s0}_${t0}")
      .mkString(",\n      |    ")
    val pKeep = sources.flatMap(s0 => targets.map(t0 => s"p_${s0}_${t0}"))
      .mkString(", ")
    val v0 = scns.flatMap { case (scn, _) =>
      sources.map(st => s"0.0 AS v_${scn}_$st") }.mkString(", ")
    val roundCtes = (1 to 16).map { r =>
      val upd = scns.flatMap { case (scn, removed) =>
        sources.map { st =>
          targets.map { t =>
            val vt = t match {
              case "conv" => "1.0"
              case "null" => "0.0"
              case c if c == removed => "0.0"
              case c => s"v_${scn}_$c"
            }
            s"p_${st}_$t * $vt"
          }.mkString(" + ") + s" AS v_${scn}_$st"
        }
      }.mkString(",\n      |    ")
      s"v$r AS (SELECT $pKeep,\n      |    $upd\n      |  FROM v${r - 1})"
    }.mkString(",\n      |")
    val effs = attrChannels.map(c =>
      s"v_full_start - v_no_${c}_start AS eff_$c").mkString(", ")
    val totEff = attrChannels.map(c => s"eff_$c").mkString(" + ")
    val outs = attrChannels.map(c =>
      s"""SELECT '$c' AS channel, round(v_full_start, 6) AS conv_prob,
         |  round(eff_$c, 6) AS removal_effect,
         |  round(CASE WHEN tot_eff <> 0.0 THEN eff_$c / tot_eff
         |        ELSE 0.0 END, 6) AS share FROM e2""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH j AS (SELECT user_id, ts, event_id, event_type,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
      |  FROM events),
      |t0 AS (SELECT user_id, ts, event_id, event_type FROM j
      |       WHERE coalesce(pb, 0) = 0),
      |l AS (SELECT user_id, event_type,
      |        lag(event_type) OVER w AS prev, lead(event_type) OVER w AS nxt
      |      FROM t0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |tr AS (SELECT coalesce(prev, 'start') AS src,
      |         CASE WHEN event_type = 'purchase' THEN 'conv'
      |              ELSE event_type END AS tgt FROM l
      |  UNION ALL SELECT event_type, 'null' FROM l
      |    WHERE nxt IS NULL AND event_type <> 'purchase'),
      |c AS (SELECT src, tgt, count(*) AS n FROM tr GROUP BY 1, 2),
      |tt AS (SELECT src, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY src),
      |v0 AS (SELECT $pSel,
      |    $v0
      |  FROM c JOIN tt USING (src)),
      |$roundCtes,
      |e AS (SELECT v_full_start, $effs FROM v16),
      |e2 AS (SELECT *, $totEff AS tot_eff FROM e)
      |$outs
      |ORDER BY channel""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_markov_attribution" -> ((s: SparkSession, d: String) => markovAttribution(s, d)),
    "q_attribution_multitouch" -> (multitouchAttribution _),
    "q_theil_sen" -> (theilSen _),
    "q_survival_curve" -> (survivalCurve _),
    "q_seasonal_forecast" -> (seasonalForecast _),
    "q_stl_decompose" -> (stlDecompose _),
    "q_ratio_test" -> (ratioTest _),
    "q_attribution" -> (attribution _),
    "q_lm_score" -> (lmScore _),
    "q_regr_slope" -> (regrSlope _),
    "q_ewma" -> (ewmaSpend _),
    "q_seq_pattern" -> (seqPattern _),
    "q_weighted_sample" -> ((s: SparkSession, d: String) => weightedSample(s, d)),
    "q_pmi" -> (pmi _),
  )

  val oracle: Map[String, String] = Map(
    "q_markov_attribution" -> markovAttributionSql,
    "q_attribution_multitouch" -> multitouchAttributionSql,
    "q_theil_sen" -> theilSenSql,
    "q_survival_curve" -> survivalCurveSql,
    "q_seasonal_forecast" -> seasonalForecastSql,
    "q_stl_decompose" -> stlDecomposeSql,
    "q_ratio_test" -> ratioTestSql,
    "q_attribution" -> attributionSql,
    "q_lm_score" -> lmScoreSql,
    "q_regr_slope" -> regrSlopeSql,
    "q_ewma" -> ewmaSpendSql,
    "q_seq_pattern" -> seqPatternSql,
    "q_weighted_sample" -> weightedSampleSql,
    "q_pmi" -> pmiSql,
  )
}
